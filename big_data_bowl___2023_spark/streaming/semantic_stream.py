"""Continuous embedding-space ingestion: the streaming face of
SemDeDup (dedup/semantic.py), mirroring the text-side curation loop
(streaming/curation.py) for vector corpora.

A production embedding corpus grows batch by batch (new documents are
embedded as they arrive); re-running whole-corpus semantic dedup per
batch is O(corpus) work per batch and — worse — RE-SHARDS the
cluster space every run, so yesterday's "kept" representative can
become today's "dropped" duplicate. The streaming contract instead
freezes the cluster boundaries once and admits greedily:

* the CODEBOOK is a versioned artifact (similarity/pq.save_codebooks)
  trained on the bootstrap corpus; every later batch assigns against
  it map-side (broadcast k×dim matrix), so cluster boundaries never
  move between batches;
* WITHIN a batch: pairs under the frozen codebook
  (``dedup.semantic.pairs_with_centroids`` — the ONE candidate→
  prefilter→verify chain, shared with the batch operator), connected
  components, keep the min-id member per near-dup group (the shared
  ``keep_min_per_component`` rule);
* AGAINST history: ``incremental_semantic_pairs(cents=...)`` — ONE
  new×corpus equi-join on the frozen cluster id; a batch row
  matching any corpus row ≥ threshold is rejected. The corpus is
  never re-paired against itself;
* STATE lives in durable artifacts (the corpus dir, the codebook
  file, and the dropped-ids dir), not stream state — restarts,
  redeploys, and checkpoint loss cannot lose membership, exactly
  like the curation loop's fingerprint index. Replayed batches are
  idempotent BOTH ways: previously-kept ids are excluded by the
  corpus anti-join, previously-DROPPED ids by the dropped-ids index
  — without the latter, a redelivered batch would re-adjudicate a
  dropped row against a corpus that lacks its within-batch witness
  (keep A of the chain A~B~C, replay, C's witness B is gone → C
  slips in). The dropped index closes exactly that hole.

Accepted recall trade (documented, inherent to frozen boundaries):
a near-dup pair straddling a frozen cluster boundary is not seen —
the same cross-cluster blindness as batch SemDeDup, plus drift as
the true distribution moves away from the bootstrap codebook. The
periodic batch compaction pass (a full ``semantic_dedup`` +
re-train) is the recovery mechanism, mirroring the bronze→silver
split of the text loop.

Reference scope note: north-star extension (SURVEY.md §2
extensions, E102); the reference has no streaming surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup.semantic import (
    incremental_semantic_pairs,
    keep_min_per_component,
    pairs_with_centroids,
    scaled_k,
)
from ..session import pin
from ..sources.io import (
    _stage_dir,
    _swap_dir,
    heal_state_dir,
    read_state_dir,
    replace_state_dir,
)
from .curation import (
    _corpus_swap_dirs,
    _heal_corpus,
    _read_parquet_if_present,
)

__all__ = ["compact_semantic_corpus", "make_semantic_ingest_batch_fn",
           "pairs_with_centroids"]


def compact_semantic_corpus(spark, out_dir: str, codebook_path: str,
                            threshold: float,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            dim: int = 64, n_iters: int = 4,
                            target_cluster: int = 250,
                            max_bucket: int | None = None,
                            assign_kernel: str | None = None,
                            verify_kernel: str | None = None,
                            prefilter_broadcast: bool | str = "auto") -> dict:
    """The periodic bronze→silver pass the ingest loop's recall trade
    defers to: re-run FULL batch semantic dedup over the accumulated
    corpus (fresh ``scaled_k`` codebook, so boundary-straddling
    near-dups the frozen clusters could not see are finally paired),
    rewrite the corpus, refresh the codebook artifact, and extend the
    dropped-ids index with the compaction's drops (UNION with the
    ingest-time drops, which must survive — see the in-code note).

    Run it with the stream STOPPED (or against a snapshot copy): it
    rewrites the same dirs the loop appends to. Write order: the
    compacted corpus is staged (``_compacting``) and the writer lease
    gated, then the codebook is saved, the dropped index replaced
    (`sources.io.replace_state_dir`), and the corpus swapped in last
    (parked at ``_compact_old``) — both through the crash-safe
    directory replace (`sources.io._swap_dir`), whose heal the loop
    and the next compaction run first. A crash before the swap
    leaves the old corpus live, beside a codebook and dropped index
    that already describe the compacted one: the next compaction
    re-derives all three from it.

    Returns ``{"before": n, "after": n, "dropped": n}`` — the audit
    record. Kernel kwargs are the corpus-scale settings, exactly as
    on the loop. Serialized by the writer lease (round 12 — "run
    with the stream stopped" is deployment policy; the lease is the
    mechanism that makes an overlap loud instead of corrupting)."""
    from ..sources.lease import writer_lease

    with writer_lease(spark, out_dir, "compact_semantic_corpus"):
        return _compact_semantic_unlocked(
            spark, out_dir, codebook_path, threshold, vec_col,
            id_col, dim, n_iters, target_cluster, max_bucket,
            assign_kernel, verify_kernel, prefilter_broadcast)


def _compact_semantic_unlocked(spark, out_dir, codebook_path,
                               threshold, vec_col, id_col, dim,
                               n_iters, target_cluster, max_bucket,
                               assign_kernel, verify_kernel,
                               prefilter_broadcast):
    from ..similarity.pq import save_codebooks, train_pq

    live, staged, parked = _corpus_swap_dirs(out_dir)
    _heal_corpus(spark, out_dir)
    corpus = _read_parquet_if_present(spark, out_dir)
    if corpus is None:
        return {"before": 0, "after": 0, "dropped": 0}
    corpus = pin(corpus)
    n = corpus.count()
    # n is NOT passed as train_pq's rowcount hint on purpose: the
    # hint skips the cap's TakeOrdered+repartition and makes centroid
    # sums layout-dependent — this pass must train exactly like batch
    # semantic_dedup (partitioning-invariant), the equivalence the
    # compaction test pins
    cents = train_pq(corpus, vec_col=vec_col, id_col=id_col, dim=dim,
                     m=1, k=scaled_k(n, target_cluster),
                     n_iters=n_iters,
                     assign_kernel=assign_kernel)[0]
    bcs: list = []
    try:
        pairs = pairs_with_centroids(
            corpus, cents, threshold, vec_col, id_col,
            max_bucket=max_bucket, assign_kernel=assign_kernel,
            verify_kernel=verify_kernel,
            prefilter_broadcast=prefilter_broadcast,
            broadcast_handle=bcs)
        kept = pin(keep_min_per_component(corpus, pairs, id_col))
        n_kept = kept.count()

        # staged before the first LIVE mutation, and the lease gated
        # (renew-or-abort): from the codebook refresh on, a dethroned
        # compactor would overwrite the new writer's artifacts
        _stage_dir(spark, kept.write, staged,
                   gate=(out_dir, "compact_semantic_corpus publish"))
        save_codebooks(spark, [cents], codebook_path)
        # the new dropped index is a UNION of the old one with the
        # compaction's drops — ids dropped during INGEST were never
        # in the corpus, so (corpus − kept) alone would forget them
        # and a later redelivery of their batch would re-adjudicate
        # them against a corpus missing their witnesses (the exact
        # hole the index closes). An ingest-dropped id can never
        # legitimately rejoin, so the union is strictly safe.
        dropped_dir = out_dir.rstrip("/") + "_dropped"
        new_drops = corpus.join(kept.select(id_col), id_col,
                                "left_anti").select(id_col)
        old_idx = read_state_dir(spark, dropped_dir)
        if old_idx is not None:
            new_drops = new_drops.unionByName(
                old_idx.select(id_col)).distinct()
        replace_state_dir(new_drops, dropped_dir)
        # the corpus swap, last. Successive passes are monotone, not
        # a one-step fixpoint: each retrain can expose pairs the
        # previous boundaries hid and drop a few more
        _swap_dir(spark, live, staged, parked)
    finally:
        for bc in bcs:
            bc.unpersist(blocking=False)
    return {"before": n, "after": n_kept, "dropped": n - n_kept}


def make_semantic_ingest_batch_fn(out_dir: str, codebook_path: str,
                                  threshold: float,
                                  dropped_dir: str | None = None,
                                  vec_col: str = "embedding",
                                  id_col: str = "vec_id",
                                  dim: int = 64,
                                  n_iters: int = 4,
                                  target_cluster: int = 250,
                                  max_bucket: int | None = None,
                                  max_cluster: int | None = None,
                                  assign_kernel: str | None = None,
                                  verify_kernel: str | None = None,
                                  prefilter_broadcast: bool | str = "auto"):
    """The continuous-ingestion LOOP for an embedding corpus: a
    ``foreachBatch`` function that semantically dedups each
    micro-batch — within itself AND against the accumulated corpus —
    under a FROZEN codebook, appends survivors to ``out_dir`` and
    dropped ids to ``dropped_dir`` (default ``out_dir + "_dropped"``;
    the replay index that makes redelivered batches fully
    idempotent). The first non-empty batch bootstraps: it is deduped
    against itself (training its own codebook at ``scaled_k`` of the
    batch), the codebook is saved to ``codebook_path``, and its
    survivors seed the corpus. Empty batches are no-ops — in
    particular an empty FIRST batch must not train (and freeze) a
    zero-centroid codebook. Returns the function for
    ``stream.writeStream.foreachBatch(...)`` — also directly callable
    with (batch_df, batch_id) for batch backfills.

    Write ordering is load-bearing, like the curation loop's
    bloom-before-index rule: codebook before corpus at bootstrap (a
    crash between leaves a codebook with no corpus — harmless,
    re-bootstrap overwrites — never a corpus whose boundaries would
    silently retrain), and dropped-ids before corpus on every batch
    (a crash between leaves dropped ids recorded with no survivors —
    the replay then re-admits the SAME survivor set, deterministic —
    never survivors without their dropped witnesses, which would
    re-adjudicate the remainder against a witness-less corpus).

    Kernel kwargs (``assign_kernel``/``verify_kernel``/
    ``prefilter_broadcast``) forward to every pairing stage — the
    corpus-scale settings; under ``prefilter_broadcast`` the
    per-batch gather broadcasts are freed eagerly after the writes
    (a stream processes thousands of batches). ``max_cluster`` is
    the mass-duplicate guard on the corpus side of the cross join
    (see ``incremental_semantic_pairs``)."""
    from ..similarity.pq import load_codebooks, save_codebooks, train_pq

    if dropped_dir is None:
        dropped_dir = out_dir.rstrip("/") + "_dropped"

    def _ingest(survivors: DataFrame, dropped_src: DataFrame) -> None:
        """Shared tail: dropped ids FIRST, then survivors (see the
        ordering note above). Renew-or-abort immediately before the
        durable appends (verdict r11 #1)."""
        from ..sources.lease import commit_gate

        commit_gate(survivors.sparkSession, out_dir,
                    "semantic_ingest publish")
        (dropped_src.select(id_col).distinct()
         .write.mode("append").parquet(dropped_dir))
        survivors.write.mode("append").parquet(out_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one maintenance writer per semantic corpus (r11 — the same
        # lease every index/curation writer holds): the out_dir lease
        # covers the paired codebook + dropped-ids artifacts, which
        # always travel together
        from ..sources.lease import writer_lease

        with writer_lease(spark, out_dir,
                          f"semantic_ingest_batch_{batch_id}"):
            return _process_locked(batch_df, batch_id)

    def _process_locked(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # heal killed compaction swaps BEFORE any read or append
        # (step 4 of `sources.io._swap_dir`): an unhealed corpus
        # would re-bootstrap a fresh codebook over this batch alone
        _heal_corpus(spark, out_dir)
        heal_state_dir(spark, dropped_dir)
        corpus = _read_parquet_if_present(spark, out_dir)
        bcs: list = []
        try:
            if corpus is None:
                batch_df = pin(batch_df)
                n = batch_df.count()
                if n == 0:
                    # an empty bootstrap must NOT freeze an empty
                    # codebook (every later real batch would assign
                    # against zero centroids forever)
                    return
                cents = train_pq(batch_df, vec_col=vec_col,
                                 id_col=id_col, dim=dim, m=1,
                                 k=scaled_k(n, target_cluster),
                                 n_iters=n_iters,
                                 assign_kernel=assign_kernel)[0]
                # gate the codebook freeze too (verdict r11 #1): a
                # dethroned bootstrap must not clobber the codebook
                # a new writer just trained
                from ..sources.lease import commit_gate

                commit_gate(spark, out_dir,
                            "semantic_ingest codebook publish")
                save_codebooks(spark, [cents], codebook_path)
                survivors = pin(_drop_within_batch(batch_df, cents,
                                                   bcs))
                _ingest(survivors,
                        batch_df.join(survivors.select(id_col),
                                      id_col, "left_anti"))
                return

            cents = load_codebooks(spark, codebook_path)[0]
            # replay idempotency, both directions: kept ids via the
            # corpus, dropped ids via the dropped index (and together
            # they enforce incremental_semantic_pairs' disjoint-id
            # precondition)
            fresh = batch_df.join(corpus.select(id_col), id_col,
                                  "left_anti")
            dropped_idx = read_state_dir(spark, dropped_dir)
            if dropped_idx is not None:
                fresh = fresh.join(dropped_idx.select(id_col),
                                   id_col, "left_anti")
            fresh = pin(fresh)
            cross = incremental_semantic_pairs(
                fresh, corpus, threshold, vec_col=vec_col,
                id_col=id_col, dim=dim, cents=cents,
                max_cluster=max_cluster,
                assign_kernel=assign_kernel,
                verify_kernel=verify_kernel,
                prefilter_broadcast=prefilter_broadcast,
                broadcast_handle=bcs)
            rejected = cross.select(
                F.col("vec_new").alias(id_col)).distinct()
            novel = fresh.join(rejected, id_col, "left_anti")
            survivors = pin(_drop_within_batch(novel, cents, bcs))
            _ingest(survivors,
                    fresh.join(survivors.select(id_col), id_col,
                               "left_anti"))
        finally:
            # per-batch gather broadcasts are O(corpus) bytes — free
            # them eagerly, not at GC's leisure (curation.py:254's
            # convention)
            for bc in bcs:
                bc.unpersist(blocking=False)

    def _drop_within_batch(df: DataFrame, cents: list,
                           bcs: list) -> DataFrame:
        """Resolve near-dups INSIDE one batch under the frozen
        codebook — the shared pair chain + keeper rule from
        dedup/semantic.py."""
        pairs = pairs_with_centroids(
            df, cents, threshold, vec_col, id_col,
            max_bucket=max_bucket, assign_kernel=assign_kernel,
            verify_kernel=verify_kernel,
            prefilter_broadcast=prefilter_broadcast,
            broadcast_handle=bcs)
        return keep_min_per_component(df, pairs, id_col)

    return process
