"""Streaming curation: the continuous-ingestion counterpart of the
batch curation pipeline (pipelines/curation.py).

A production corpus is not rebuilt from scratch per run — documents
arrive continuously, and the quality/dedup gates should run on
arrival so the persisted bronze layer is already clean. The stage
split is honest about what can stream:

Stream-safe stages (map-side or bounded keyed state):
* Gopher quality gate — per-row codegen flags, no state;
* learned quality filter — broadcast-model scoring, no state;
* PII redaction — regexp chain, no state;
* benchmark decontamination — the benchmark side is tiny (eval
  suites), so its distinct shingles collect to the driver once at
  plan-build time and the stream filter is a map-side
  ``array_intersect`` against that literal set — semantically the
  same ≥ ``min_overlap``-distinct-shared-shingles rule as the batch
  ``decontaminate`` (verified by a parity test);
* within-stream exact dedup — ``dropDuplicates`` on the content
  fingerprint (state = one entry per distinct fingerprint), or the
  watermark-bounded variant when an event-time column exists;
* against-history dedup — stream-static LEFT ANTI join on the
  persisted fingerprint index (no stream-side state buffering);
  optionally Bloom-gated (dedup/bloom.py): a mergeable filter
  artifact maintained alongside the index routes "definitely novel"
  rows around the join map-side, so the exact anti join's shuffle
  carries only true duplicates + ~fpr of the novel rows — at 100 TB
  the index probe stops being per-batch full-index work.

Corpus-GLOBAL stages cannot stream and are not faked here: repeated-
line removal, near-dup cluster resolution (MinHash/winnowing), DSIR
selection, per-source quotas, and shard packing all need the whole
corpus in one aggregation. They run as the periodic batch compaction
pass (pipelines/curation.curate_and_export) over the accumulated
stream output — the standard bronze→silver split for continuous
ingestion.

Reference scope note: north-star extension (SURVEY.md §2 extensions);
the reference has no streaming surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup.bloom import (
    bloom_exact_anti_join,
    bloom_parameters,
    bloom_summary,
)
from ..dedup.decontaminate import DEFAULT_NGRAM
from ..dedup.ngram import shingle_docs
from ..functions.quality_model import model_quality_filter
from ..functions.redact import redact_documents
from ..pipelines.curation import STAGE, STAGES, boundary, drop_lineage
from ..session import pin
from ..sources.io import _heal_dir, _stage_dir, _swap_dir, fs_path
from .dedup_stream import (
    incremental_dedup,
    incremental_dedup_watermarked,
)


def _read_parquet_if_present(spark, path: str) -> DataFrame | None:
    """Read a parquet dir, or None ONLY when it is genuinely absent
    or holds no parquet footers yet (the bootstrap states). Every
    other failure mode — permissions, torn files, transient storage
    errors mid-scan — re-raises: Spark surfaces dir-absent/empty as
    AnalysisException at read planning, while transient runtime
    faults surface as execution errors, so catching only the former
    cleanly separates 'nothing established yet' from 'retry me'.

    The genuinely-absent case is answered by a Hadoop-FS existence
    check BEFORE any read planning: letting `spark.read.parquet`
    discover the absence made `FileStreamSink.hasMetadata` log an
    80-line WARN stack per bootstrap probe (the unattributed py4j
    fragment leading BENCH_r15's stderr tail — verdict r15 #6), and
    a caught exception that still spams the driver log is not a
    clean probe. One `fs.exists` RPC against the same FileSystem the
    read would use — object-store-safe, no local-path assumption."""
    from pyspark.errors import AnalysisException

    fs, p = fs_path(spark, path.rstrip("/"))
    if not fs.exists(p):
        return None
    try:
        spark.catalog.refreshByPath(path)
        df = spark.read.parquet(path)
    except AnalysisException:
        return None
    df.limit(1).collect()   # probe the scan; runtime faults raise
    return df


def benchmark_shingle_set(benchmark: DataFrame, n: int = DEFAULT_NGRAM,
                          text_col: str = "text",
                          id_col: str = "bench_id") -> list[str]:
    """The benchmark's distinct word n-grams, collected driver-side.

    One tiny job at plan-build time — the same "benchmark is small"
    premise the batch path uses to broadcast it. The returned list is
    embedded as a literal array in the stream filter, so each
    micro-batch does zero extra jobs."""
    return [r.shingle for r in
            shingle_docs(benchmark, text_col, id_col, n)
            .select("shingle").distinct().collect()]


def stream_decontaminate(docs: DataFrame,
                         bench_shingles: "list[str] | Column",
                         n: int = DEFAULT_NGRAM, min_overlap: int = 1,
                         text_col: str = "text") -> DataFrame:
    """Drop documents sharing ≥ ``min_overlap`` distinct word n-grams
    with the benchmark set — map-side (works identically on a stream
    or a batch frame; no shuffle, no state).

    The doc's shingle array is ``dedup.ngram.shingle_array`` — the
    one shared (let-bound) shingle kernel, pre-explode — intersected
    with the literal benchmark array (set semantics — DISTINCT
    shared shingles). NULL text never matches (kept, like the batch
    path, whose shingle join produces no rows for it). The let
    binding matters exactly here: this filter runs over the inlined
    gopher/redaction upstream inside one micro-batch chain, where the
    old inline chain re-evaluated that upstream ~2n times per row
    (r16; measured 2.5x the filter cost at n=8).

    Semantics note vs batch ``decontaminate``: the count here is
    distinct shared shingles against the UNION of all benchmark
    items; the batch path counts per (doc, benchmark-item) pair. At
    ``min_overlap=1`` (the default, and the published-pipeline
    standard at n=8) the two are exactly equivalent — the parity
    test pins that. At ``min_overlap>1`` the stream filter is the
    STRICTER gate (shingles spread across different benchmark items
    still accumulate), which is the conservative direction for an
    on-arrival bronze gate; run the batch operator in the silver
    pass when per-item thresholds matter."""
    from pyspark.sql import Column

    if isinstance(bench_shingles, Column):
        # a pre-built literal array (see bench_shingle_array): Column
        # expressions are plan-independent, so a long-lived caller
        # constructs the (large) literal once and reuses it — per-
        # element `lit` calls cost one py4j round trip each, measured
        # ~1.2 s of pure driver time per micro-batch at a 2.1k-
        # shingle benchmark when rebuilt per plan
        bench_arr = bench_shingles
    else:
        if not bench_shingles:
            return docs
        bench_arr = F.array(*[F.lit(s) for s in bench_shingles])
    return docs.filter(
        stream_decon_condition(bench_arr, n, min_overlap, text_col))


def stream_decon_condition(bench_arr: "Column", n: int = DEFAULT_NGRAM,
                           min_overlap: int = 1,
                           text_col: str = "text") -> "Column":
    """The decontamination KEEP predicate as a reusable Column —
    plan-independent like the benchmark literal, so a long-lived
    caller (the ingest loop) builds it once per loop instead of per
    micro-batch (the shingle_array lambda conversion alone costs
    ~0.1 s of driver py4j per build)."""
    from ..dedup.ngram import shingle_array

    sh = shingle_array(F.col(text_col), n)
    if min_overlap == 1:
        # "shares >= 1 distinct shingle" is exactly arrays_overlap —
        # it probes the benchmark against a hash set of the DOC's
        # (small) shingle array and short-circuits on the first hit,
        # where array_intersect materializes the full intersection;
        # measured ~40% off the filter's scan time at a 2.1k-shingle
        # benchmark with identical survivors. NULL text stays kept
        # via the same coalesce (overlap of a NULL array is NULL).
        return F.coalesce(~F.arrays_overlap(sh, bench_arr), F.lit(True))
    n_shared = F.size(F.array_intersect(sh, bench_arr))
    return F.coalesce(n_shared < min_overlap, F.lit(True))


def _stream_batch_audit(batch_df: DataFrame,
                        captured: list[tuple[str, DataFrame]],
                        min_words: int) -> DataFrame:
    """(doc_id, source, stage, reason, detail) for ONE micro-batch:
    each input doc's FIRST dropping stage, or ``stage="kept"`` — the
    streaming face of :func:`pipelines.curation.curation_audit`
    (verdict r11 #8: at 100 TB curation runs AS the streaming loop,
    and "why did doc X vanish" must be answerable there too). The
    same :func:`~pipelines.curation.drop_lineage` walk over the
    ``curate_document_stream`` boundaries: the Gopher gate names its
    first failing rule, the within-batch exact dedup names the kept
    twin sharing the post-redaction fingerprint, and against-history
    drops are ``history_duplicate``. Under the FUSED chain (a
    ``curation_flags`` boundary is present) the map-side stages are
    attributed from ONE read of the pinned flags instead of
    anti-joins; the dedup/history stages keep the join mechanics
    (their survivor sets come from real shuffles)."""
    from ..functions import text as Tx

    def redacted_twin(dropped, frame):
        # survivors carry the fingerprint the dedup keyed on; recompute
        # it for the drop-sized subset from the text the dedup SAW —
        # the boundary before it (post-redaction: raw batch text would
        # mis-fingerprint any doc the redaction rewrote). History drops
        # at the NEXT boundary share this fingerprint space, so the
        # twin is always a doc the batch kept at this stage.
        keys = [k for k, _ in captured]
        i = keys.index("after_stream_dedup")
        seen = captured[i - 1][1] if i else batch_df
        return (dropped.drop("detail")
                .join(seen.select("doc_id", "text"), "doc_id")
                .withColumn("fingerprint", Tx.fingerprint(F.col("text")))
                .join(frame.select("fingerprint", F.col("doc_id")
                                   .cast("string").alias("detail")),
                      "fingerprint", "left")
                .select("doc_id", "source", "stage", "reason", "detail"))

    return drop_lineage(batch_df, captured, min_words,
                        enrich={"after_stream_dedup": redacted_twin})


def make_curation_ingest_batch_fn(out_dir: str, index_dir: str,
                                  benchmark: DataFrame | None = None,
                                  quality_model=None,
                                  quality_model_threshold: float = 0.5,
                                  min_words: int = 50,
                                  decontaminate_n: int = DEFAULT_NGRAM,
                                  min_overlap: int = 1,
                                  bench_text_col: str = "text",
                                  bench_id_col: str = "bench_id",
                                  bloom_dir: str | None = None,
                                  bloom_expected_keys: int = 1_000_000,
                                  bloom_fpr: float = 0.01,
                                  audit_dir: str | None = None,
                                  html_input: bool = False,
                                  lang_keep: list | None = None):
    """The continuous-ingestion LOOP: a ``foreachBatch`` function that
    curates each micro-batch against the CURRENT membership index,
    appends the survivors to ``out_dir``, and appends their
    fingerprints to ``index_dir`` — so cross-batch dedup state lives
    in the index (a durable parquet artifact that survives restarts,
    redeployments, and checkpoint loss), not in stream state.

    Within a batch: the stream-safe gates + first-per-fingerprint;
    across batches: the anti join against the index that the
    processor itself just updated. The first batch bootstraps both
    directories. Returns the function to pass to
    ``stream.writeStream.foreachBatch(...)`` — also directly callable
    with (batch_df, batch_id) for batch backfills.

    ``bloom_dir`` (optional) turns on the Bloom gate: the loop
    maintains an APPEND-ONLY dir of per-batch ``bloom_summary``
    artifacts over the same fingerprints it indexes, and each batch's
    against-history check becomes :func:`~...dedup.bloom.
    bloom_exact_anti_join` — same exact answer (zero false negatives;
    parity-tested), but only the filter's "maybe" rows reach the
    index join. Appends never rewrite old artifact rows (OR is
    idempotent; ``bloom_bytes`` folds duplicate words). Sizing is
    fixed at bootstrap from ``bloom_expected_keys``/``bloom_fpr`` —
    size for the corpus's LIFETIME distinct-fingerprint count, not
    one batch (an overfull filter degrades to more "maybe" rows, i.e.
    gradually back to plain anti-join cost, never to wrong answers).
    A pre-existing index without a filter is bootstrapped by one full
    index scan on the first gated batch.

    ``audit_dir`` (optional, verdict r11 #8) makes every micro-batch
    also emit its per-doc first-dropping-stage lineage — the
    :func:`_stream_batch_audit` frame — under
    ``audit_dir/batch=N`` (a partition-style layout: reading the
    root yields the whole history with ``batch`` as a column). Each
    batch OVERWRITES its own subdir, so a foreachBatch replay never
    duplicates lineage rows. Replay content tracks the DURABLE
    state, like every other artifact this loop writes: a crash
    before the fingerprint-index append replays to identical
    lineage; a replay after it reads the batch's own survivors as
    ``history_duplicate`` — true at read time (their content is
    already served; the corpus append drops them the same way), so
    the audit never claims a doc was kept twice. The audit rides
    the single-pass
    ``stage_hook`` protocol (each boundary pinned once; the chain
    still evaluates once), so the per-batch overhead is the pins +
    drop-sized enrichment joins, not extra pipeline evaluations."""
    # The benchmark frame is fixed for the lifetime of the loop, so
    # its distinct-shingle collection — a full shingle job — runs
    # ONCE at the first batch and rides the closure afterwards. A
    # stream processes thousands of batches; re-collecting an
    # identical literal set per batch was one whole Spark job of
    # pure overhead each time (guide §4.5's once-per-task rule,
    # applied at the loop grain). The literal array COLUMN is cached
    # too: Column expressions are plan-independent, and rebuilding a
    # 2k-element literal costs ~1.2 s of driver py4j time per batch.
    # ``None`` = not yet computed; ``[]`` = computed and empty.
    bench_shingle_cache: list = [None]
    # per-loop Column cache (curate_document_stream's ``expr_cache``):
    # the gate expressions depend only on this factory's constant
    # arguments, so batches after the first reuse the built Columns
    # instead of re-paying the py4j construction per micro-batch
    expr_cache: dict = {}

    def _bench_shingles():
        if benchmark is None:
            return None
        if bench_shingle_cache[0] is None:
            shingles = benchmark_shingle_set(
                benchmark, decontaminate_n, bench_text_col,
                bench_id_col)
            bench_shingle_cache[0] = \
                F.array(*[F.lit(s) for s in shingles]) \
                if shingles else []
        return bench_shingle_cache[0]

    def _read_bloom_dir(spark):
        """(artifact df | None, dir params | None). Params come from
        the DIR whenever it exists — never from the constructor args
        once a dir is established — so a bootstrap append can only
        ever happen against a genuinely absent dir. A transient read
        failure on an established dir RE-RAISES (the batch retries)
        instead of masquerading as dir-absent, which would append
        constructor-parameter summaries into a dir built with
        different parameters and brick every later batch."""
        df = _read_parquet_if_present(spark, bloom_dir)
        if df is None:
            return None, None
        p = df.select("num_bits", "num_hashes").distinct().collect()
        if len(p) != 1:
            raise ValueError(
                f"bloom dir {bloom_dir} mixes filter parameters "
                f"{p}; it is not a single loop's artifact dir")
        return df, (int(p[0]["num_bits"]), int(p[0]["num_hashes"]))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one maintenance writer per curated corpus: the batch holds
        # the out_dir lease (which by convention covers the paired
        # fingerprint index + bloom dirs — they always travel
        # together) so a racing snapshot-diff apply or compaction
        # fails loudly instead of interleaving (verdict r10 #2)
        from ..sources.lease import writer_lease

        with writer_lease(spark, out_dir,
                          f"curation_ingest_batch_{batch_id}"):
            return _process_locked(batch_df, batch_id)

    def _process_locked(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # heal a killed compaction swap BEFORE any append (step 4
        # of `sources.io._swap_dir`)
        _heal_corpus(spark, out_dir)
        # dir-absent → bootstrap; any OTHER read failure raises (a
        # transient error treated as 'no history' would silently
        # admit every duplicate in this batch)
        history = _read_parquet_if_present(spark, index_dir)
        history_bloom = None
        bloom_params = None
        if bloom_dir is not None:
            history_bloom, dir_params = _read_bloom_dir(spark)
            bloom_params = dir_params or bloom_parameters(
                bloom_expected_keys, bloom_fpr)
            if history is not None and history_bloom is None:
                # index exists but no filter yet: bootstrap from the
                # full index once, so the no-false-negative premise
                # holds from the first gated batch. bloom_params
                # stays the tuple just written — no second parameter
                # inference to drift from the write. Gate first
                # (review r12): this is a durable append inside the
                # leased scope — a zombie batch appending summaries
                # built with its OWN constructor parameters into a
                # successor's rebuilt dir would make every later
                # batch's _read_bloom_dir raise "mixes filter
                # parameters"
                from ..sources.lease import commit_gate

                commit_gate(spark, out_dir,
                            "curation ingest bloom bootstrap")
                bloom_summary(history, "fingerprint",
                              *bloom_params) \
                    .write.mode("append").parquet(bloom_dir)
                spark.catalog.refreshByPath(bloom_dir)
                history_bloom = spark.read.parquet(bloom_dir)
            if history is None:
                history_bloom = None    # nothing to gate against
        probe_bcs: list = []
        captured: list[tuple[str, DataFrame]] = []
        # the LAST boundary is what _process_locked pins as `curated`
        # anyway — capture records it lazily and the pinned frame is
        # patched back in below, so the final boundary is
        # materialized once, not twice (r17)
        last_key = ("after_history_dedup" if history is not None
                    else "after_stream_dedup")

        def capture(key: str, frame: DataFrame) -> DataFrame:
            # pin each MATERIALIZATION boundary so the audit's
            # anti-joins read a materialization instead of re-running
            # the chain prefix (the curation_audit single-pass
            # protocol). Blocks free when the batch function's
            # references drop — same GC-release rationale as the
            # marker snapshot cache. Three key classes are NOT
            # pinned:
            # * stream_input — the audit reads input ids from
            #   batch_df directly (review r12);
            # * the fused map-side boundaries (r17) — the flag and
            #   projection stages after ``curation_flags``: cumulative
            #   FILTERS over that pinned frame; pinning a
            #   filter-of-a-checkpoint re-materializes the same bytes
            #   for nothing;
            # * the final boundary — _process_locked pins the chain
            #   result as ``curated`` and patches it back in.
            if key == "stream_input":
                return frame
            fused = any(k == "curation_flags" for k, _ in captured)
            if key == last_key or (fused and STAGE[key].kind in (
                    "flag", "projection")):
                captured.append((key, frame))
                return frame
            pinned = pin(frame)
            captured.append((key, pinned))
            return pinned

        try:
            curated = curate_document_stream(
                batch_df, history=history, benchmark=benchmark,
                bench_shingles=_bench_shingles(),
                quality_model=quality_model,
                quality_model_threshold=quality_model_threshold,
                min_words=min_words, decontaminate_n=decontaminate_n,
                min_overlap=min_overlap,
                bench_text_col=bench_text_col,
                bench_id_col=bench_id_col,
                history_bloom=history_bloom,
                broadcast_handle=probe_bcs,
                html_input=html_input, lang_keep=lang_keep,
                stage_hook=capture if audit_dir is not None else None,
                expr_cache=expr_cache)
            curated = pin(curated, truncate=True)
            if captured and captured[-1][0] == last_key:
                # the final boundary was recorded lazily (capture
                # skips it); the pin above IS its materialization —
                # hand that to the audit so its joins never re-run
                # the dedup/anti-join suffix
                captured[-1] = (last_key, curated)
            # renew-or-abort immediately before the batch's first
            # durable write (verdict r11 #1): a batch stalled past
            # the TTL must not append beside a new writer
            from ..sources.lease import commit_gate

            commit_gate(spark, out_dir,
                        f"curation_ingest_batch_{batch_id} publish")
            curated.drop("fingerprint").write.mode("append") \
                .parquet(out_dir)
            # the dedup key is already attached (post-redaction text
            # fingerprint, consistent across batches) — index it
            # as-is. APPEND ORDER IS LOAD-BEARING: the filter goes
            # first so a crash between the two writes leaves the
            # filter AHEAD of the index (harmless: "maybe" rows
            # still hit the exact join) — never BEHIND it, which
            # would silently admit duplicates forever after.
            new_fps = curated.select("fingerprint").distinct()
            if bloom_dir is not None:
                # consumed twice (filter summary + index append):
                # pin so the distinct runs once. ``curated`` is
                # already a truncated pin, so the lineage below this
                # point never reaches the target paths either way —
                # with a single consumer (no bloom gate) the pin is
                # one whole materialization job of pure overhead per
                # batch and the write below consumes the distinct
                # directly.
                new_fps = pin(new_fps, truncate=True)
                bloom_summary(new_fps, "fingerprint", *bloom_params) \
                    .write.mode("append").parquet(bloom_dir)
            new_fps.write.mode("append").parquet(index_dir)
            if audit_dir is not None:
                # per-batch OVERWRITE into batch=N: a replayed batch
                # rewrites identical lineage (idempotent); distinct
                # batches never touch each other's subdirs
                _stream_batch_audit(batch_df, captured, min_words) \
                    .write.mode("overwrite") \
                    .parquet(f"{audit_dir}/batch={batch_id}")
        finally:
            # per-batch probe broadcasts (MB-scale dense filters)
            # are freed eagerly, not left to driver GC — a stream
            # processes thousands of batches
            for bc in probe_bcs:
                bc.unpersist(blocking=False)

    return process


def curate_document_stream(stream_docs: DataFrame,
                           history: DataFrame | None = None,
                           benchmark: DataFrame | None = None,
                           quality_model=None,
                           quality_model_threshold: float = 0.5,
                           min_words: int = 50,
                           decontaminate_n: int = DEFAULT_NGRAM,
                           min_overlap: int = 1,
                           ts_col: str | None = None,
                           dedup_delay: str | None = None,
                           bench_text_col: str = "text",
                           bench_id_col: str = "bench_id",
                           history_bloom: DataFrame | None = None,
                           broadcast_handle: list | None = None,
                           html_input: bool = False,
                           lang_keep: list | None = None,
                           stage_hook=None,
                           bench_shingles: list[str] | None = None,
                           expr_cache: dict | None = None
                           ) -> DataFrame:
    """The stream-safe curation stages composed over a document
    stream (or a batch frame — every stage is trigger-agnostic):

        Gopher gate → [learned quality filter] → PII redaction →
        [map-side decontamination] → within-stream exact dedup →
        [against-history anti join]

    The output carries a ``fingerprint`` column (the dedup key) so
    the sink can feed the historical index directly. With ``ts_col``
    + ``dedup_delay`` the dedup state is watermark-bounded
    (re-emission past the horizon reconciles against ``history`` —
    see incremental_dedup_watermarked); otherwise state is one entry
    per distinct fingerprint.

    Corpus-global stages (line scrub, near-dup resolution, quotas,
    packing) intentionally have no streaming analogue — run the batch
    pipeline periodically over this stream's accumulated output.

    ``history_bloom`` (a dedup/bloom.py artifact covering EVERY
    fingerprint in ``history`` — a stale filter breaks the
    no-false-negative premise) upgrades the against-history anti join
    to the Bloom-gated exact form: identical answer, join shuffle
    bounded by the "maybe" rows.

    ``stage_hook(key, frame)`` — the hook protocol of
    :func:`pipelines.curation.curation_frame` (verdict r11 #8), at
    every doc-grain boundary in ``STAGES`` order (so an audit capture
    can pin each boundary and the chain evaluates once). Hooks that
    pin are for BATCH frames (foreachBatch / backfills) — a hook on a
    genuine readStream frame must stay lazy.

    ``expr_cache`` — an optional caller-owned dict the gate Columns
    are memoized into (r16): the predicates/projections built here
    are plan-independent and loop-constant, so a foreachBatch caller
    passes one dict per loop and pays their py4j construction once
    instead of per micro-batch. Must be dropped if any constructor
    argument changes; ``make_curation_ingest_batch_fn`` scopes one
    per loop."""
    def hook(key: str, frame: DataFrame) -> DataFrame:
        return boundary(stage_hook, key, frame)

    if expr_cache is not None:
        # config fingerprint (ADVICE r16): the cached Columns are only
        # valid for the constructor arguments they were built from —
        # a dict shared across differing configs would silently filter
        # with stale predicates. The fingerprint is stored on first
        # use and mismatched reuse fails loudly. Column-typed
        # bench_shingles participate by object identity: the literal
        # array is built once per loop and reused (the id is stable
        # exactly as long as the cache should be).
        _fp = (min_words, tuple(lang_keep) if lang_keep is not None
               else None, decontaminate_n, min_overlap,
               bool(html_input),
               id(bench_shingles)
               if not isinstance(bench_shingles, (list, type(None)))
               else None)
        seen = expr_cache.setdefault("__config", _fp)
        if seen != _fp:
            raise ValueError(
                "curate_document_stream: expr_cache was built for a "
                f"different configuration ({seen} != {_fp}) — pass "
                "one dict per loop configuration")

    def expr(key, build):
        # ``expr_cache`` (r16), keyed by the boundary the Column
        # gates: gate predicates/projections are plan-independent
        # Column expressions whose only inputs are the loop-constant
        # arguments, but BUILDING them costs driver py4j round trips
        # per F.* call (~0.23 s/chain; the shingle-lambda conversion
        # alone ~0.1 s). A long-lived caller passes one dict per loop
        # and every micro-batch after the first reuses the built
        # Columns — the same once-per-loop hoist as the
        # benchmark-shingle literal. One-shot callers pass nothing and
        # build fresh, same expressions either way.
        if expr_cache is None:
            return build()
        col = expr_cache.get(key)
        if col is None:
            col = expr_cache[key] = build()
        return col

    out = hook("stream_input", stream_docs)
    if html_input:
        # web-crawl front door, stream-safe by construction: a pure
        # projection (functions/html.py), no state, no shuffle —
        # the same opt-in stage the batch chain runs, so an ingest
        # loop pointed at raw crawl pages curates prose, not tag soup
        from ..functions.html import extract_html_text
        out = hook("after_html_extract",
                   out.withColumn("text", expr(
                       "after_html_extract",
                       lambda: extract_html_text(F.col("text")))))
    from pyspark.sql import Column

    from ..functions.gopher import all_pass as gopher_all_pass
    from ..functions.redact import redact_text
    from ..functions.text import detect_lang

    # the row-local flag gates, by boundary key: each one's KEEP
    # predicate (None: the stage runs but keeps every row — a
    # benchmark with no shingles). ``STAGES`` orders them.
    gates = {"after_gopher": expr(
        "after_gopher",
        lambda: gopher_all_pass(F.col("text"), min_words=min_words))}
    if lang_keep is not None:
        # language gate before quality (CCNet order)
        gates["after_lang_filter"] = expr(
            "after_lang_filter",
            lambda: detect_lang(F.col("text")).isin(list(lang_keep)))
    if benchmark is not None:
        # ``bench_shingles`` lets a long-lived caller (the ingest
        # loop) collect the benchmark's shingle set once and reuse it
        # across batches instead of re-running the collection job at
        # every plan build; passing the frame alone keeps the
        # one-shot call sites unchanged. Only the loop's literal
        # Column is cacheable (a list's contents are not in the
        # expr_cache config fingerprint).
        shingles = bench_shingles if bench_shingles is not None \
            else benchmark_shingle_set(
                benchmark, decontaminate_n, bench_text_col,
                bench_id_col)
        if isinstance(shingles, Column):
            gates["after_decontamination"] = expr(
                "after_decontamination",
                lambda: stream_decon_condition(
                    shingles, decontaminate_n, min_overlap))
        else:
            gates["after_decontamination"] = stream_decon_condition(
                F.array(*[F.lit(s) for s in shingles]),
                decontaminate_n, min_overlap) if shingles else None
    red = expr("after_redaction", lambda: redact_text(F.col("text")))

    # FUSED map-side prefix under a stage_hook (r17, guide §2.4/§1.2):
    # with an audit hook attached, every map-side boundary used to be
    # pinned separately — lang survivors, gopher survivors, the
    # redacted frame, decon survivors — i.e. up to four full
    # materializations of overlapping row sets per micro-batch
    # (builder-measured: the 6 audit pins cost ~0.85 s/batch, the
    # dominant audit overhead). All of those gates are pure row-local
    # expressions over one scan, so the hooked chain computes ONE
    # flag projection — (…, __lang, __gopher, redacted text,
    # __decon) — hands it to the hook as the ``curation_flags``
    # boundary (the audit pins exactly this one frame), and every
    # boundary after it is a cumulative FILTER over those
    # materialized flag columns: the boundaries and the chain read
    # the same pinned flags, so lineage content cannot diverge from
    # the chain definition (the audit's row sets are bit-identical to
    # the sequential gates — flags are independent per-row
    # predicates; parity pinned by the audit suite). Trade, stated:
    # flags evaluate on EVERY input row (the sequential chain skips
    # e.g. the decon shingle build for gopher-dropped rows), which
    # buys back ~3 materialization jobs per batch — the right side of
    # the trade whenever most rows pass, and only the hooked (audit)
    # path pays it; the un-hooked chain is untouched. The redacted
    # text is projected FIRST and the flags of gates AFTER redaction
    # (``__decon``) computed over the projected attribute in a SECOND
    # select: CollapseProject refuses to inline the non-cheap
    # redaction regex chain into two consumers, so redaction still
    # evaluates once per row. quality_model breaks the map-side run
    # (a model scorer between gopher and redaction), so that
    # configuration keeps the sequential per-boundary shape.
    fused = stage_hook is not None and quality_model is None
    if fused:
        # flags of gates before the redaction read the raw text,
        # those after it the redacted text
        red_at = list(STAGE).index("after_redaction")
        pre, post = [], []
        for i, s in enumerate(STAGES):
            if gates.get(s.key) is not None:
                (pre if i < red_at else post).append(
                    gates[s.key].alias(s.flag))
        flagged = out.select(
            *[red.alias("text") if c == "text" else F.col(c)
              for c in out.columns], *pre)
        if post:
            flagged = flagged.select("*", *post)
        out = hook("curation_flags", flagged)
    for s in STAGES:
        if s.key in gates:
            if gates[s.key] is not None:
                out = out.filter(F.col(s.flag) if fused
                                 else gates[s.key])
        elif s.key == "after_model_quality" and quality_model is not None:
            out = model_quality_filter(
                out, quality_model,
                threshold=quality_model_threshold).drop("quality_prob")
        elif s.key == "after_redaction":
            # rewrites text, never drops — the boundary exists so an
            # audit hook can capture the POST-redaction text the
            # dedup fingerprint keys on
            if not fused:
                out = out.withColumn("text", red)
        else:
            continue
        out = hook(s.key, out)
    if fused:
        out = out.drop(*{s.flag for s in STAGES if s.flag})
    if ts_col is not None and dedup_delay is not None:
        out = hook("after_stream_dedup",
                   incremental_dedup_watermarked(out, ts_col,
                                                 dedup_delay))
    else:
        out = hook("after_stream_dedup", incremental_dedup(out))
    if history is not None:
        if history_bloom is not None:
            out = bloom_exact_anti_join(out, "fingerprint", history,
                                        "fingerprint", history_bloom,
                                        broadcast_handle)
        else:
            out = out.join(history, "fingerprint", "left_anti")
        out = hook("after_history_dedup", out)
    return out



# ------------------------------------------------------------------
# Snapshot-diff-driven incremental reprocessing (E117, round 10):
# reconcile the ingest loop's curated state with a NEW corpus
# snapshot by processing only what changed. Composes io.corpus_diff /
# publish_snapshot with the loop above; the tombstone design keeps
# corpus rewrites out of the hot path (append-only tombstone index +
# map-side fingerprint anti-join view; `compact_curated` applies them
# physically on the maintenance schedule).


def _tombstone_dir(out_dir: str) -> str:
    return out_dir.rstrip("/") + "_tombstones"


def _corpus_swap_dirs(out_dir: str) -> tuple[str, str, str]:
    """(live, staged, parked) of a corpus dir the loops append to —
    the names `compact_curated` and `compact_semantic_corpus` hand
    the crash-safe directory replace (`sources.io._swap_dir`)."""
    live = out_dir.rstrip("/")
    return live, live + "_compacting", live + "_compact_old"


def _heal_corpus(spark, out_dir: str) -> bool:
    """The heal step (`sources.io._heal_dir`) for a corpus dir. Every
    WRITER that touches ``out_dir`` calls it before reading or
    appending (the ingest loops, snapshot applies via the loop, and
    the compactions)."""
    live, _, parked = _corpus_swap_dirs(out_dir)
    return _heal_dir(spark, live, parked)


def read_curated(spark, out_dir: str) -> DataFrame:
    """The LIVE curated corpus: the loop's appended output minus the
    tombstoned rows. Tombstones are (doc_id, fingerprint-of-stored-
    text) pairs, so the anti-join hides exactly the superseded
    VERSION of a document — a re-curated replacement under the same
    id (different stored text → different fingerprint) stays
    visible. The fingerprint is computed map-side at read (one
    codegen md5 over the stored text — no corpus rewrite, no
    shuffle; tombstones are diff-sized and broadcast), matching the
    physical-rewrite semantics `compact_curated` applies later."""
    from ..dedup.exact import fingerprint_docs
    from ..sources.io import read_state_dir

    corpus = spark.read.parquet(out_dir)
    tombs = read_state_dir(spark, _tombstone_dir(out_dir))
    if tombs is None:
        return corpus
    return (fingerprint_docs(corpus)
            .join(F.broadcast(tombs.select("doc_id", "fingerprint")
                              .distinct()),
                  ["doc_id", "fingerprint"], "left_anti")
            .drop("fingerprint"))


def compact_curated(spark, out_dir: str) -> dict:
    """Apply the tombstones PHYSICALLY: rewrite the corpus dir to the
    `read_curated` view and clear the tombstone index — the
    bronze-layer maintenance pass that keeps the map-side anti-join's
    broadcast small. The corpus goes live through the crash-safe
    directory replace (`sources.io._swap_dir`, gated by the writer
    lease), and the tombstone dir is cleared LAST (a crash before the
    clear leaves tombstones referencing rows already gone — the
    anti-join is then a no-op, never wrong). Stop-the-world per
    directory like every swap compactor here — schedule when no
    reader is mid-scan. Returns {"rows_before",
    "rows_after", "tombstones_cleared"}. Serialized by the writer
    lease (`sources.lease`)."""
    from ..sources.lease import writer_lease

    with writer_lease(spark, out_dir, "compact_curated"):
        return _compact_curated_unlocked(spark, out_dir)


def _compact_curated_unlocked(spark, out_dir):
    from ..sources.io import drop_state_dir, read_state_dir

    live, staged, parked = _corpus_swap_dirs(out_dir)
    # heal before the read, or a rerun after a kill mid-swap could
    # never reach any recovery code
    _heal_corpus(spark, out_dir)
    tomb_dir = _tombstone_dir(out_dir)
    tombs = read_state_dir(spark, tomb_dir)
    before = spark.read.parquet(out_dir).count()
    if tombs is None:
        return {"rows_before": before, "rows_after": before,
                "tombstones_cleared": 0}
    n_tombs = tombs.count()
    # renew-or-abort at the swap: the rewrite can outlive the TTL,
    # and a dethroned compactor must never rename the new holder's
    # live corpus away
    _stage_dir(spark, read_curated(spark, out_dir).write, staged,
               gate=(out_dir, "compact_curated publish"))
    after = spark.read.parquet(staged).count()
    _swap_dir(spark, live, staged, parked)
    drop_state_dir(spark, tomb_dir)
    return {"rows_before": before, "rows_after": after,
            "tombstones_cleared": n_tombs}


def apply_snapshot_diff(spark, old_docs: DataFrame,
                        new_docs: DataFrame, out_dir: str,
                        index_dir: str, batch_id: int = 0,
                        ann_index_dirs: tuple = (),
                        **loop_kwargs) -> dict:
    """Reconcile the curated state with a NEW snapshot by processing
    ONLY the diff — the incremental-reprocessing composition a 100 TB
    corpus needs (a full re-run per snapshot is the thing this module
    exists to avoid). Columns follow the streaming-curation family's
    contract: ``doc_id`` ids, ``text`` content (the ingest loop, the
    tombstone view and the fingerprint index all share it — a
    configurable column here would silently break against them,
    review r10 finding).

    * ``removed`` and effectively-``modified`` docs are TOMBSTONED —
      (doc_id, fingerprint of the stored/redacted old text) rows
      appended to the tombstone index `read_curated` anti-joins
      (nothing is appended — and no tombstone dir is created — when
      the diff produces none);
    * ``added`` and effectively-modified docs flow through the SAME
      ingest batch fn as streamed arrivals (every gate + the
      cross-corpus dedup index), appended under ``batch_id``;
    * a ``modified`` doc whose rewrite disappears under redaction
      (same stored text) is a NO-OP for the curated corpus — it is
      neither tombstoned nor reprocessed, which also makes the whole
      operation IDEMPOTENT: re-applying the same diff re-appends
      duplicate tombstone rows (harmless — the anti-join is a set
      membership) and the re-processed delta dies against the
      fingerprint index it populated the first time;
    * a doc REVERTING to a version of itself is RESTORED, not
      re-admitted: when a delta doc's incoming (doc_id, stored-text
      fingerprint) matches one of its own tombstones, that tombstone
      is deleted (read-modify-write under a truncating pin) and the
      original stored row becomes visible again — without this the
      revert would vanish entirely (old row tombstoned, replacement
      killed by the sticky fingerprint index; review r10 finding).
      The restore needs the superseded row to still exist
      physically: after `compact_curated` has applied the tombstone,
      a revert is re-admission of historical content and the sticky
      index blocks it — the amnesty path below applies.

    Sticky-dedup semantics, documented not hidden: the fingerprint
    index is append-only, so content that EVER entered the corpus is
    never re-admitted under a NEW identity (a removed doc's text
    re-added under a new id is dropped as a duplicate; a modified doc
    whose new text duplicates another living doc keeps only that
    other doc). For takedown workflows that is the desired memory;
    for amnesty, rebuild the index from `read_curated` during a
    maintenance window.

    Write order is load-bearing: tombstones append BEFORE the delta
    processes, so a crash between the two leaves old versions hidden
    with the replacements missing — the rerun re-processes them —
    never a window where both versions are visible.

    ``ann_index_dirs`` (r11) closes the compliance loop in ONE call:
    each listed persistent ANN/hybrid index receives
    `delete_from_index` markers for every doc whose SERVED old
    content is going away — removed AND genuinely-modified docs (the
    indexed embeddings describe the superseded text; redaction-noop
    modifications keep serving) — ordered with the tombstones,
    before the delta, so a taken-down document stops being served by
    the curated read AND by vector/hybrid retrieval in the same
    maintenance action (the cross-surface invariant
    tests/test_takedown_serving.py pins). REVERTING docs get their
    markers dropped via `undelete_from_index` (their curated restore
    never re-ingests, so append-side restore-on-append can't fire);
    re-indexed modified docs restore through `append_to_index` as
    usual. Returns counts: {"added", "removed", "modified",
    "modified_noop", "restored", "tombstoned", "delta_docs",
    "index_deleted", "index_restored"}. Serialized by the writer
    lease (`sources.lease`) on ``out_dir`` — the delta's ingest
    batches re-enter it; each ANN index takes its own lease."""
    from ..sources.lease import writer_lease

    with writer_lease(spark, out_dir, "apply_snapshot_diff"):
        return _apply_snapshot_diff_unlocked(
            spark, old_docs, new_docs, out_dir, index_dir, batch_id,
            ann_index_dirs=ann_index_dirs, **loop_kwargs)


def _apply_snapshot_diff_unlocked(spark, old_docs, new_docs, out_dir,
                                  index_dir, batch_id,
                                  ann_index_dirs=(),
                                  **loop_kwargs):
    from ..dedup.exact import corpus_diff, fingerprint_docs

    diff = pin(corpus_diff(old_docs, new_docs), truncate=True)
    counts = {r["change"]: r["n"]
              for r in diff.groupBy("change")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    gone = diff.filter(F.col("change").isin("removed", "modified")) \
               .select("doc_id")
    mod = diff.filter(F.col("change") == "modified").select("doc_id")
    incoming = (diff.filter(F.col("change").isin("added", "modified"))
                .select("doc_id"))

    def _red_fp(docs, ids):
        return (fingerprint_docs(
            redact_documents(docs.join(ids, "doc_id", "semi")))
            .select("doc_id", "fingerprint"))

    old_fp = _red_fp(old_docs, gone)
    inc_fp = pin(_red_fp(new_docs, incoming), truncate=True)
    # ALREADY-CURRENT incoming docs: their exact (redacted) content
    # is what the curated corpus VISIBLY serves for that id right
    # now — computed from durable state (the pre-apply read_curated
    # view), not from this apply's own diff mechanics, so it holds
    # on RE-APPLIES too (review r11: the tombstone-pool `restored`
    # set is consumed by the first application — a re-applied revert
    # diff classified the doc 'modified', re-issued its index delete
    # marker, and nothing could ever drop it again; this also
    # covers re-applying after a modified doc was re-indexed, which
    # would otherwise re-hide the fresh embedding). These docs are a
    # NO-TOUCH set for the index propagation: never re-DELETED — the
    # first application already made the serving decision — and
    # never UN-deleted either (review r11 third pass: "curated
    # serves this content" does not imply "the index embeds this
    # content" — a re-applied forward-modify diff would otherwise
    # drop the marker while the index still holds the superseded
    # embedding; only the tombstone-pool `restored` set, whose rows
    # provably predate the diff, un-deletes). Only MODIFIED docs can
    # be already-current (added docs have no serving history in
    # `gone`; added-reverts restore via the tombstone pool), so the
    # probe is skipped on add/remove-only diffs and on a
    # not-yet-bootstrapped out_dir — and the mod-id side broadcasts,
    # so the curated store is read once map-side, never shuffled by
    # text bytes. Computed HERE — before the tombstone rewrite
    # mutates the visible state.
    already_current = None
    if ann_index_dirs and counts.get("modified", 0) > 0 \
            and _read_parquet_if_present(spark, out_dir) is not None:
        # broadcast the mod-id side only while the already-known
        # count proves it driver-safe (review r11 fourth pass: a
        # forced broadcast of an unbounded modified set OOMs the
        # driver at diff scale); past the bound the semi join
        # shuffles — and the fingerprint is computed MAP-SIDE before
        # the join so the shuffle carries (doc_id, fp), never text
        # bytes
        mod_side = F.broadcast(mod) \
            if counts["modified"] <= 5_000_000 else mod
        stored_fp = (fingerprint_docs(read_curated(spark, out_dir))
                     .select("doc_id", "fingerprint")
                     .join(mod_side, "doc_id", "semi"))
        already_current = pin(
            inc_fp.join(stored_fp, ["doc_id", "fingerprint"], "semi")
            .select("doc_id"), truncate=True)
    # redaction-invisible modifications: stored text unchanged
    noop = (old_fp.join(inc_fp.withColumnRenamed("fingerprint",
                                                 "__nfp"), "doc_id")
            .filter(F.col("fingerprint") == F.col("__nfp"))
            .select("doc_id"))
    noop = pin(noop, truncate=True)     # feeds tombstones AND delta
    n_noop = noop.count()
    tombstones = pin(old_fp.join(noop, "doc_id", "left_anti"),
                     truncate=True)
    n_tomb = tombstones.count()

    from ..sources.io import (
        drop_state_dir,
        heal_state_dir,
        read_state_dir,
        replace_state_dir,
    )

    tomb_dir = _tombstone_dir(out_dir)
    # renew-or-abort before the first writer action (verdict r11
    # #1): everything from the heal onward mutates durable state —
    # a dethroned apply must abort here, before the tombstone pool
    # or any listed index is touched (the per-index deletes gate
    # again under their own leases)
    from ..sources.lease import commit_gate

    commit_gate(spark, out_dir, "apply_snapshot_diff publish")
    # ADVICE r10: heal a crash-parked swap BEFORE reading — the
    # append branch below would otherwise create a fresh live dir
    # that shadows the parked __bak, silently resurrecting every
    # pre-crash tombstone. apply_snapshot_diff is a maintenance
    # WRITER (serialized by contract), so the heal is its to do.
    heal_state_dir(spark, tomb_dir)
    existing = read_state_dir(spark, tomb_dir)
    # restores: incoming versions matching one of their OWN
    # tombstones — the doc is reverting; un-hide the original row
    # instead of losing it to the sticky index
    pool = tombstones if existing is None else \
        tombstones.unionByName(
            existing.select("doc_id", "fingerprint")).distinct()
    restored = pin(pool.join(inc_fp, ["doc_id", "fingerprint"],
                             "semi"), truncate=True)
    n_restored = restored.count()
    remaining = pool.join(restored, ["doc_id", "fingerprint"],
                          "left_anti")

    # cross-surface takedown propagation (r11 — the compliance loop
    # closed in one call): docs whose SERVED old content is going
    # away — removed docs AND genuinely-modified docs (their indexed
    # embeddings describe the superseded, possibly-violating text;
    # review r11) — also stop being served by every listed ANN/
    # hybrid index. Redaction-noop modifications keep serving (the
    # stored text is unchanged), already-current docs are NO-TOUCH
    # (see above), and REVERTING docs get their markers DROPPED
    # (review r11: a restore un-hides the curated row without
    # re-ingestion, so append_to_index's restore-on-append never
    # fires — without the explicit undelete the doc reappeared in
    # `read_curated` but stayed excluded from vector serving
    # forever). A re-indexed modified doc restores via
    # append_to_index as before.
    #
    # ORDER: the index ops run BEFORE the tombstone-pool rewrite
    # (review r11 third pass) — the rewrite CONSUMES the restore
    # evidence, so a crash between them would leave a marker no
    # re-apply could ever drop (pool rewritten → restored=∅ →
    # no-touch). This way a crash after the undelete re-derives the
    # same `restored` set from the still-unrewritten pool and
    # converges; the in-between state (index serves a doc the
    # curated view still hides) lasts one recovery re-apply and errs
    # only on a doc being RESTORED anyway. Deletes stay ahead of
    # everything that un-hides — hide everywhere first, then admit
    # replacements; re-deletes are idempotent set-membership. Each
    # index takes its own writer lease (distinct root — no deadlock
    # with the out_dir lease this function already holds).
    index_deleted = {}
    index_restored = {}
    if ann_index_dirs:
        from ..similarity.index import (
            delete_from_index,
            undelete_from_index,
        )

        gone_served = (gone
                       .join(noop, "doc_id", "left_anti")
                       .join(restored.select("doc_id"), "doc_id",
                             "left_anti"))
        if already_current is not None:
            gone_served = gone_served.join(already_current, "doc_id",
                                           "left_anti")
        gone_served = pin(gone_served, truncate=True)
        # un-delete ONLY tombstone-pool restores: their visible rows
        # provably predate the diff, so the indexed embeddings match
        # the served content; already_current is no-touch (above)
        serving_restores = pin(restored.select("doc_id"),
                               truncate=True)
        # skip the per-index lease/cast/count machinery entirely on
        # the common nothing-to-do sides (review r11: a routine
        # added-docs-only diff paid two lease cycles and several
        # zero-row jobs per index)
        any_deletes = bool(gone_served.take(1))
        any_restores = bool(serving_restores.take(1))
        for idx_dir in ann_index_dirs:
            index_deleted[idx_dir] = delete_from_index(
                spark, idx_dir, gone_served)["deleted"] \
                if any_deletes else 0
            index_restored[idx_dir] = undelete_from_index(
                spark, idx_dir, serving_restores)["restored"] \
                if any_restores else 0

    # re-gate before the pool rewrite: the per-index lease cycles
    # above can be long, and this swap is the one that consumes the
    # restore evidence (crash-ordering note below)
    commit_gate(spark, out_dir, "apply_snapshot_diff pool rewrite")
    if n_restored > 0:
        # the rewrite goes through io.replace_state_dir (staged +
        # swap with a parked backup): an in-place overwrite would
        # lose EVERY accumulated tombstone — including unrelated
        # takedowns — on a mid-write crash (review r10). A fully
        # restored pool DELETES the dir rather than writing a
        # zero-row one (whose mere existence flips read_curated onto
        # the fingerprint path forever).
        if remaining.take(1):
            replace_state_dir(remaining, tomb_dir)
        else:
            drop_state_dir(spark, tomb_dir)
    elif n_tomb > 0:
        tombstones.write.mode("append").parquet(tomb_dir)
    # else: nothing to hide — never create an empty tombstone dir
    # (its mere existence flips read_curated onto the fingerprint
    # path and makes the next compaction a full rewrite for nothing)

    delta_ids = (incoming
                 .join(noop, "doc_id", "left_anti")
                 .join(restored.select("doc_id"), "doc_id",
                       "left_anti"))
    delta = new_docs.join(delta_ids, "doc_id", "semi")
    n_delta = delta.count()
    process = make_curation_ingest_batch_fn(out_dir, index_dir,
                                            **loop_kwargs)
    process(delta, batch_id)
    return {"added": counts.get("added", 0),
            "removed": counts.get("removed", 0),
            "modified": counts.get("modified", 0),
            "modified_noop": n_noop,
            "restored": n_restored,
            "tombstoned": n_tomb,
            "delta_docs": n_delta,
            "index_deleted": index_deleted,
            "index_restored": index_restored}
