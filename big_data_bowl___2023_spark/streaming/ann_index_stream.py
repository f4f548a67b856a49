"""Streaming maintenance of the persistent ANN index.

`similarity.index` gives the batch story (build / append / pruned
search); a production embedding pipeline RECEIVES vectors as a
stream. This is the foreachBatch face: the first non-empty batch
builds the index (meta + cell layout) with the factory's dim /
n_planes, every later batch appends through the SAME recorded planes
— so stream-built and batch-built indexes are byte-compatible and
`ann_index_search` works mid-stream.

Delivery contract — at-least-once in storage, exactly-once in
results: a crash between the parquet append and the checkpoint
commit replays the batch, double-appending rows. That is deliberate:
the replayed rows are bit-identical (same ids, same vectors → same
cells, same cosines) and `ann_index_search` dedupes (query, neighbor) pairs BEFORE its
ranking window, so duplicates can never change a result — they only
cost scan bytes. The batch loop
therefore needs NO ledger, no _SUCCESS gating, and no
snapshot-per-batch machinery (contrast `scd_stream`, where replayed
state would be WRONG, not merely redundant). The reclaim pass is
:func:`compact_index`, which also fixes the other streaming-ingest
pathology: thousands of per-batch small files inside each cell
directory.

Compaction PUBLISHES (round 10): the rewritten layout is staged
under a name the version lister ignores, then made visible as
``cells/v=N+1`` by one rename — in-flight searches keep their pinned
``v=N`` files, new searches pick up N+1, and a crash mid-stage
leaves only an invisible temp dir (healed at the next compaction).
Searches therefore need NO scheduling around compaction at all; the
remaining rule is that appends and compactions serialize with each
other (one maintenance writer — an append into v=N racing the
compaction's read of it would be missing from v=N+1). Superseded
versions are reclaimed by :func:`vacuum_index` once in-flight
readers have drained.

Reference scope note: north-star extension (SURVEY.md §2 extensions,
inventory E113); the reference has no vector or streaming surface.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..similarity.index import (
    _CELLS,
    _META,
    _cells_path,
    _minus_deletes,
    _read_meta,
    append_to_index,
    build_ann_index,
    index_versions,
)
from ..sources.io import _heal_dir, _stage_dir, fs_path


def make_ann_index_batch_fn(index_dir: str, dim: int = 64,
                            n_planes: int = 3,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id"
                            ) -> Callable[[DataFrame, int], None]:
    """foreachBatch processor maintaining a persistent ANN index from
    a vector stream: ``stream.writeStream.foreachBatch(fn)``. First
    non-empty batch builds (dim/n_planes frozen into the meta); later
    batches append with the meta's recorded planes — the factory
    args are only a bootstrap default, an existing index always wins
    (so a restart with different factory args cannot fork the cell
    geometry). Empty batches write nothing."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        # gate on the meta DIRECTORY, not its _SUCCESS marker: with
        # success markers disabled (a common object-store committer
        # setting) a marker gate would see "no index" forever and
        # every batch would REBUILD with overwrite — silent loss of
        # all prior vectors. A directory that exists but is torn
        # fails safe instead: append_to_index's _read_meta raises.
        fs, meta_path = fs_path(spark, f"{index_dir}/{_META}")
        if fs.exists(meta_path):
            append_to_index(batch_df, index_dir, vec_col, id_col)
        else:
            build_ann_index(batch_df, index_dir, dim, n_planes,
                            vec_col, id_col)

    return process


def _list_parquet_stats(fs, root):
    """(n_files, n_bytes) of every .parquet under ``root``."""
    n, b = 0, 0
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            n += 1
            b += st.getLen()
    return n, b


def _clean_stale_tmps(fs, cells_root) -> None:
    """Delete staging leftovers of compactions that died mid-write.
    Staged dirs never match the ``v=`` pattern, so they were always
    INVISIBLE to readers and version listing — this is pure disk
    reclamation, never recovery."""
    for st in fs.listStatus(cells_root):
        name = st.getPath().getName()
        if name.startswith("__publish_tmp"):
            fs.delete(st.getPath(), True)


def _heal_legacy_swaps(spark, fs, root) -> None:
    """Round-9 upgrade healer: the old per-cell swap compactor
    (`compact_parquet` per cell) could die between its two renames,
    leaving ``cell=X`` MISSING with the data stranded at
    ``cell=X__compact_old``. Before a legacy layout is read for
    migration, heal each such backup (`sources.io._heal_dir`), drop
    backups whose live dir exists (stale), and clear old staging
    dirs — otherwise the stray partition values would ride the
    migration read into ``v=1`` as phantom cells."""
    for st in fs.listStatus(root):
        name, parked = st.getPath().getName(), st.getPath().toString()
        if name.endswith("__compact_tmp"):
            fs.delete(st.getPath(), True)
        elif name.endswith("__compact_old") and not _heal_dir(
                spark, parked[:-len("__compact_old")], parked):
            fs.delete(st.getPath(), True)


def compact_index(spark: SparkSession, index_dir: str,
                  target_file_mb: int = 128,
                  dedupe: bool = False) -> dict:
    """Publish a compacted ``cells/v=N+1`` from the current version:
    the rewrite lands in ~``target_file_mb`` files per cell
    (``maxRecordsPerFile`` sized from the live version's byte/row
    ratio) and ``dedupe=True`` also drops duplicate ids left by
    at-least-once replays (replayed rows are bit-identical, so
    keeping any one is exact). The staged write is invisible to
    version listing until ONE rename flips it live, so concurrent
    searches are never torn: pinned scans keep v=N, new scans see
    N+1. Serialize with appends (module contract); reclaim
    superseded versions with :func:`vacuum_index` after readers
    drain. A compaction that crashed mid-stage leaves only an
    invisible temp dir, deleted on the next run.

    Compacting a ROUND-9 (unversioned) index IS the upgrade path: the
    legacy cell dirs read as implicit version 0 (after healing any
    old-compactor crash strays, which would otherwise ride the read
    into the new version as phantom cells), the rewrite publishes
    ``v=1``, and `vacuum_index` later retires the loose legacy dirs.

    Returns {"cells", "files_before", "files_after", "bytes",
    "version"} — `version` is the newly published N+1. Serialized by
    the writer lease (`sources.lease`)."""
    from ..sources.lease import writer_lease

    # the lease heartbeats by default (ttl/6), so the rewrite can
    # outlive the TTL; the commit-point gate below still detects a
    # genuine takeover
    with writer_lease(spark, index_dir, "compact_index"):
        return _compact_index_unlocked(spark, index_dir,
                                       target_file_mb, dedupe)


def _compact_index_unlocked(spark, index_dir, target_file_mb,
                            dedupe):
    from ..similarity.index import _has_legacy_cells
    from ..session import pin

    fs, root = fs_path(spark, f"{index_dir}/{_CELLS}")
    if not fs.exists(root) or not (
            index_versions(spark, index_dir)
            or _has_legacy_cells(spark, index_dir)):
        raise ValueError(f"no index cells at {index_dir}")
    # gate the early destructive sweep too (round 12): a zombie
    # compactor's stale-tmp clean would delete the NEW holder's
    # in-progress staging dir
    from ..sources.lease import commit_gate

    commit_gate(spark, index_dir, "compact_index stale-tmp sweep")
    _clean_stale_tmps(fs, root)
    if not index_versions(spark, index_dir):
        _heal_legacy_swaps(spark, fs, root)
    live = _cells_path(spark, index_dir, None, "compact_index")
    tail = live.rsplit("/", 1)[1]
    v_new = (int(tail[2:]) + 1) if tail.startswith("v=") else 1
    files_before, total_bytes = _list_parquet_stats(
        fs, fs_path(spark, live)[1])

    df = spark.read.parquet(live)
    # Partition-value type inference parses the all-digit cell
    # bitstrings as INTEGERS, dropping leading zeros — a naive
    # rewrite would publish cell=0 where _assign writes cell=000,
    # forking the physical naming inside one version (review r10
    # finding; searches only survived via implicit string→int
    # coercion). Bits are 0/1 only, so lpad to the meta's plane
    # count restores the exact original directory names.
    _, n_planes = _read_meta(spark, index_dir)
    df = df.withColumn(
        "cell", F.lpad(F.col("cell").cast("string"), n_planes, "0"))
    # apply delete markers PHYSICALLY: the published version simply
    # lacks the rows. The marker dir stays — older pinned versions
    # still need it; clear_index_deletes is the explicit GC once
    # vacuum has retired them (module contract).
    df = _minus_deletes(spark, index_dir, df)
    pinned = None
    try:
        total_rows = df.count()
        if dedupe:
            # a vector's cell is a pure function of the vector, so a
            # global id-dedupe equals the per-cell one; pin so the
            # sizing count and the rewrite share one shuffle
            df = pinned = pin(df.dropDuplicates(["neighbor_id"]))
            out_rows = df.count()
        else:
            out_rows = total_rows
        per_file = max(
            1, int(total_rows * target_file_mb * 1024 * 1024
                   / max(1, total_bytes)))
        # stage + renew-or-abort at the COMMIT point: a compaction
        # over a huge index can outlive the lease TTL mid-rewrite; if
        # the lease was taken over, publishing v_new would race the
        # new writer — the staged dir is discarded and the call fails
        # loudly instead
        tmp = f"{index_dir}/{_CELLS}/__publish_tmp_v{v_new}"
        _stage_dir(spark, df.repartition("cell").write
                   .partitionBy("cell")
                   .option("maxRecordsPerFile", per_file), tmp,
                   gate=(index_dir, "compact_index publish"))
        # the versioned publish: ONE rename makes the staged dir
        # visible as v=N+1 (no parked copy — v=N stays in place)
        jtmp = fs_path(spark, tmp)[1]
        final = fs_path(spark, f"{index_dir}/{_CELLS}/v={v_new}")[1]
        if not fs.rename(jtmp, final):
            fs.delete(jtmp, True)
            raise IOError(f"publish rename to {final} failed")
    finally:
        if pinned is not None:
            pinned.unpersist(blocking=False)
    files_after, _ = _list_parquet_stats(fs, final)
    n_cells = sum(1 for st in fs.listStatus(final)
                  if st.isDirectory()
                  and st.getPath().getName().startswith("cell="))
    spark.catalog.refreshByPath(f"{index_dir}/{_CELLS}")
    return {"cells": n_cells, "files_before": files_before,
            "files_after": files_after, "bytes": total_bytes,
            "rows": out_rows, "version": v_new}


def vacuum_index(spark: SparkSession, index_dir: str,
                 keep: int = 1) -> dict:
    """Delete all but the newest ``keep`` published cell versions
    (plus stale staging dirs, plus — once at least one version is
    published — the loose round-9 legacy cell dirs a migration
    superseded). This is the ONLY operation that removes data a
    pinned reader could still hold — run it after in-flight searches
    of superseded versions have drained (the drain window is
    deployment policy, exactly like any snapshot-isolation vacuum).
    Vacuum is a MAINTENANCE WRITER like append/compact: serialize it
    with them (its stale-tmp sweep would delete a concurrently
    STAGING compaction's temp dir — review r10 finding; the
    one-maintenance-writer rule was always the contract, vacuum is
    not exempt). Returns {"kept", "deleted"}; legacy dirs are
    reported as version 0. Serialized by the writer lease
    (`sources.lease`)."""
    from ..sources.lease import writer_lease

    with writer_lease(spark, index_dir, "vacuum_index"):
        return _vacuum_index_unlocked(spark, index_dir, keep)


def _vacuum_index_unlocked(spark, index_dir, keep):
    if keep < 1:
        raise ValueError("vacuum must keep at least the live version")
    fs, root = fs_path(spark, f"{index_dir}/{_CELLS}")
    if not fs.exists(root):
        raise ValueError(f"no index cells at {index_dir}")
    # renew-or-abort before the first delete (verdict r11 #1): the
    # stale-tmp sweep is itself destructive — a dethroned vacuum
    # would delete the NEW writer's staging compaction dir
    from ..sources.lease import commit_gate

    commit_gate(spark, index_dir, "vacuum_index publish")
    _clean_stale_tmps(fs, root)
    versions = index_versions(spark, index_dir)
    drop = list(versions[:-keep]) if len(versions) > keep else []
    for v in drop:
        fs.delete(fs_path(spark, f"{index_dir}/{_CELLS}/v={v}")[1],
                  True)
    if versions:
        # migrated legacy dirs (implicit version 0) are superseded by
        # ANY published version
        dropped_legacy = False
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and (name.startswith("cell=")):
                fs.delete(st.getPath(), True)
                dropped_legacy = True
        if dropped_legacy:
            drop = [0] + drop
    return {"kept": versions[-keep:] if versions else [],
            "deleted": drop}
