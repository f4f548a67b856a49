"""Streaming SCD2 — a CDC dimension maintained by a foreachBatch loop.

The dimension-table counterpart of the curation/semantic ingest
loops (`streaming/curation.py`, `streaming/semantic_stream.py`):
state lives in durable artifacts, never in stream state, and the
layout makes replay exact instead of merely tolerable.

Layout — snapshot per micro-batch, the artifact-store pattern:

    {dim_dir}/batch=N/       full SCD2 snapshot AFTER batch N
    {quarantine_dir}/batch=N/  that batch's inadmissible updates

* The processor reads the LATEST committed snapshot with id < the
  incoming batch_id, applies `scd2_apply_with_quarantine`, and
  writes its own two `batch=N` dirs. A Structured-Streaming
  recovery re-invokes the same batch_id with the same data; if the
  batch's snapshot already committed (crash AFTER the write but
  BEFORE the checkpoint commit) the replay is a NO-OP — the
  committed outputs are exactly what the replay would recompute
  (same pre-state, same data, deterministic apply), and skipping
  means a committed snapshot is never deleted-and-rewritten under a
  concurrent reader. If the snapshot did NOT commit, the replay
  recomputes both outputs bit-for-bit from the same pre-state —
  same-id replay is EXACT by construction, no index needed.
* Both dirs are `_SUCCESS`-gated: a crash mid-write leaves a torn
  `batch=N` dir that no reader (processor, `scd2_dim`, or
  `quarantine_log`) ever selects; the recovery overwrite replaces
  it. foreachBatch is sequential, so batch N+1 cannot start before
  N's snapshot committed. One transient is visible by design: the
  quarantine commits momentarily BEFORE its dim snapshot, so
  `quarantine_log` can briefly show a batch the dimension does not
  yet reflect — correct rows either way (replay reproduces them
  identically), never torn ones.
* Old snapshots are free time travel (`scd2_dim(..., batch_id=K)`
  is the dimension as of batch K — orthogonal to the row-level
  `scd2_at` time travel WITHIN a snapshot). Retention: keep at
  least the stream checkpoint horizon so a recovered batch can
  still find its pre-state.

At-least-once upstream REDELIVERY (same rows arriving under a NEW
batch_id) is the second hazard: re-applied updates are inadmissible
(their ts is ≤ the open row's valid_from) so the dimension is
idempotent, but they would land in quarantine as noise. The ECHO
FILTER drops a quarantined row when the version valid at its
timestamp already carries its compare-attributes — which is also
semantically right for a coincidental genuine late row with equal
attributes: applied in order, it would have been suppressed as
no-change anyway. Malformed NULL-ts rows never match a version and
always stay quarantined — including in the BOOTSTRAP batch, which
splits them out before `scd2_init` (init has no admissibility join,
so without the split a NULL-ts row would silently become a version
with an unknowable validity interval).

Dimensions are the small side by definition — snapshot-per-batch
trades bounded extra storage (dim size × retained batches) for an
exactly-once accounting story with zero swap/rename machinery.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd import scd2_apply_with_quarantine, scd2_init
from ..session import pin
from ..sources.io import fs_path


def _committed_batch_ids(spark: SparkSession, root: str) -> list[int]:
    """Sorted ids of `_SUCCESS`-committed ``batch=N`` dirs under
    ``root``. Torn dirs (crash mid-write) are invisible; so are stray
    non-numeric ``batch=...`` dirs (tooling leftovers must not take
    down every reader — same guard as `sources.io.snapshot_versions`)."""
    fs, jpath = fs_path(spark, root)
    if not fs.exists(jpath):
        return []
    ids = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if fs.exists(spark._jvm.org.apache.hadoop.fs.Path(
                    st.getPath(), "_SUCCESS")):
                ids.append(bid)
    return sorted(ids)


def _is_committed(spark: SparkSession, root: str,
                  batch_id: int) -> bool:
    fs, jp = fs_path(spark, f"{root}/batch={batch_id}/_SUCCESS")
    return fs.exists(jp)


def committed_snapshot_ids(spark: SparkSession,
                           dim_dir: str) -> list[int]:
    """Sorted batch ids of `_SUCCESS`-committed snapshots."""
    return _committed_batch_ids(spark, dim_dir)


def scd2_dim(spark: SparkSession, dim_dir: str,
             batch_id: int | None = None) -> DataFrame | None:
    """The committed dimension snapshot: latest by default, or the
    latest with id ≤ ``batch_id`` (dimension time travel at batch
    grain). None when nothing has committed yet. Committed snapshots
    are immutable (replay of a committed batch is a no-op), so the
    list-then-read here has no torn-read window."""
    ids = committed_snapshot_ids(spark, dim_dir)
    if batch_id is not None:
        ids = [i for i in ids if i <= batch_id]
    if not ids:
        return None
    return spark.read.parquet(f"{dim_dir}/batch={ids[-1]}")


def _echo_filter(quarantined: DataFrame, dim: DataFrame,
                 keys: list[str], ts_col: str,
                 cmp_cols: list[str]) -> DataFrame:
    """Drop redelivery echoes: a quarantined row whose
    compare-attributes equal the version valid at its timestamp is
    recorded history (or an in-order no-op), not a late change."""
    q = quarantined.alias("q")
    v = dim.alias("v")
    key_eq = [F.col(f"q.{k}").eqNullSafe(F.col(f"v.{k}"))
              for k in keys]
    in_interval = ((F.col(f"q.{ts_col}") >= F.col("v.valid_from"))
                   & (F.col("v.valid_to").isNull()
                      | (F.col(f"q.{ts_col}") < F.col("v.valid_to"))))
    attrs_eq = F.struct(*[F.col(f"q.{c}") for c in cmp_cols]) \
        .eqNullSafe(F.struct(*[F.col(f"v.{c}") for c in cmp_cols]))
    cond = key_eq[0]
    for c in key_eq[1:]:
        cond = cond & c
    # anti join: keep only rows with NO matching valid version —
    # both sides are small (quarantine is per-batch, dim is a
    # dimension); AQE picks the broadcast side
    return q.join(v, cond & in_interval & attrs_eq, "left_anti")


def make_scd2_batch_fn(dim_dir: str, quarantine_dir: str,
                       key_cols: Sequence[str],
                       ts_col: str = "effective_ts",
                       compare_cols: Sequence[str] | None = None
                       ) -> Callable[[DataFrame, int], None]:
    """foreachBatch processor maintaining an SCD2 dimension from a
    CDC update stream: ``stream.writeStream.foreachBatch(fn)``. The
    first batch with a valid (non-NULL-ts) row bootstraps via
    `scd2_init` — NULL-ts rows go to quarantine even then; later
    batches apply with quarantine, echo-filtered (see module
    docstring). Empty batches write nothing (the next batch reads
    past them), and a replay of an already-committed batch is a
    no-op."""
    keys = list(key_cols)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        committed = committed_snapshot_ids(spark, dim_dir)
        if committed and batch_id < committed[-1]:
            # foreachBatch is sequential, so a GENUINE recovery
            # replay is always of the latest committed batch. An id
            # below it means the checkpoint was deleted/replaced
            # while dim_dir kept its history — silently skipping
            # would discard every new batch forever; refuse loudly
            raise ValueError(
                f"scd2 stream batch_id {batch_id} is behind the "
                f"latest committed snapshot {committed[-1]} in "
                f"{dim_dir} — the stream checkpoint was reset "
                f"against an existing dimension. Point the loop at "
                f"a fresh dim_dir/quarantine_dir or restore the "
                f"checkpoint")
        if committed and batch_id == committed[-1]:
            # recovery replay after the snapshot committed but before
            # the stream checkpoint did: outputs already on disk are
            # what this replay would recompute (quarantine commits
            # first, so it committed too) — rewriting would only tear
            # a committed snapshot under a concurrent reader
            return
        dim = scd2_dim(spark, dim_dir, batch_id=batch_id - 1)
        attrs = [c for c in batch_df.columns
                 if c not in keys and c != ts_col]
        cmp_cols = (list(compare_cols) if compare_cols is not None
                    else attrs)
        pinned: list[DataFrame] = []

        def pin_shared(df: DataFrame) -> DataFrame:
            out = pin(df)
            pinned.append(out)
            return out

        try:
            if dim is None:
                # bootstrap: scd2_init has no admissibility join, so
                # malformed NULL-ts rows must be split out here or
                # they would become versions with unknowable validity
                src = pin_shared(batch_df)
                quarantined = src.filter(F.col(ts_col).isNull())
                valid = src.filter(F.col(ts_col).isNotNull())
                new_dim = (scd2_init(valid, keys, ts_col,
                                     compare_cols)
                           if valid.take(1) else None)
            else:
                new_dim, quarantined = scd2_apply_with_quarantine(
                    dim, batch_df, keys, ts_col, compare_cols,
                    pin=pin_shared)
                quarantined = _echo_filter(quarantined, dim, keys,
                                           ts_col, cmp_cols)
            # quarantine first: if the snapshot write below crashes,
            # the recovered batch recomputes BOTH from the same
            # pre-state and overwrites both — identical content
            # either way
            if not _is_committed(spark, quarantine_dir, batch_id):
                quarantined.write.mode("overwrite").parquet(
                    f"{quarantine_dir}/batch={batch_id}")
            if new_dim is not None:
                new_dim.write.mode("overwrite").parquet(
                    f"{dim_dir}/batch={batch_id}")
        finally:
            for df in pinned:
                df.unpersist(blocking=False)

    return process


def quarantine_log(spark: SparkSession,
                   quarantine_dir: str) -> DataFrame | None:
    """All COMMITTED quarantined updates across batches, with the
    ``batch`` partition column — the operator-attention feed
    (genuinely late or malformed CDC rows that need an `scd2_init`
    rebuild decision). `_SUCCESS`-gated like the snapshots: a torn
    quarantine dir is invisible until its batch's recovery rewrites
    it. None when nothing was ever committed."""
    ids = _committed_batch_ids(spark, quarantine_dir)
    if not ids:
        return None
    return (spark.read.option("basePath", quarantine_dir)
            .parquet(*[f"{quarantine_dir}/batch={i}" for i in ids]))
