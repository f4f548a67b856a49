"""Persistent ANN index: cell-partitioned parquet + pruned search.

`ann.ivf_topk` assigns the corpus to coarse hyperplane-sign cells ON
EVERY CALL — the right shape for one-shot batch search, but at 100 TB
a served index cannot re-scan and re-hash the corpus per query batch.
This module makes the cell assignment DURABLE: the corpus is written
once as parquet **partitioned by cell**, so a search's probed cells
become partition directories and Spark's partition pruning skips
every other file at plan time. With 2^n_planes cells and multi-probe
reading n_planes+1 of them, a search scans ~(n_planes+1)/2^n_planes
of the corpus bytes — the same sub-linear fraction `ivf_topk`
touches, but enforced by the LAYOUT (zero scan of unprobed cells,
verifiable in the plan's PartitionFilters) instead of by a filter
over a full scan.

The index is self-describing: `_index_meta` (one-row parquet beside
the cells) records dim and n_planes, so `append_to_index` re-derives
the exact deterministic planes (`ann._make_planes` — no RNG state to
persist) and new batches land in the same cell directories via
append-mode partitioned writes. Search is BIT-IDENTICAL to
`ivf_topk` over the same rows (same `_prep` normalization, same
`_probe_cells` expansion, same `_score_pairs` kernels, same ranking
— pytest-pinned), so the index inherits the ANN family's recall
story and degenerate-vector policy unchanged.

Scale/consistency notes: the probed-cell `isin` list collects the
DISTINCT probed cells — bounded by 2^n_planes regardless of query
count, never by the query set. Ids are the caller's contract as
everywhere in the dedup/ANN family, and vectors are stored
post-`as_double`, so a search never re-casts the corpus.

Concurrency contract (round 10, composing E70's ``v=N`` publishing):
the cell layout lives under ``cells/v=N`` and every search PINS one
version at plan time (latest by default, ``version=`` to time-travel),
so concurrent maintenance can never tear a scan:

* an APPEND only adds files inside the current version's cell
  directories — a reader that listed before the append misses the
  new rows (ordinary parquet append visibility), it never reads a
  half-deleted directory;
* a COMPACTION publishes the rewritten layout as ``v=N+1`` (staged
  under a name the ``v=`` lister ignores, made visible by one
  rename), so in-flight scans of ``v=N`` keep their files and new
  searches pick up ``N+1``; superseded versions are reclaimed by
  ``vacuum_index`` AFTER in-flight readers drain — vacuum, not
  compaction, is the only operation that deletes data a reader could
  hold;
* appends, compactions, vacuums, deletes and marker GC must still be
  serialized WITH EACH OTHER (an append into ``v=N`` racing a
  compaction's read of it would be missing from ``v=N+1``; a
  vacuum's stale-tmp sweep would delete a staging compaction's temp
  dir) — since round 11 this is a MECHANISM, not a convention: every
  maintenance entry point holds the writer lease
  (`sources.lease.writer_lease` on ``index_dir``; loud
  `WriterLeaseConflict` on overlap, TTL-based stale-lease takeover
  after a crash, re-entrant for composed maintenance). SEARCHES need
  no coordination with maintenance at all and never touch the lease.

The contract covers MAINTENANCE of a live index. `build_ann_index`
is PROVISIONING, not maintenance: a rebuild replaces the whole index
— geometry (n_planes), quantization ranges and the version history
may all change, and the shared meta/ranges artifacts cannot describe
two geometries at once — so rebuilding a SERVING index_dir in place
requires draining its readers first. The zero-coordination
deployment path for a live rebuild is the standard one: build into a
fresh index_dir and flip the serving pointer (versioning WITHIN one
geometry is what the v=N machinery provides; versioning ACROSS
geometries is a pointer flip between index_dirs).

Upgrade note: a round-9 (unversioned) layout reads and appends as
implicit version 0; the first `compact_index` migrates it to
``v=1`` (healing the old compactor's crash strays first) and
`vacuum_index` then retires the loose legacy dirs.

Deletes (round 10, E120 — the takedown path a served vector index
needs): `delete_from_index` appends id markers to an
``_index_deletes`` parquet beside the cells; EVERY search anti-joins
the markers (takedown lists are small by nature — a broadcast
anti-join, zero cost when no markers exist), so a delete is
effective immediately, in every pinned version, without touching a
single cell file. `append_to_index` UN-deletes the ids it carries
(re-adding an id is the intent to serve it again — the restore rule
the curated-corpus tombstones also follow); `compact_index` applies
markers physically (the published version simply lacks the rows) but
leaves the marker dir as compliance memory, since older pinned
versions still need it; `clear_index_deletes` is the explicit GC,
legal only once every retained version postdates the markers (run it
after compact + vacuum — clearing earlier would resurrect deleted
rows in a pre-delete version). Deletes are MAINTENANCE WRITES: the
one-maintenance-writer rule covers them (a delete racing a streaming
append's crash-replay could be undone by the replayed batch's
restore — issue deletes when the stream is caught up).

Reference scope note: north-star extension (SURVEY.md §2 extensions,
inventory E111); the reference has no vector-search surface.
"""

from __future__ import annotations

import os
import threading
import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..sources.io import fs_path
from .ann import _cell_key, _make_planes, _prep, _probe_cells, _score_pairs

_META = "_index_meta"
_CELLS = "cells"
_RANGES = "_index_ranges"
_SATURATION = "_index_saturation"
_DELETES = "_index_deletes"


def index_versions(spark: SparkSession, index_dir: str) -> list[int]:
    """Published cell-layout versions (``cells/v=N`` children),
    oldest first — the E70 snapshot listing applied to the index."""
    from ..sources.io import snapshot_versions

    return snapshot_versions(spark, f"{index_dir}/{_CELLS}")


def _has_legacy_cells(spark: SparkSession, index_dir: str) -> bool:
    """True when ``cells/`` holds round-9-layout cell directories
    directly (no ``v=N`` level) — readable as implicit version 0
    until a compaction migrates them to ``v=1``."""
    fs, root = fs_path(spark, f"{index_dir}/{_CELLS}")
    if not fs.exists(root):
        return False
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if (st.isDirectory() and name.startswith("cell=")
                and "__compact" not in name):
            return True
    return False


def _cells_path(spark: SparkSession, index_dir: str,
                version: int | None, what: str) -> str:
    """Resolve (and pin) ONE version's cell directory. Latest when
    ``version`` is None; a named version must exist (vacuumed or
    never-published versions refuse loudly instead of scanning an
    empty path to zero rows).

    Upgrade path: a round-9 index (cell dirs directly under
    ``cells/``, no ``v=`` level) reads and appends as implicit
    VERSION 0 — pinnable as ``version=0`` — until the first
    `compact_index` migrates it to a published ``v=1``; after that,
    the loose legacy dirs are retired by `vacuum_index`."""
    versions = index_versions(spark, index_dir)
    if not versions:
        if _has_legacy_cells(spark, index_dir) \
                and version in (None, 0):
            return f"{index_dir}/{_CELLS}"
        if version not in (None, 0):
            raise ValueError(f"{what}: version {version} not "
                             f"published under {index_dir}")
        raise ValueError(f"{what}: no published cell versions under "
                         f"{index_dir}")
    v = versions[-1] if version is None else int(version)
    if v not in versions:
        raise ValueError(f"{what}: version {v} not in {versions} "
                         f"under {index_dir} (vacuumed, migrated "
                         f"legacy, or never published)")
    return f"{index_dir}/{_CELLS}/v={v}"

# Cell-occupancy skew guard: hyperplane sign cells assume roughly
# isotropic embeddings; a real (anisotropic) corpus can pile into a
# few cells, and every search probing a hot cell then scans a large
# corpus fraction no matter how well the layout prunes. Builds warn
# when the hottest cell holds more than this multiple of the uniform
# share (1/2^n_planes) — the same top_share-vs-uniform decision rule
# as `operators.skew` (E35). The rebuild path for a skewed corpus is
# MORE planes: `build_ann_index(..., n_planes=n+1)` — the planes are
# seedless-deterministic Walsh rows (`ann._make_planes`), so each
# added plane deterministically splits every existing cell in two,
# halving the expected mass of the hot cell (and the probed fraction
# (n_planes+1)/2^n_planes falls as well).
CELL_SKEW_WARN_RATIO = 8.0

# Rebuild rule for quantized indexes: appended batches encode against
# the BUILD-TIME frozen ranges, so a drifting embedding distribution
# saturates ever more values to the range edges — bounded per value
# (the quantize module's contract) but a silent recall erosion in
# aggregate. `append_to_index` measures every appended batch; once a
# batch clips more than this fraction of its (row, dim) slots, stop
# appending and rebuild with fresh ranges (`build_ann_index` over the
# accumulated corpus), cross-checking `embedding_psi_report` (E114)
# for which dimensions moved. 1% of values ≈ the point where int8
# screen ordering starts losing true neighbors at the margins.
SATURATION_REBUILD_THRESHOLD = 0.01

# Growth bound for the takedown path (verdict r10): below this many
# DISTINCT pending delete markers a search plans them as a collected
# VALUES list (tear-proof, zero marker-file references); past it the
# collect would be the repo's one unbounded-by-construction driver
# hazard, so `_minus_deletes` switches to an eager-localCheckpoint
# broadcast anti-join (same snapshot isolation, rows never transit
# the driver), `delete_from_index` warns, and `index_cell_stats`
# flags `compact_recommended`. 64k ids × ~16 B ≈ 1 MB of plan
# literals — the most a search plan should ever carry.
DELETE_MARKER_VALUES_CAP = 65536


def _assign(df: DataFrame, vec_col: str, id_col: str,
            dim: int, n_planes: int,
            keep_cols: tuple = ()) -> DataFrame:
    planes = _make_planes(dim, n_planes)
    cell = _cell_key(F.col("vec"), planes)
    # a wrong-dimension vector would zip_with-pad into NULL
    # projections and land silently in the zero-suffix cells — fail
    # the write instead (raise_error rides the cell expression, so
    # the guard costs no extra scan). NULL vectors need their own
    # branch: size(NULL) is NULL, so the != dim condition is never
    # true and the row would be stored with a sign-default cell and a
    # NULL vec that crashes the Arrow score kernels mid-search.
    guarded = F.when(
        F.col("vec").isNull(),
        F.raise_error(F.concat(
            F.lit("index refuses NULL vectors (id "),
            F.col("neighbor_id").cast("string"),
            F.lit("): filter degenerates before the write")))
    ).when(
        F.size(F.col("vec")) != dim,
        F.raise_error(F.concat(
            F.lit(f"index expects {dim}-dim vectors, got "),
            F.size(F.col("vec")).cast("string"),
            F.lit(" for id "),
            F.col("neighbor_id").cast("string")))).otherwise(cell)
    return (df.select(F.col(id_col).alias("neighbor_id"),
                      V.as_double(F.col(vec_col)).alias("vec"),
                      *[F.col(c) for c in keep_cols])
              .withColumn("cell", guarded))


def build_ann_index(corpus: DataFrame, index_dir: str,
                    dim: int = 64, n_planes: int = 3,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    quantize: bool = False,
                    warn_skew: bool = True,
                    keep_cols: tuple = ()) -> None:
    """Serialized by the writer lease (`sources.lease` — loud
    `WriterLeaseConflict` when another maintenance writer is live).

    Write ``index_dir``: cell-partitioned corpus vectors + a
    one-row meta parquet. Overwrites an existing index whole (a
    rebuild, not a merge — incremental ingest is `append_to_index`),
    DELETING the prior version history: this is provisioning, outside
    the search/maintenance concurrency contract (see the module
    docstring) — rebuild a serving index into a FRESH index_dir and
    flip the pointer, or drain readers first.

    ``quantize=True`` additionally stores an int8 ``codes`` column
    per row and the per-dimension ranges artifact
    (`similarity.quantize`), enabling
    :func:`ann_index_search_quantized` — the screen then scans ¼ the
    vector bytes via column pruning. Ranges are FROZEN at build time:
    appended batches encode against them (out-of-range later-batch
    values saturate to the edges — bounded, per the quantize module's
    later-batch contract).

    ``warn_skew`` (default) runs :func:`index_cell_stats` after the
    write (footer-only, no vector bytes) and warns when the hottest
    cell exceeds `CELL_SKEW_WARN_RATIO` × the uniform share — the
    anisotropic-corpus failure mode an operator must know at build
    time, not at the first slow search.

    ``keep_cols``: metadata columns stored alongside each vector for
    FILTERED search (`ann_index_search(..., where=...)`) — e.g.
    label, source, language. The stored schema is self-describing:
    appends derive the kept columns from it (a batch missing one
    refuses by name), and a search's predicate over them reaches the
    parquet scan as a pushed filter on top of the partition pruning."""
    from ..sources.lease import writer_lease

    with writer_lease(corpus.sparkSession, index_dir,
                      "build_ann_index"):
        return _build_ann_index_unlocked(
            corpus, index_dir, dim, n_planes, vec_col, id_col,
            quantize, warn_skew, keep_cols)


def _build_ann_index_unlocked(corpus, index_dir, dim, n_planes,
                              vec_col, id_col, quantize, warn_skew,
                              keep_cols):
    from .quantize import embedding_ranges, encode_codes

    spark = corpus.sparkSession
    assigned = _assign(corpus, vec_col, id_col, dim, n_planes,
                       tuple(keep_cols))
    ranges = None
    if quantize:
        ranges = embedding_ranges(corpus, vec_col, dim)
        assigned = assigned.withColumn(
            "codes", encode_codes(F.col("vec"), ranges))
    # commit gate at the FIRST destructive step (verdict r11 #1): a
    # rebuild deletes the predecessor's whole version history, so a
    # dethroned provisioner must abort here, before anything burns
    from ..sources.lease import commit_gate

    commit_gate(spark, index_dir, "build_ann_index publish")
    # a rebuild resets the version history: delete the whole cells
    # root (overwrite mode would only clear v=1, leaving stale later
    # versions as "latest"), then publish the fresh layout as v=1
    fs, jcells = fs_path(spark, f"{index_dir}/{_CELLS}")
    fs.delete(jcells, True)
    (assigned.write.mode("overwrite").partitionBy("cell")
     .parquet(f"{index_dir}/{_CELLS}/v=1"))
    # re-gate AFTER the cells write — the longest phase in the
    # engine at scale (review r12): a provisioner stalled past the
    # TTL mid-write must not go on to overwrite a successor's
    # ranges/meta and drop its delete markers, the same late-write
    # fence _apply_snapshot_diff_unlocked carries for its pool
    # rewrite
    commit_gate(spark, index_dir, "build_ann_index artifacts")
    # ranges AFTER cells (a build that dies mid-cells-write must not
    # leave a fresh ranges artifact beside stale data), and a float
    # rebuild DELETES a predecessor's ranges — otherwise the index
    # would still identify as quantized, appends would encode codes
    # against stale ranges into a codes-less layout, and the
    # quantized search's refusal gate would pass and then break
    if ranges is not None:
        (spark.createDataFrame(
            [(i, float(lo), float(hi))
             for i, (lo, hi) in enumerate(ranges)],
            "i int, lo double, hi double")
         .write.mode("overwrite").parquet(f"{index_dir}/{_RANGES}"))
    else:
        fs.delete(fs_path(spark, f"{index_dir}/{_RANGES}")[1], True)
    # a rebuild re-learns ranges, so the predecessor's saturation
    # history (measurements AGAINST the old ranges) must not survive
    # to be trended alongside the new ones — and its delete markers
    # describe rows the fresh corpus may legitimately re-include
    # (the corpus passed to a rebuild IS the serving intent)
    from ..sources.io import drop_state_dir

    fs.delete(fs_path(spark, f"{index_dir}/{_SATURATION}")[1], True)
    drop_state_dir(spark, f"{index_dir}/{_DELETES}")
    (spark.createDataFrame([(int(dim), int(n_planes))],
                           "dim int, n_planes int")
     .write.mode("overwrite").parquet(f"{index_dir}/{_META}"))
    if warn_skew:
        stats = index_cell_stats(spark, index_dir)
        if stats["skew_ratio"] > CELL_SKEW_WARN_RATIO:
            import warnings

            warnings.warn(
                f"ANN index {index_dir}: hottest cell holds "
                f"{stats['top_share']:.1%} of the corpus "
                f"({stats['skew_ratio']:.1f}× the uniform "
                f"1/{2 ** n_planes} share; a search probing it scans "
                f"up to {stats['worst_probe_share']:.1%}) — the "
                f"corpus is anisotropic for these planes; rebuild "
                f"with a larger n_planes (see CELL_SKEW_WARN_RATIO)",
                stacklevel=2)


# (dim, n_planes) / ranges artifact snapshots per (application,
# index_dir), gated on a filesystem signature of the artifact dir
# (r17, same invalidation discipline as _MARKER_SNAP_CACHE): the
# serving path re-read + collected these one-row/dim-row parquets on
# EVERY search — one full read-plan + job each — although they change
# only when a REBUILD rewrites them (appends/compactions never touch
# meta; ranges are frozen at build). The signature (mtime + file
# count + byte length — one listing RPC) re-reads after any rewrite;
# a missing dir is never cached.
_ARTIFACT_CACHE: dict[tuple, tuple[tuple, object]] = {}
_ARTIFACT_LOCK = threading.Lock()


def _artifact_sig(spark: SparkSession, path: str) -> tuple | None:
    fs, jp = fs_path(spark, path)
    if not fs.exists(jp):
        return None
    summ = fs.getContentSummary(jp)
    return (fs.getFileStatus(jp).getModificationTime(),
            summ.getFileCount(), summ.getLength())


def _cached_artifact(spark: SparkSession, index_dir: str, name: str,
                     read):
    """``read()`` once per (app, dir, signature); thereafter serve
    the driver-local value until the artifact dir's signature moves."""
    path = f"{index_dir}/{name}"
    sig = _artifact_sig(spark, path)
    key = (spark.sparkContext.applicationId,
           os.path.abspath(index_dir.rstrip("/")), name)
    if sig is not None:
        with _ARTIFACT_LOCK:
            cached = _ARTIFACT_CACHE.get(key)
        if cached is not None and cached[0] == sig:
            return cached[1]
    value = read()
    if sig is not None:
        with _ARTIFACT_LOCK:
            _ARTIFACT_CACHE[key] = (sig, value)
    return value


def _read_meta(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    from ..sources.io import read_hidden_parquet

    def read():
        row = read_hidden_parquet(spark,
                                  f"{index_dir}/{_META}").collect()
        if len(row) != 1:
            raise ValueError(f"corrupt index meta at {index_dir}: "
                             f"{len(row)} rows, expected 1")
        return int(row[0]["dim"]), int(row[0]["n_planes"])

    return _cached_artifact(spark, index_dir, _META, read)


def _read_ranges(spark: SparkSession, index_dir: str) -> list | None:
    """The frozen quantization ranges, or None for a float-only
    index. Hadoop-FS existence check so object stores work the same
    as local FS."""
    fs, jpath = fs_path(spark, f"{index_dir}/{_RANGES}")
    if not fs.exists(jpath):
        return None
    from ..sources.io import read_hidden_parquet

    def read():
        rows = read_hidden_parquet(spark,
                                   f"{index_dir}/{_RANGES}").collect()
        return [(r["lo"], r["hi"])
                for r in sorted(rows, key=lambda r: r["i"])]

    return _cached_artifact(spark, index_dir, _RANGES, read)


def append_to_index(batch: DataFrame, index_dir: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    monitor_saturation: bool = True) -> dict | None:
    """Assign a new batch with the index's OWN recorded planes (meta
    dim/n_planes — deterministic, so old and new rows agree on every
    cell boundary) and append into the CURRENT version's cell
    directories (appends add files, never touch existing ones — safe
    under concurrent searches; serialize appends against
    `compact_index` per the module contract). A quantized index
    encodes the batch against its FROZEN ranges.

    For a quantized index this also MEASURES what the frozen ranges
    clip (`quantize.saturation_report`, one extra batch-sized agg
    pass — skippable with ``monitor_saturation=False``), appends the
    numbers to the ``_index_saturation`` history parquet beside the
    cells (query it with :func:`saturation_history`), warns once the
    batch crosses `SATURATION_REBUILD_THRESHOLD`, and returns the
    report. Float indexes return None. The history row is written
    AFTER the cell append commits, so a FAILED append (NULL vector,
    wrong dimension, any job failure) can never log a phantom
    measurement for data that isn't in the index (review r10
    finding); an at-least-once replay still re-measures the same
    batch — duplicate history rows are as harmless as the duplicate
    cell rows the search already dedupes.

    Serialized by the writer lease (`sources.lease`)."""
    from ..sources.lease import writer_lease

    with writer_lease(batch.sparkSession, index_dir,
                      "append_to_index"):
        return _append_to_index_unlocked(batch, index_dir, vec_col,
                                         id_col, monitor_saturation)


def _append_to_index_unlocked(batch, index_dir, vec_col, id_col,
                              monitor_saturation):
    from .quantize import encode_codes, saturation_report

    spark = batch.sparkSession
    dim, n_planes = _read_meta(spark, index_dir)
    cells = _cells_path(spark, index_dir, None, "append_to_index")
    # the stored schema is self-describing: kept metadata columns
    # (filtered-search surface) are whatever the layout carries
    # beyond the core four — a batch missing one refuses by name
    # instead of appending NULL-metadata rows a `where` filter would
    # silently exclude
    stored = set(spark.read.parquet(cells).schema.names)
    kept = tuple(sorted(stored - {"neighbor_id", "vec", "codes",
                                  "cell"}))
    missing = [c for c in kept if c not in batch.columns]
    if missing:
        raise ValueError(
            f"append_to_index: the index stores metadata columns "
            f"{sorted(kept)} (keep_cols at build) but the batch "
            f"lacks {missing}")
    assigned = _assign(batch, vec_col, id_col, dim, n_planes, kept)
    ranges = _read_ranges(spark, index_dir)
    report = None
    if ranges is not None and monitor_saturation:
        report = saturation_report(batch, ranges, vec_col)
    if ranges is not None:
        assigned = assigned.withColumn(
            "codes", encode_codes(F.col("vec"), ranges))
    # renew-or-abort immediately before the durable append (verdict
    # r11 #1): a >TTL stall between acquisition and here must not
    # let this batch land beside a new writer's files
    from ..sources.lease import commit_gate

    commit_gate(spark, index_dir, "append_to_index publish")
    (assigned.write.mode("append").partitionBy("cell")
     .parquet(cells))
    # restore-on-append: re-adding an id is the intent to serve it
    # again — drop any delete marker the batch's ids match (the
    # curated-corpus tombstone-restore rule), via the shared
    # `_undelete_unlocked` (this writer already holds the lease).
    _undelete_unlocked(spark, index_dir,
                       batch.select(F.col(id_col)
                                    .alias("neighbor_id")))
    if report is not None:
        (spark.createDataFrame(
            [(int(report["rows"]), int(report["rows_clipped"]),
              float(report["row_fraction"]),
              int(report["clipped_values"]),
              int(report["finite_values"]),
              float(report["value_fraction"]),
              int(report["worst_dim"]),
              float(report["worst_dim_fraction"]),
              [int(c) for c in report["per_dim"]])],
            "rows long, rows_clipped long, row_fraction double, "
            "clipped_values long, finite_values long, "
            "value_fraction double, "
            "worst_dim int, worst_dim_fraction double, "
            "per_dim array<long>")
         .coalesce(1).write.mode("append")
         .parquet(f"{index_dir}/{_SATURATION}"))
        if report["value_fraction"] > SATURATION_REBUILD_THRESHOLD:
            import warnings

            warnings.warn(
                f"quantized index {index_dir}: appended batch "
                f"saturates {report['value_fraction']:.2%} of its "
                f"finite values "
                f"(> {SATURATION_REBUILD_THRESHOLD:.0%} rebuild "
                f"threshold; worst dim {report['worst_dim']} clips "
                f"{report['worst_dim_fraction']:.2%} of rows) — "
                f"screen recall is degrading; rebuild with fresh "
                f"ranges (see SATURATION_REBUILD_THRESHOLD)",
                stacklevel=2)
    return report


def saturation_history(spark: SparkSession, index_dir: str
                       ) -> DataFrame | None:
    """The per-append saturation log of a quantized index (one row
    per monitored append, schema per `append_to_index`), or None when
    no appends have been monitored yet — the operational surface an
    operator trends to schedule a rebuild before recall erodes."""
    fs, jpath = fs_path(spark, f"{index_dir}/{_SATURATION}")
    if not fs.exists(jpath):
        return None
    from ..sources.io import read_hidden_parquet

    return read_hidden_parquet(spark, f"{index_dir}/{_SATURATION}")


def index_cell_stats(spark: SparkSession, index_dir: str,
                     version: int | None = None) -> dict:
    """Per-cell occupancy of the persistent index — the first thing
    an operator asks of a 100 TB deployment, answered WITHOUT
    scanning vector bytes: the count groups on the partition column
    alone, so the parquet scan reads footers/row-group counts, never
    a data page (zero columns in ReadSchema).

    Returns (all bounded by 2^n_planes):

    * ``n_rows`` / ``n_cells`` / ``expected_cells`` /
      ``empty_cells`` — occupancy overview (empty cells cost nothing;
      they simply have no directory);
    * ``per_cell`` — [(cell, rows, share)] sorted hottest-first;
    * ``top_share`` / ``mean_share`` / ``skew_ratio`` — the hottest
      cell's corpus share vs the uniform 1/2^n_planes, the
      `operators.skew` decision number (``skew_ratio`` > 1 is
      expected on real data; > `CELL_SKEW_WARN_RATIO` means searches
      probing that cell degrade toward a full scan);
    * ``worst_probe_share`` — the corpus fraction an adjacent-probe
      search can touch in the worst case: the sum of the heaviest
      n_planes+1 cell shares (a probe set is the query's cell plus
      its n_planes one-bit neighbors; this bounds ANY probe set from
      above). Compare with the isotropic ideal
      (n_planes+1)/2^n_planes.

    ``version`` pins a published layout (latest by default); the
    returned dict carries it as ``version``."""
    dim, n_planes = _read_meta(spark, index_dir)
    cells = _cells_path(spark, index_dir, version, "index_cell_stats")
    rows = (spark.read.parquet(cells)
            .groupBy("cell").count().collect())
    per_cell = sorted(((r["cell"], int(r["count"])) for r in rows),
                      key=lambda t: (-t[1], t[0]))
    n_rows = sum(c for _, c in per_cell)
    expected = 2 ** n_planes
    shares = [(cell, c, c / n_rows if n_rows else 0.0)
              for cell, c in per_cell]
    top_share = shares[0][2] if shares else 0.0
    probe = min(n_planes + 1, len(shares))
    tail = cells.rsplit("/", 1)[1]
    dels = _read_deletes(spark, index_dir)
    pending = (dels.select("neighbor_id").distinct().count()
               if dels is not None else 0)
    return {
        "version": int(tail[2:]) if tail.startswith("v=") else 0,
        # stats are PHYSICAL occupancy; pending deletes are hidden
        # from searches but still cost scan bytes until a compaction
        # applies them (distinct ids — re-issued markers don't
        # inflate the number)
        "pending_deletes": pending,
        # the operator nudge (verdict r10): past the cap every
        # search pays the checkpoint-broadcast marker path —
        # compact_index applies the markers physically and resets it
        "compact_recommended": pending > DELETE_MARKER_VALUES_CAP,
        "n_rows": n_rows,
        "n_cells": len(shares),
        "expected_cells": expected,
        "empty_cells": expected - len(shares),
        "per_cell": shares,
        "top_share": top_share,
        "mean_share": 1.0 / expected,
        "skew_ratio": top_share * expected,
        "worst_probe_share": sum(s for _, _, s in shares[:probe]),
    }


def _probed_queries(spark: SparkSession, index_dir: str,
                    queries: DataFrame, vec_col: str, id_col: str,
                    probe_adjacent: bool, what: str):
    """(q, probed): queries exploded to their multi-probe cells, and
    the DISTINCT probed-cell list (≤ 2^n_planes strings regardless of
    query count) — the shared front half of every index search."""
    dim, n_planes = _read_meta(spark, index_dir)
    planes = _make_planes(dim, n_planes)
    q = _prep(queries, vec_col, id_col, "query_id").withColumn(
        "cell", _cell_key(F.col("query_id_v"), planes))
    q = q.select("query_id", "query_id_v",
                 F.explode(_probe_cells(F.col("cell"), n_planes,
                                        probe_adjacent))
                  .alias("cell")).distinct()
    probed = [r["cell"] for r in q.select("cell").distinct().collect()]
    if not probed:
        raise ValueError(f"{what}: empty query set")
    return q, probed


def _read_deletes(spark: SparkSession,
                  index_dir: str) -> DataFrame | None:
    """The delete-marker ids, or None when none have been issued —
    via `io.read_state_dir`, so a restore-on-append crash mid-swap
    falls back to the parked previous markers (one step stale =
    previously-hidden ids stay hidden; markers never vanish)."""
    from ..sources.io import read_state_dir

    return read_state_dir(spark, f"{index_dir}/{_DELETES}")


def _is_transient_missing_path(exc: Exception) -> bool:
    """True only for the faults a concurrent marker-dir swap actually
    produces — a path that vanished between our existence check and
    the read. Classified by EXCEPTION CLASS, not message substrings
    (ADVICE r11: free-text matching is brittle across Spark versions/
    locales and can misfire on deterministic errors): plan-time reads
    surface as `AnalysisException` with error condition
    ``PATH_NOT_FOUND``; runtime jobs surface as a Py4J error whose
    java cause chain contains ``java.io.FileNotFoundException``
    (both probed against this Spark build in tests)."""
    if isinstance(exc, FileNotFoundError):
        return True
    try:
        from pyspark.errors import AnalysisException

        if isinstance(exc, AnalysisException):
            get = getattr(exc, "getCondition", None) \
                or getattr(exc, "getErrorClass", None)
            return bool(get) and get() == "PATH_NOT_FOUND"
    except ImportError:
        pass
    je = getattr(exc, "java_exception", None)
    for _ in range(8):                    # bounded cause-chain walk
        if je is None:
            return False
        try:
            if "FileNotFoundException" in je.getClass().getName():
                return True
            je = je.getCause()
        except Exception:
            return False
    return False


# One marker snapshot per (index_dir, marker-dir state) — ADVICE r11:
# the over-cap path pinned a fresh localCheckpoint on EVERY search and
# the blocks were freed only at driver GC, so a high-QPS serving loop
# steadily accumulated executor storage. The cache keys on a cheap
# filesystem signature of the resolved marker dir (path + mtime +
# file count + byte length — one listing RPC per search) and reuses
# the snapshot until a maintenance write changes it. Superseded
# snapshots are NOT explicitly unpersisted: an earlier search's
# still-lazy plan may reference the truncated-lineage blocks (an
# unpersist would make that plan unrecomputable); dropping our cache
# reference lets the ContextCleaner free the blocks as soon as the
# last referencing plan is GC'd — bounded by live plans instead of by
# search count.
# Invalidation under marker churn (verdict r14 #8): every hit is
# gated on the filesystem signature (_marker_state_sig — path, mtime,
# file count, byte length of the marker dir), and every writer that
# changes the exclusion set rewrites that dir — delete_from_index
# appends, append_to_index's restore-on-append drops matched markers
# via _undelete_unlocked — so an append BETWEEN searches changes the
# sig and the next search snapshots fresh markers instead of serving
# the stale exclusion (pinned by
# test_marker_snapshot_cache_invalidates_on_append).
_MARKER_SNAP_CACHE: dict[tuple, tuple[tuple, DataFrame]] = {}
_MARKER_SNAP_LOCK = threading.Lock()

# Below this many probed-cell FLOAT vector bytes the int8 screen's
# second scan costs more than its ¾-byte saving and the float tier is
# the faster serve. MEASURED (r15 `--quant-crossover` leg, synthetic
# full-rank corpora, warm median-of-3, local[32], BASELINE.md
# round-15 table): the screen does NOT cross over at ANY locally
# measurable point — quant/float warm ratio 1.75× at 32k×64 d
# (16 MiB), 2.7× at 128k×64 d, 3.9× at 32k–128k×256 d (64–256 MiB),
# 4.5–4.6× at 32k–128k×512 d (128–512 MiB) — and the ratio GROWS
# with dims, because on page-cached local storage the scan is
# compute-bound, so the screen's own O(n·d) int8 arithmetic +
# re-rank second scan scale faster than the ¾-byte I/O saving it
# buys. Conclusion written into the constant: the payoff condition
# is not a corpus/dim size but a STORAGE-BANDWIDTH one — the tier
# pays only where the float scan is genuinely byte-bound (cold
# object store / network-attached parquet, where cutting bytes 4×
# cuts wall ~4×), which no warm-local measurement can reproduce.
# The constant stays at the 2 GiB regime bound (≈ 1M × 256 d × 8 B,
# past any page cache) so the advisory warning never fires in the
# measured no-payoff band yet still flags layouts whose probed bytes
# are small enough that even a byte-bound scan wouldn't pay.
QUANTIZED_PAYOFF_BYTES = 2 * 1024 ** 3

# cells path -> {cell: rows} from a footer-only count (zero columns
# in ReadSchema), computed once per published layout per process —
# the path embeds v=N so a compaction naturally re-keys; same-version
# appends can stale it, which only skews an advisory warning.
_CELL_ROWS_CACHE: dict[str, dict[str, int]] = {}
_CELL_ROWS_LOCK = threading.Lock()


def _probed_float_bytes(spark: SparkSession, cells: str,
                        probed: list, dim: int) -> int:
    """Estimated float vector bytes a search will scan: probed-cell
    rows × dim × 8. Advisory only (feeds the payoff warning below)."""
    with _CELL_ROWS_LOCK:
        per_cell = _CELL_ROWS_CACHE.get(cells)
    if per_cell is None:
        # partition-type inference reads the fixed-width bit-string
        # cell keys ("010") back as base-10 ints (10); normalize both
        # sides through int so the lookup matches either reading —
        # fixed width makes the base-10 image injective
        per_cell = {str(int(str(r["cell"]))): int(r["count"]) for r in
                    spark.read.parquet(cells)
                    .groupBy("cell").count().collect()}
        with _CELL_ROWS_LOCK:
            _CELL_ROWS_CACHE[cells] = per_cell
    return sum(per_cell.get(str(int(str(c))), 0)
               for c in probed) * dim * 8


def _warn_below_quantized_payoff(spark: SparkSession, cells: str,
                                 probed: list, dim: int) -> None:
    """Verdict r11 #7: nothing in the API steered a caller away from
    paying the int8 screen below its payoff regime. Advisory only —
    never raises, never blocks (an estimate must not take down
    serving)."""
    try:
        est = _probed_float_bytes(spark, cells, probed, dim)
    except Exception:
        return
    if est >= QUANTIZED_PAYOFF_BYTES:
        return
    warnings.warn(
        f"ann_index_search_quantized: this search probes ≈"
        f"{est / 2**20:.1f} MiB of float vectors — below the "
        f"quantized tier's measured payoff regime "
        f"(QUANTIZED_PAYOFF_BYTES = {QUANTIZED_PAYOFF_BYTES / 2**30:.0f}"
        f" GiB; at 128k×64d the int8 screen's second scan cost more "
        f"than its byte saving, BASELINE.md hybrid legs). "
        f"ann_index_search (float tier) is likely faster here; the "
        f"quantized tier pays off on byte-bound scans "
        f"(≳1M vectors × ≳256 dims, or object-store bandwidth).")


def _marker_state_sig(spark: SparkSession,
                      index_dir: str) -> tuple | None:
    """Filesystem signature of the marker state `read_state_dir`
    would resolve (live dir, else the crash-parked ``__bak``), or
    None when absent."""
    base = f"{index_dir}/{_DELETES}"
    for p in (base, base + "__bak"):
        sig = _artifact_sig(spark, p)
        if sig is not None:
            return (p, *sig)
    return None


def _minus_deletes(spark: SparkSession, index_dir: str,
                   corpus: DataFrame) -> DataFrame:
    """Anti-join the delete markers out of an index scan. Below
    `DELETE_MARKER_VALUES_CAP` distinct ids the markers are COLLECTED
    at plan time into a driver-local relation (parallelized rows), so
    the search plan carries literal values, never references to the
    marker files: a concurrent
    restore-on-append rewriting or deleting the marker dir cannot
    fail an in-flight search (review r10 — a file-backed anti-join
    broke the 'searches need no coordination' contract), and every
    search sees one consistent marker snapshot. PAST the cap (a
    compliance sweep that out-ran compaction) the collect would make
    every search plan a multi-MB literal list and a driver hazard
    (verdict r10 — the repo's only unbounded-by-construction
    collect), so the ids switch to an EAGER `localCheckpoint` that
    materializes one marker snapshot into executor block storage at
    plan time, anti-joined with a pinned ``shuffle_hash`` (NOT
    broadcast — a broadcast build side is collected to the driver,
    which would quietly reintroduce the O(markers) driver cost the
    cap exists to remove; review r11). Either mode's plan carries
    zero marker-file references, and survivors are identical (same
    distinct-id left_anti; mode choice + identity pytest-pinned).
    The marker READS themselves (the deciding collect / the
    checkpoint job) retry once: a concurrent restore-on-append swap
    renaming the dir between our existence check and the read is a
    tiny but real window (review r11), and one re-resolve lands on
    the post-swap state. No-op when no markers exist."""
    global _last_marker_mode
    for attempt in (0, 1):
        try:
            # signature FIRST, data after: a swap landing between the
            # two maps the OLD signature to post-swap data — the next
            # search then misses the cache and refreshes, which is
            # the safe direction (never a fresh signature pinning
            # pre-swap markers)
            sig = _marker_state_sig(spark, index_dir)
            dels = _read_deletes(spark, index_dir)
            if dels is None:
                _last_marker_mode = "none"
                return corpus
            ids = dels.select("neighbor_id").distinct()
            # one job in the common path: fetch cap+1 — a full
            # result means "over"
            rows = ids.limit(DELETE_MARKER_VALUES_CAP + 1).collect()
            if not rows:
                _last_marker_mode = "none"
                return corpus
            if len(rows) <= DELETE_MARKER_VALUES_CAP:
                _last_marker_mode = "values"
                local = spark.createDataFrame(rows, ids.schema)
                return corpus.join(F.broadcast(local),
                                   "neighbor_id", "left_anti")
            _last_marker_mode = "checkpoint"
            # keyed by application id as well as path: a pinned
            # snapshot's blocks die with their SparkContext, so a
            # cache hit from a PREVIOUS session would join against a
            # stopped context and fail every over-cap search until
            # process restart (review r12 — crash recovery and test
            # harnesses restart sessions in-process routinely)
            key = (spark.sparkContext.applicationId,
                   os.path.abspath(index_dir.rstrip("/")))
            with _MARKER_SNAP_LOCK:
                cached = _MARKER_SNAP_CACHE.get(key)
            if cached is not None and cached[0] == sig:
                snap = cached[1]
            else:
                # session.pin, not a direct localCheckpoint (the
                # source-hygiene rule): truncate=True so BOTH
                # durability modes materialize an eager, lineage-
                # truncated snapshot — a durable persist(DISK_ONLY)
                # would keep marker-FILE lineage that an executor
                # loss recomputes from files a concurrent rewrite
                # may have swapped away
                from ..session import pin

                snap = pin(ids, truncate=True)
                with _MARKER_SNAP_LOCK:
                    _MARKER_SNAP_CACHE[key] = (sig, snap)
            return corpus.join(snap.hint("shuffle_hash"),
                               "neighbor_id", "left_anti")
        except Exception as exc:
            # retry ONLY what the swap window actually produces —
            # vanished files/paths between the existence check and
            # the read job, classified by exception class
            # (`_is_transient_missing_path`; ADVICE r11 — substring
            # matching was brittle). A deterministic fault (corrupt
            # footer, schema error) must surface first-error, once,
            # not run the doomed jobs twice with the cause swallowed
            # (review r11).
            if attempt or not _is_transient_missing_path(exc):
                raise


# observability breadcrumb: which marker path the LAST _minus_deletes
# call took ("none" / "values" / "checkpoint") — read by the mode-
# choice pytest; never consulted by engine code
_last_marker_mode = "none"


def delete_from_index(spark: SparkSession, index_dir: str,
                      ids) -> dict:
    """Issue takedown markers: ``ids`` (a DataFrame whose first
    column is the id, or a plain Python list) stop appearing in ANY
    search — every pinned version, effective immediately — without
    touching a cell file. Physical removal happens at the next
    `compact_index`; marker GC is `clear_index_deletes` (see the
    module contract for the ordering rules). A maintenance WRITE:
    serialize with appends/compactions/vacuums. Returns
    {"deleted": n} — distinct NEW-call ids; re-issuing a marker is a
    harmless set-membership no-op.

    Markers are stored AS THE INDEX'S id type (read from the cell
    schema), whatever branch supplied them — mixed-type appends into
    one marker dir would brick every later search's read. An id that
    CANNOT be cast to that type raises (ADVICE r10: the cast turned
    it into a NULL marker that no anti-join ever matches — a takedown
    that silently did not take down, while still being counted); NULL
    input ids are dropped and not counted. When the pending-marker
    set crosses `DELETE_MARKER_VALUES_CAP` this warns to run
    `compact_index` (which applies markers physically). Serialized
    by the writer lease (`sources.lease`)."""
    if not isinstance(ids, DataFrame) and not ids:
        return {"deleted": 0}
    from ..sources.lease import writer_lease

    with writer_lease(spark, index_dir, "delete_from_index"):
        return _delete_from_index_unlocked(spark, index_dir, ids)


def _delete_from_index_unlocked(spark, index_dir, ids):
    cells = _cells_path(spark, index_dir, None, "delete_from_index")
    id_type = spark.read.parquet(cells).schema["neighbor_id"].dataType
    if isinstance(ids, DataFrame):
        raw = ids.select(F.col(ids.columns[0]).alias("__raw"))
    else:
        raw = spark.createDataFrame([(i,) for i in ids], ["__raw"])
    # try_cast, not cast: ANSI mode would abort the job mid-task on
    # the first malformed id; try_cast lets the check below name ALL
    # the offenders in one error (and non-ANSI cast's silent NULL is
    # exactly the silent-no-op this guards against)
    cast = raw.select("__raw", F.col("__raw").try_cast(id_type)
                      .alias("neighbor_id"))
    bad = [r["__raw"] for r in
           cast.filter(F.col("__raw").isNotNull()
                       & F.col("neighbor_id").isNull())
           .select("__raw").distinct().limit(10).collect()]
    if bad:
        raise TypeError(
            f"delete_from_index: ids {bad} cannot be cast to the "
            f"index id type {id_type.simpleString()} — the takedown "
            f"would silently not take down those rows")
    dels = (cast.select("neighbor_id")
            .filter(F.col("neighbor_id").isNotNull()).distinct())
    n = dels.count()
    if n:
        from ..sources.io import heal_state_dir
        from ..sources.lease import commit_gate

        # renew-or-abort before the marker append + heal (verdict
        # r11 #1 — the heal is itself a writer action)
        commit_gate(spark, index_dir, "delete_from_index publish")
        # ADVICE r10: appending after an unhealed mid-swap crash
        # creates a fresh live dir that shadows the parked __bak,
        # silently resurrecting every pre-crash marker
        heal_state_dir(spark, f"{index_dir}/{_DELETES}")
        dels.write.mode("append").parquet(f"{index_dir}/{_DELETES}")
        pending = (_read_deletes(spark, index_dir)
                   .select("neighbor_id").distinct().count())
        if pending > DELETE_MARKER_VALUES_CAP:
            import warnings

            warnings.warn(
                f"ANN index {index_dir}: {pending} pending delete "
                f"markers exceed DELETE_MARKER_VALUES_CAP="
                f"{DELETE_MARKER_VALUES_CAP} — searches have "
                f"switched to the checkpoint-broadcast marker path; "
                f"run compact_index to apply the markers physically "
                f"(then vacuum_index + clear_index_deletes per the "
                f"GC ordering rules)", stacklevel=2)
    return {"deleted": n}


def _undelete_unlocked(spark: SparkSession, index_dir: str,
                       ids: DataFrame) -> int:
    """Drop the delete markers matching ``ids`` (first column, cast
    to the stored id type — an uncastable id simply matches nothing;
    un-hiding is the safe direction for a silent no-op, unlike
    `delete_from_index`'s loud refusal). The rewrite goes through
    `io.replace_state_dir` (staged + swap): an in-place overwrite
    would lose EVERY marker — including takedowns for unrelated ids
    — on a mid-write crash (review r10). Caller holds the writer
    lease. Returns the number of distinct markers dropped."""
    dels = _read_deletes(spark, index_dir)
    if dels is None:
        return 0
    from ..sources.io import drop_state_dir, replace_state_dir

    id_type = dels.schema["neighbor_id"].dataType
    keys = (ids.select(F.col(ids.columns[0]).try_cast(id_type)
                       .alias("neighbor_id"))
            .filter(F.col("neighbor_id").isNotNull()).distinct())
    hit = (dels.join(keys, "neighbor_id", "semi")
           .select("neighbor_id").distinct())
    # gate with take(1): the common case on the per-batch append
    # path is "no marker matches", and a full count there is pure
    # overhead (review r11 — the pre-refactor code short-circuited
    # the same way); the count runs only on the rare matched path,
    # where a rewrite follows anyway
    if not hit.take(1):
        return 0
    n = hit.count()
    remaining = dels.join(keys, "neighbor_id", "left_anti")
    # renew-or-abort before the marker-pool rewrite (verdict r11 #1)
    from ..sources.lease import commit_gate

    commit_gate(spark, index_dir, "undelete_from_index publish")
    if remaining.take(1):
        replace_state_dir(remaining, f"{index_dir}/{_DELETES}")
    else:
        drop_state_dir(spark, f"{index_dir}/{_DELETES}")
    return n


def undelete_from_index(spark: SparkSession, index_dir: str,
                        ids) -> dict:
    """The explicit un-takedown: drop delete markers for ``ids`` (a
    DataFrame whose first column is the id, or a plain list) so the
    still-physically-present rows serve again — the restore
    direction of the compliance loop. `append_to_index` does this
    implicitly for re-added rows; this entry point covers restores
    where the row never left the cells (e.g. a snapshot-diff REVERT,
    whose doc is restored in the curated view without re-ingestion —
    review r11: without it, a reverted doc reappeared in
    `read_curated` but stayed excluded from vector serving forever).
    A maintenance WRITE under the writer lease. Returns
    {"restored": n} — distinct markers dropped."""
    if not isinstance(ids, DataFrame):
        if not ids:
            return {"restored": 0}
        ids = spark.createDataFrame([(i,) for i in ids],
                                    ["neighbor_id"])
    from ..sources.lease import writer_lease

    with writer_lease(spark, index_dir, "undelete_from_index"):
        return {"restored": _undelete_unlocked(spark, index_dir,
                                               ids)}


def clear_index_deletes(spark: SparkSession, index_dir: str) -> dict:
    """Drop the delete-marker dir — the explicit GC. ONLY legal once
    every retained version was published AFTER the markers (compact
    applied them physically and vacuum retired the pre-delete
    versions); clearing earlier resurrects deleted rows in any older
    pinned version. Returns {"cleared": n}. Serialized by the writer
    lease (`sources.lease`)."""
    from ..sources.io import drop_state_dir
    from ..sources.lease import commit_gate, writer_lease

    with writer_lease(spark, index_dir, "clear_index_deletes"):
        dels = _read_deletes(spark, index_dir)
        n = (dels.select("neighbor_id").distinct().count()
             if dels is not None else 0)
        # renew-or-abort before the destructive GC (verdict r11 #1)
        commit_gate(spark, index_dir, "clear_index_deletes publish")
        drop_state_dir(spark, f"{index_dir}/{_DELETES}")
        return {"cleared": n}


def ann_index_search(spark: SparkSession, index_dir: str,
                     queries: DataFrame, k: int,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     probe_adjacent: bool = True,
                     score_kernel: str | None = None,
                     exclude_self: bool = True,
                     version: int | None = None,
                     where=None) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): `ivf_topk` semantics
    against the stored index. The probed cells are collected as a
    DISTINCT set (≤ 2^n_planes strings) and pushed as a partition
    filter, so the scan enumerates only the probed directories —
    `plans.explain.assert_partition_pruned`-checkable. The scan PINS
    one published cell-layout version (latest at plan time, or
    ``version=`` to time-travel) — see the module's concurrency
    contract.

    ``where`` (a Column or SQL string over the build's ``keep_cols``
    metadata) makes this a FILTERED vector search: the predicate
    applies to the pruned scan — reaching the parquet reader as a
    pushed filter for simple comparisons — and ranks re-close over
    the qualifying corpus, identical to searching an index built from
    only the qualifying rows (pytest-pinned)."""
    cells = _cells_path(spark, index_dir, version, "ann_index_search")
    q, probed = _probed_queries(spark, index_dir, queries, vec_col,
                                id_col, probe_adjacent,
                                "ann_index_search")
    scan = (spark.read.parquet(cells)
            .filter(F.col("cell").isin(probed)))
    if where is not None:
        scan = scan.filter(where)
    corpus = _minus_deletes(
        spark, index_dir,
        scan.select("neighbor_id",
                    F.col("vec").alias("neighbor_id_v"), "cell"))
    pairs = corpus.join(F.broadcast(q), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = _score_pairs(pairs, score_kernel)
    # dedupe BEFORE ranking: an at-least-once streaming append can
    # leave bit-identical duplicate index rows, and row_number would
    # hand one neighbor two ranks — evicting a distinct neighbor
    # from the top-k and shifting every rank below it. Duplicates
    # are exact copies (same id → same vector → same cosine), so
    # keeping any one is exact; on a duplicate-free index this is a
    # no-op and results stay bit-identical to `ivf_topk`.
    scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "neighbor_id", "cosine",
                          "rank"))


def _quantized_shortlist(spark: SparkSession, index_dir: str,
                         cells: str,
                         q: DataFrame, probed: list, ranges: list,
                         shortlist: int, exclude_self: bool,
                         kernel: str = "arrow",
                         where=None) -> DataFrame:
    """(query_id, neighbor_id): the int8 screen — a pruned scan of
    ONLY (neighbor_id, codes), dequantized cosine vs the broadcast
    queries, duplicate pairs dropped, top ``shortlist`` per query.
    Unpinned — the search pins it; tests assert the codes-without-vec
    ReadSchema here.

    ``kernel="arrow"`` (default — the per-PAIR fold is the hot loop)
    dequantizes and scores whole Arrow batches with numpy; the
    ``"sql"`` fold (`V.cosine` over `dequantize`) is interpreted
    CodegenFallback per pair and measured 2.5x SUPERLINEAR on the
    64x index stress leg. Kernel choice only reorders the shortlist
    at 6-dp rounding margins; the exact rerank re-scores survivors
    either way (pytest pins top-k identity under both)."""
    scan = (spark.read.parquet(cells)
            .filter(F.col("cell").isin(probed)))
    if where is not None:
        scan = scan.filter(where)
    screen = _minus_deletes(
        spark, index_dir,
        scan.select("neighbor_id", "codes", "cell"))
    pairs = screen.join(F.broadcast(q), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    if kernel == "sql":
        from .quantize import dequantize

        approx = F.nanvl(
            V.cosine(F.col("query_id_v"),
                     dequantize(F.col("codes"), ranges)), F.lit(0.0))
        scored = (pairs.withColumn("approx", approx)
                  .select("query_id", "neighbor_id", "approx"))
    elif kernel == "arrow":
        from collections.abc import Iterator

        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        from .quantize import _spans

        los_l, spans_l = _spans(ranges)   # shared degenerate-dim rule
        los = np.array(los_l, dtype=np.float64)
        spans = np.array(spans_l, dtype=np.float64)
        schema = T.StructType([pairs.schema["query_id"],
                               pairs.schema["neighbor_id"],
                               T.StructField("approx",
                                             T.DoubleType())])

        def stack_codes(series: pd.Series) -> np.ndarray:
            # fast path: the shared stack_batch (plain asarray rows).
            # It raises on NULL code elements (corrupt encodes) —
            # only THOSE batches pay the pandas None→NaN conversion,
            # whose list-of-lists constructor measured 83 s vs ~6 s
            # at 4M pairs when used unconditionally. NaN falls
            # through the finite guard to 0.0 — the family's
            # degenerate policy, same as _score_pairs.
            try:
                return V.stack_batch(series)
            except (TypeError, ValueError):
                return pd.DataFrame(series.tolist()) \
                    .to_numpy(dtype=np.float64)

        def score(batches: Iterator[pd.DataFrame]
                  ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                C = stack_codes(pdf["codes"])
                Fm = (C + 127.0) / 254.0 * spans + los
                Q = V.stack_batch(pdf["query_id_v"])
                denom = (np.linalg.norm(Q, axis=1)
                         * np.linalg.norm(Fm, axis=1))
                dots = np.einsum("ij,ij->i", Q, Fm)
                with np.errstate(invalid="ignore", over="ignore"):
                    cos = np.divide(dots, denom,
                                    out=np.zeros_like(dots),
                                    where=denom > 0)
                cos[~np.isfinite(cos)] = 0.0
                out = pdf[["query_id", "neighbor_id"]].copy()
                out["approx"] = np.round(cos, 6)
                yield out

        scored = pairs.mapInPandas(score, schema)
    else:
        raise ValueError(f"unknown screen kernel {kernel!r}")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id"))
    return (scored
            .dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= shortlist)
            .select("query_id", "neighbor_id"))


def ann_index_search_quantized(spark: SparkSession, index_dir: str,
                               queries: DataFrame, k: int,
                               shortlist: int | None = None,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               probe_adjacent: bool = True,
                               exclude_self: bool = True,
                               screen_kernel: str = "arrow",
                               version: int | None = None,
                               where=None) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): two partition-pruned
    scans instead of one full-precision scan — the int8 screen reads
    ONLY (neighbor_id, codes) from the probed cells (¼ the vector
    bytes; the float ``vec`` column is pruned out of the scan's
    ReadSchema), keeps ``shortlist`` (default 5·k) candidates per
    query by dequantized cosine, then `pq.exact_rerank` re-scores the
    few survivors against a second pruned scan of (neighbor_id, vec).
    Output cosines are therefore bit-identical to the exact kernel;
    recall is the int8 screen's (near-1 at scalar-quant resolution).
    Requires a ``quantize=True`` index; refuses otherwise. Duplicate
    rows from at-least-once streamed appends are deduped before the
    screen's ranking window and (shortlist-sized, post-semi-join)
    before the rerank.

    Contract divergence from `ann_index_search`, shared with the
    whole `exact_rerank` family (pq_topk_rerank,
    quantized_topk_rerank): DEGENERATE vectors (zero-norm /
    non-finite) are FILTERED by the rerank's normalization — a
    degenerate query returns zero rows here, where the one-scan
    search returns its k neighbors at cosine 0.0. The two behaviors
    are THE pinned cross-family contract: every search entry point is
    enumerated with its family in
    tests/test_degenerate_contract.py, so a new surface must join
    one side knowingly. (NULL vectors are a separate write-time
    refusal in `_assign`.)

    Both scans (screen and rerank) PIN the same published cell-layout
    version, resolved ONCE here — a compaction publishing between the
    two scans can no longer hand them different generations of the
    corpus."""
    from .pq import exact_rerank

    ranges = _read_ranges(spark, index_dir)
    if ranges is None:
        raise ValueError(
            f"{index_dir} is not a quantized index — build with "
            f"build_ann_index(..., quantize=True)")
    if shortlist is None:
        shortlist = 5 * k
    cells = _cells_path(spark, index_dir, version,
                        "ann_index_search_quantized")
    q, probed = _probed_queries(spark, index_dir, queries, vec_col,
                                id_col, probe_adjacent,
                                "ann_index_search_quantized")
    # one quantization range per dimension, so len(ranges) == dim —
    # no extra meta read on the serving path
    _warn_below_quantized_payoff(spark, cells, probed, len(ranges))
    # `where` filters the SCREEN only; the rerank corpus derives from
    # the screened shortlist via the semi-join below, so it is
    # transitively filtered without re-stating the predicate
    cand = _quantized_shortlist(spark, index_dir, cells, q, probed,
                                ranges, shortlist, exclude_self,
                                screen_kernel, where)
    # the shortlist feeds TWO consumers (the semi-join below and
    # exact_rerank's broadcast): pin it so the whole screen scan +
    # window runs once (the engine's fan-out discipline). The pin
    # also hides the screen from the final plan — the codes-only
    # ReadSchema plan assert therefore runs on _quantized_shortlist
    # itself (tests/test_ann_index.py).
    from ..session import pin

    cand = pin(cand)
    # restrict the float scan to the shortlist BEFORE deduping: the
    # broadcast semi-join keeps the rerank corpus shortlist-sized, so
    # the duplicate guard shuffles a few hundred rows, never the
    # probed cells' full float vectors (which would forfeit the
    # screen's byte saving)
    rerank_corpus = (spark.read.parquet(cells)
                     .filter(F.col("cell").isin(probed))
                     .select(F.col("neighbor_id").alias(id_col),
                             F.col("vec").alias(vec_col))
                     .join(F.broadcast(
                         cand.select(F.col("neighbor_id")
                                     .alias(id_col)).distinct()),
                         id_col, "semi")
                     .dropDuplicates([id_col]))
    return exact_rerank(cand, rerank_corpus, queries, k,
                        vec_col, id_col)
