"""Fault injection for the crash-safe directory replace
(`sources.io._swap_dir`) and every writer that goes through it:
`compact_parquet`, `replace_state_dir`, `compact_curated` and
`compact_semantic_corpus`.

Each writer is killed at the two points where its directory is in
flux, simulated with `os.rename` on the on-disk names:

* after live → parked: the live dir is gone and the data sits in the
  parked copy. The next writer heals it, and the result equals the
  pre-crash rows row for row.
* after staged → live, before the parked copy is deleted: the next
  writer leaves the post-swap rows and no stale parked dir.

Plus the two regressions the shared protocol fixes: `compact_parquet`
healing its own parked dir, and a semantic compaction whose corpus
publish fails keeping the live corpus.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from big_data_bowl___2023_spark.sources.io import (
    compact_parquet,
    read_state_dir,
    replace_state_dir,
)
from big_data_bowl___2023_spark.streaming import (
    apply_snapshot_diff,
    compact_curated,
    make_curation_ingest_batch_fn,
    read_curated,
)
from big_data_bowl___2023_spark.streaming.semantic_stream import (
    compact_semantic_corpus,
    make_semantic_ingest_batch_fn,
)

DOCS = "doc_id long, source string, text string"
VECS = "vec_id long, embedding array<double>"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _kill(spark, *renames):
    """Replay the renames a killed writer had completed. The killed
    process's file-listing caches die with it, so the paths are
    refreshed for the next writer."""
    for src, dst in renames:
        os.rename(src, dst)
        spark.catalog.refreshByPath(src)
        spark.catalog.refreshByPath(dst)


# ------------------------------------------------------ compact_parquet

def _frag(spark, path, n=400, parts=8):
    (spark.range(n).withColumn("v", F.col("id") * 3)
     .repartition(parts).write.parquet(path))
    return _rows(spark.read.parquet(path))


def test_compact_parquet_heals_its_own_parked_dir(spark, tmp_path):
    target = str(tmp_path / "frag")
    want = _frag(spark, target)
    _kill(spark, (target, target + "__compact_old"))

    report = compact_parquet(spark, target)
    assert report["files_before"] == 8 and report["files_after"] == 1
    assert _rows(spark.read.parquet(target)) == want
    assert not os.path.exists(target + "__compact_old")
    assert not os.path.exists(target + "__compact_tmp")


def test_compact_parquet_after_swap_keeps_post_swap_rows(spark,
                                                         tmp_path):
    target = str(tmp_path / "frag")
    _frag(spark, target + "__compact_old", n=500)      # pre-swap copy
    want = _frag(spark, target + "__compact_tmp", parts=1)
    _kill(spark, (target + "__compact_tmp", target))

    compact_parquet(spark, target)
    assert _rows(spark.read.parquet(target)) == want
    assert not os.path.exists(target + "__compact_old")


# ---------------------------------------------------- replace_state_dir

def _state(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_replace_state_dir_kill_after_park(spark, tmp_path):
    state = str(tmp_path / "state")
    replace_state_dir(_state(spark, range(5)), state)
    want = _rows(read_state_dir(spark, state))
    # the killed replace had staged its rows and parked the live dir
    _state(spark, [9]).write.parquet(state + "__new")
    _kill(spark, (state, state + "__bak"))

    # the next writer rewrites from what the read resolves
    replace_state_dir(read_state_dir(spark, state), state)
    assert _rows(read_state_dir(spark, state)) == want
    assert not os.path.exists(state + "__bak")
    assert not os.path.exists(state + "__new")


def test_replace_state_dir_kill_after_swap(spark, tmp_path):
    state = str(tmp_path / "state")
    replace_state_dir(_state(spark, range(5)), state)
    _state(spark, [7, 8]).write.parquet(state + "__new")
    _kill(spark, (state, state + "__bak"), (state + "__new", state))
    want = _rows(read_state_dir(spark, state))
    assert [r[0] for r in want] == [7, 8]

    replace_state_dir(read_state_dir(spark, state), state)
    assert _rows(read_state_dir(spark, state)) == want
    assert not os.path.exists(state + "__bak")


# ------------------------------------------------------ compact_curated

def _doc(i):
    return (i, "src", " ".join(f"w{i}tok{j} common filler text segment"
                               for j in range(13)))


def _tombstoned_corpus(spark, tmp_path):
    """A curated corpus of docs 1-4 with doc 1 tombstoned by a
    snapshot diff — a compaction has rows to drop."""
    out, fp_idx = str(tmp_path / "curated"), str(tmp_path / "fp_idx")
    old = spark.createDataFrame([_doc(i) for i in (1, 2, 3, 4)], DOCS)
    make_curation_ingest_batch_fn(out, fp_idx, min_words=10)(old, 0)
    new = spark.createDataFrame([_doc(i) for i in (2, 3, 4)], DOCS)
    apply_snapshot_diff(spark, old, new, out, fp_idx, batch_id=1,
                        min_words=10)
    return out


def test_compact_curated_kill_after_park(spark, tmp_path):
    out = _tombstoned_corpus(spark, tmp_path)
    want = _rows(read_curated(spark, out))
    assert [r[0] for r in want] == [2, 3, 4]
    read_curated(spark, out).write.parquet(out + "_compacting")
    _kill(spark, (out, out + "_compact_old"))

    rep = compact_curated(spark, out)
    assert rep["rows_before"] == 4 and rep["rows_after"] == 3
    assert _rows(spark.read.parquet(out)) == want
    assert _rows(read_curated(spark, out)) == want
    assert not os.path.exists(out + "_compact_old")
    assert not os.path.exists(out + "_compacting")


def test_compact_curated_kill_after_swap(spark, tmp_path):
    out = _tombstoned_corpus(spark, tmp_path)
    read_curated(spark, out).write.parquet(out + "_compacting")
    _kill(spark, (out, out + "_compact_old"),
          (out + "_compacting", out))
    want = _rows(spark.read.parquet(out))
    assert [r[0] for r in want] == [2, 3, 4]

    compact_curated(spark, out)
    assert _rows(spark.read.parquet(out)) == want
    assert _rows(read_curated(spark, out)) == want
    assert not os.path.exists(out + "_compact_old")
    assert not os.path.exists(out + "_tombstones")


# ---------------------------------------------- compact_semantic_corpus

T = 0.75


def _vecs(spark, ids_degs):
    return spark.createDataFrame(
        [(i, [math.cos(math.radians(d)), math.sin(math.radians(d))])
         for i, d in ids_degs], VECS)


def _ids(spark, path):
    return {r.vec_id for r in
            spark.read.parquet(path).select("vec_id").collect()}


def _semantic_corpus(spark, tmp_path):
    """Two ingested batches of 2-d unit vectors 45 degrees apart (no
    pair reaches cosine T): every id is admitted."""
    out, cb = str(tmp_path / "sem"), str(tmp_path / "cb.json")
    fn = make_semantic_ingest_batch_fn(out, cb, T, dim=2)
    fn(_vecs(spark, [(1, 0), (2, 90), (3, 180), (4, 270)]), 0)
    fn(_vecs(spark, [(5, 45), (6, 135), (7, 225), (8, 315)]), 1)
    assert _ids(spark, out) == set(range(1, 9))
    return out, cb, fn


def test_compact_semantic_kill_after_park(spark, tmp_path):
    out, cb, fn = _semantic_corpus(spark, tmp_path)
    want = _rows(spark.read.parquet(out))
    with open(cb) as fh:
        codebook = fh.read()
    _kill(spark, (out, out + "_compact_old"))

    # the next writer is the ingest loop, redelivering batch 1: it
    # heals instead of bootstrapping a fresh corpus and codebook
    fn(_vecs(spark, [(5, 45), (6, 135), (7, 225), (8, 315)]), 2)
    assert _rows(spark.read.parquet(out)) == want
    assert not os.path.exists(out + "_compact_old")
    with open(cb) as fh:
        assert fh.read() == codebook


def test_compact_semantic_kill_after_swap(spark, tmp_path):
    out, cb, _ = _semantic_corpus(spark, tmp_path)
    (spark.read.parquet(out).filter(F.col("vec_id") <= 4)
     .write.parquet(out + "_compacting"))
    _kill(spark, (out, out + "_compact_old"),
          (out + "_compacting", out))
    want = _rows(spark.read.parquet(out))

    compact_semantic_corpus(spark, out, cb, T, dim=2)
    assert _rows(spark.read.parquet(out)) == want
    assert not os.path.exists(out + "_compact_old")
    assert not os.path.exists(out + "_compacting")


def test_failed_semantic_publish_keeps_live_corpus(spark, tmp_path,
                                                   monkeypatch):
    """One task of any Spark write into the live corpus dir fails
    during compaction. An in-place overwrite deletes the corpus
    before that job runs, and the next batch then bootstraps a fresh
    corpus; the staged swap never writes into the live dir."""
    out, cb, fn = _semantic_corpus(spark, tmp_path)
    before = _ids(spark, out)
    real = DataFrameWriter.parquet

    def failing_task(writer, path, *args, **kwargs):
        if os.path.abspath(path) == os.path.abspath(out):
            bad = writer._df.filter(
                F.assert_true(F.spark_partition_id() > 0).isNull())
            return real(bad.write.mode("overwrite"), path)
        return real(writer, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", failing_task)
        try:
            compact_semantic_corpus(spark, out, cb, T, dim=2)
        except Exception:
            pass
    spark.catalog.refreshByPath(out)
    kept = _ids(spark, out)
    dropped = _ids(spark, out + "_dropped")
    assert kept and before <= kept | dropped

    fn(_vecs(spark, [(9, 2)]), 3)        # a near-dup of vec 1
    spark.catalog.refreshByPath(out)
    assert kept <= _ids(spark, out)
