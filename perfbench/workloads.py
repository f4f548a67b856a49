"""The benchmark's workloads.

Each workload prepares its inputs from the seed (`setup`) and then
runs *units* of work. End-to-end runs measure the process's first
units, without a warm-up: a warm-up unit costs as much as a cold one
(JIT and codegen), which would not fit three workloads into the
benchmark's run budget (README.md). A unit is a list of operations,
each with its latency and the output its check needs:

* ``nfl_pressure`` and ``curation_batch``: one operation, a whole
  pipeline run;
* ``curation_ingest``: one run of ``N_BATCHES`` micro-batches, one
  operation per micro-batch;

``check(unit)`` returns one problem list per operation.
``instrument(inst)`` names the engine functions traced runs wrap.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import checks
import inputs


@dataclass
class Op:
    latency_s: float
    output: object = None


@dataclass
class Unit:
    ops: list[Op]
    wall_s: float
    write_mb: float = 0.0           # bytes added to durable state


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Workload:
    name = ""
    tracer = None           # set by traced runs

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed

    def span(self, name: str):
        """A benchmark-side span around a call into an engine layer."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def setup(self, d: str) -> None:
        raise NotImplementedError

    def unit(self) -> Unit:
        raise NotImplementedError

    def check(self, unit: Unit) -> list[list[str]]:
        raise NotImplementedError

    def instrument(self, inst) -> None:
        from big_data_bowl___2023_spark import session
        inst.wrap(session, "pin", "session.pin")

    def properties(self) -> dict:
        return {}


# ---------------------------------------------------------------- nfl

class NflPressure(Workload):
    """Tracking, scouting, plays and players joined into main_df, then
    the pressure metric, the expected-metric model and the rankings."""
    name = "nfl_pressure"
    N_GAMES, PLAYS_PER_GAME = 4, 60

    def setup(self, d):
        from big_data_bowl___2023_spark.pipelines import fixtures
        frames = fixtures.generate(self.N_GAMES, self.PLAYS_PER_GAME,
                                   self.seed)
        fixtures.write_parquet(frames, d)
        self.dir, self.frames = d, frames
        plays = frames["plays"]
        outlier = pd.Series(list(zip(plays.playId, plays.gameId))).isin(
            [(2699, 2021091204), (1191, 2021102400)]).to_numpy()
        kept = ((plays.dropBackType == "TRADITIONAL")
                & plays.foulNFLId1.isna() & ~outlier)
        self.n_plays_kept = int(kept.sum())
        self.n_completions_kept = int((kept & (plays.passResult == "C"))
                                      .sum())

    def properties(self):
        return {"games": self.N_GAMES, "plays": len(self.frames["plays"]),
                "tracking_rows": len(self.frames["tracking"]),
                "plays_kept": self.n_plays_kept,
                "input_bytes": tree_bytes(self.dir),
                "digest": inputs.digest(self.frames)[:16]}

    def unit(self):
        t, out = _timed(self._run)
        return Unit([Op(t, out)], t)

    def _run(self):
        from big_data_bowl___2023_spark.ml import models as M
        from big_data_bowl___2023_spark.pipelines import nfl

        read = self.spark.read.parquet
        tb = {k: read(f"{self.dir}/{k}.parquet") for k in self.frames}
        p = nfl.run_relational_pipeline(tb["tracking"], tb["pff_scouting"],
                                        tb["plays"], tb["players"],
                                        tb["epa_pbp"])
        out = {}
        with self.span("pipelines.nfl.outputs"):
            for name in ("main_df", "rusher_frames"):
                p[name].count()
            for name, df in p.items():
                if name not in ("main_df", "rusher_frames"):
                    out[name] = df.toPandas()
        final = p["rushers_final"]
        model = M.fit_expected_metric_model(final, "linear", use_cv=False)
        with self.span("ml.rankings"):
            scored = M.attach_expected_metric(final, model, tb["players"],
                                              tb["plays"])
            blockers = M.blockers_with_dpzs(p["pass_blockers"], scored,
                                            tb["players"])
            out["rusher_rankings"] = nfl.rusher_rankings(
                scored, min_attempts=5).toPandas()
            out["team_rush_rankings"] = nfl.team_rush_rankings(
                scored).toPandas()
            out["blocker_rankings"] = nfl.blocker_rankings(
                blockers, min_snaps=5).toPandas()
            out["team_blocker_rankings"] = nfl.team_blocker_rankings(
                blockers).toPandas()
        return out

    def check(self, unit):
        return [checks.check_nfl(op.output, self.n_plays_kept,
                                 self.n_completions_kept)
                for op in unit.ops]

    def instrument(self, inst):
        super().instrument(inst)
        from big_data_bowl___2023_spark.ml import models as M
        from big_data_bowl___2023_spark.pipelines import nfl
        for attr, span in (("build_main_df", "main_df"),
                           ("qb_set_point", "qb_set_point"),
                           ("pass_rusher_frames", "rusher_frames"),
                           ("pressure_metric", "pressure_metric"),
                           ("finalize_rushers", "finalize")):
            inst.wrap(nfl, attr, f"pipelines.nfl.{span}")
        inst.wrap(M, "fit_expected_metric_model", "ml.fit")


# ----------------------------------------------------------- curation

class _Corpus(Workload):
    N_DOCS = 8000
    MIN_WORDS = 20

    def setup(self, d):
        corpus = inputs.docs_frame(self.N_DOCS, self.seed)
        os.makedirs(d, exist_ok=True)
        self._stored(corpus["docs"]).to_parquet(f"{d}/docs.parquet",
                                                index=False)
        self.dir, self.corpus = d, corpus
        docs = corpus["docs"]
        self.bench_shingles = set().union(*map(
            checks.shingles,
            docs.text[docs.doc_id % inputs.BENCH_MODULUS == 0]))
        self.reference_ids = None
        self.judged = self._judged_pairs()

    def _judged_pairs(self) -> dict:
        """The planted pairs this path must resolve (see checks)."""
        docs, c = self.corpus["docs"], self.corpus
        return {"exact": checks.single_line_pairs(docs, c["exact"]),
                "near": checks.single_line_pairs(
                    docs, c["near"], checks.NEAR_JACCARD_MIN)}

    def properties(self):
        return {**inputs.corpus_properties(self.corpus),
                "judged_exact_pairs": len(self.judged["exact"]),
                "judged_near_pairs": len(self.judged["near"]),
                "input_bytes": tree_bytes(self.dir),
                "digest": inputs.digest({"docs": self.corpus["docs"]})[:16]}

    def _stored(self, docs: pd.DataFrame) -> pd.DataFrame:
        """The frame written for the engine to read."""
        return docs

    def _docs(self):
        from pyspark.sql import functions as F
        docs = self.spark.read.parquet(f"{self.dir}/docs.parquet")
        bench = (docs.filter(F.col("doc_id") % inputs.BENCH_MODULUS == 0)
                 .select(F.col("doc_id").alias("bench_id"), "text"))
        return docs, bench

    def _check_curated(self, curated: pd.DataFrame) -> list[str]:
        j = self.judged
        bad = checks.check_curated(curated, self.corpus["docs"],
                                   self.bench_shingles, self.MIN_WORDS,
                                   self.reference_ids, j["exact"],
                                   j["near"])
        if not bad and self.reference_ids is None:
            self.reference_ids = frozenset(curated["doc_id"])
        return bad


class CurationBatch(_Corpus):
    """pipelines.curation.curation_frame with bench.py's curation_e2e
    arguments; the driver is the sink."""
    name = "curation_batch"

    def unit(self):
        t, out = _timed(self._run)
        return Unit([Op(t, out)], t)

    def _run(self):
        from big_data_bowl___2023_spark.pipelines.curation import (
            curation_frame,
        )
        docs, bench = self._docs()
        hook = end_stages = None
        if self.tracer is not None:
            hook, end_stages = self.tracer.stage_hook("pipelines.curation")
        packed = curation_frame(docs.select("doc_id", "source", "text"),
                                benchmark=bench, seq_len=128,
                                shard_budget=1024,
                                min_words=self.MIN_WORDS,
                                line_dedup_min_chars=10, stage_hook=hook)
        if end_stages is not None:
            end_stages("pack")
        with self.span("pipelines.curation.sink"):
            return packed.toPandas()

    def check(self, unit):
        return [self._check_curated(checks.chunks_to_docs(op.output))
                for op in unit.ops]


class CurationIngest(_Corpus):
    """The same corpus through the streaming ingest loop: N_BATCHES
    micro-batches with audit lineage, a fresh state tree per run, the
    curated corpus read back at the end."""
    name = "curation_ingest"
    N_DOCS = 4000
    N_BATCHES = 8
    runs = 0                # state trees created so far

    def _stored(self, docs):
        """Adds the seeded micro-batch assignment."""
        rng = np.random.default_rng(self.seed + 2)
        return docs.assign(batch=rng.integers(0, self.N_BATCHES, len(docs)))

    def _judged_pairs(self):
        """No line scrub here, so every exact pair; no near pairs, as
        near-duplicate resolution is batch-only
        (`curate_document_stream`)."""
        return {"exact": dict(self.corpus["exact"]), "near": {}}

    def unit(self):
        from pyspark.sql import functions as F
        from big_data_bowl___2023_spark.streaming.curation import (
            make_curation_ingest_batch_fn,
            read_curated,
        )
        state = f"{self.work}/ingest_state_{self.runs}"
        self.runs += 1
        t0 = time.perf_counter()
        docs, bench = self._docs()
        fn = make_curation_ingest_batch_fn(
            f"{state}/curated", f"{state}/fps", benchmark=bench,
            min_words=self.MIN_WORDS, audit_dir=f"{state}/audit")
        if self.tracer is not None:
            fn = self.tracer.wrap("streaming.curation.batch", fn)
        ops, written = [], []
        for b in range(self.N_BATCHES):
            before = tree_bytes(state)
            t, _ = _timed(lambda: fn(
                docs.filter(F.col("batch") == b)
                    .select("doc_id", "text", "source"), b))
            written.append(tree_bytes(state) - before)
            ops.append(Op(t))
        curated = read_curated(self.spark, f"{state}/curated") \
            .select("doc_id", "text").toPandas()
        wall = time.perf_counter() - t0
        shutil.rmtree(state, ignore_errors=True)
        ops[-1].output = curated
        return Unit(ops, wall, sum(written) / 2**20)

    def check(self, unit):
        bad = self._check_curated(unit.ops[-1].output)
        return [bad] * len(unit.ops)

    def instrument(self, inst):
        super().instrument(inst)
        from big_data_bowl___2023_spark.sources import lease
        from big_data_bowl___2023_spark.streaming import curation
        inst.wrap(curation, "curate_document_stream",
                  "streaming.curation.curate")
        for attr in ("acquire_writer_lease", "renew_writer_lease",
                     "release_writer_lease", "commit_gate"):
            inst.wrap(lease, attr, "sources.lease")


WORKLOADS = {w.name: w for w in (NflPressure, CurationBatch,
                                 CurationIngest)}


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total
