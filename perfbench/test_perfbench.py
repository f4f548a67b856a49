"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing as tr  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, dt):
        self.t += dt


# ------------------------------------------------------------- tracing

def test_self_time_subtracts_children_once():
    clock = FakeClock()
    t = tr.Tracer(clock=clock)
    with t.span("root"):
        clock.advance(1.0)
        with t.span("child"):
            clock.advance(2.0)
            with t.span("grandchild"):
                clock.advance(0.5)
            clock.advance(0.25)
        clock.advance(0.75)
        with t.span("child"):
            clock.advance(3.0)
    st = tr.self_times(t.spans)
    by_name = {}
    for s in t.spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + st[s.sid]
    assert by_name == pytest.approx(
        {"root": 1.75, "child": 5.25, "grandchild": 0.5})
    # self times of a tree add up to its root's duration
    assert sum(st.values()) == pytest.approx(7.5)


def test_self_time_with_overlapping_children():
    spans = [tr.Span(0, "p", None, 0.0, 10.0),
             tr.Span(1, "a", 0, 1.0, 5.0),
             tr.Span(2, "b", 0, 3.0, 7.0),
             tr.Span(3, "c", 0, 9.0, 12.0)]    # clipped to the parent
    assert tr.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_jobs_go_to_innermost_open_span():
    clock = FakeClock()
    groups = []
    t = tr.Tracer(set_group=lambda s: groups.append(
        None if s is None else f"{tr.GROUP_PREFIX}{s.sid}"), clock=clock)
    jobs = []

    def job(start, dur):
        jobs.append(tr.Job(len(jobs), groups[-1], start, start + dur,
                           tasks=2, executor_cpu_s=dur))

    with t.span("op"):
        job(clock(), 0.5)
        clock.advance(1.0)
        with t.span("session.pin"):
            job(clock(), 1.0)
            clock.advance(1.0)
        job(clock(), 0.25)
        clock.advance(1.0)
    assert groups[-1] is None
    job(clock(), 1.0)                           # after every span closed

    s = tr.summarise(t.spans, jobs, (0.0, 3.0))
    assert s.layers["op"].jobs == 2
    assert s.layers["op"].executor_cpu_s == pytest.approx(0.75)
    assert s.layers["session.pin"].jobs == 1
    assert s.layers["session.pin"].calls == 1
    assert s.totals["spark.jobs"] == 3          # the last job is outside
    assert s.totals["spark.tasks"] == 6
    assert s.totals["spark.unattributed_jobs"] == 1
    # jobs cover [0, 0.5] and [1, 2.25]; the rest is driver time
    assert s.totals["driver.self_s"] == pytest.approx(3.0 - 1.75)
    assert s.totals["trace.self_sum_s"] == pytest.approx(3.0)
    assert tr.jobs_outside_their_span(t.spans, jobs) == []


def test_a_job_outside_its_named_span_is_reported():
    spans = [tr.Span(0, "op", None, 0.0, 3.0),
             tr.Span(1, "session.pin", 0, 1.0, 2.0)]
    pin = f"{tr.GROUP_PREFIX}1"
    jobs = [tr.Job(0, pin, 1.5, 1.8),
            tr.Job(1, pin, 2.5, 2.7),        # group left set after close
            tr.Job(2, None, 5.0, 6.0)]       # unattributed: not judged
    assert tr.jobs_outside_their_span(spans, jobs) == [1]


def test_stage_hook_names_spans_for_the_closing_boundary():
    clock = FakeClock()
    t = tr.Tracer(clock=clock)
    hook, end_stages = t.stage_hook("pipelines.curation")
    with t.span("op"):
        assert hook("input", None) is None
        clock.advance(1.0)
        with t.span("session.pin"):
            clock.advance(2.0)
        hook("after_quality", None)
        clock.advance(0.5)
        end_stages("pack")
    names = [s.name for s in t.spans]
    assert names == ["session.pin", "pipelines.curation.after_quality",
                     "pipelines.curation.pack", "op"]
    st = tr.self_times(t.spans)
    assert st[t.spans[1].sid] == pytest.approx(1.0)


def test_out_of_order_close_is_an_error():
    t = tr.Tracer()
    a = t.open("a")
    t.open("b")
    with pytest.raises(RuntimeError):
        t.close(a)


def test_wrap_traces_only_the_owner_thread():
    import threading

    t = tr.Tracer()
    f = t.wrap("layer", lambda x: x + 1)
    assert f(1) == 2
    th = threading.Thread(target=f, args=(1,))
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    assert [s.name for s in t.spans] == ["layer"]


def test_instrumentation_replaces_and_restores(monkeypatch):
    import types

    pkg = types.ModuleType("fakepkg")
    user = types.ModuleType("fakepkg.user")

    def pin(x):
        return x
    pkg.pin = pin
    user.pin = pin                    # as `from .session import pin`
    monkeypatch.setitem(sys.modules, "fakepkg", pkg)
    monkeypatch.setitem(sys.modules, "fakepkg.user", user)
    t = tr.Tracer()
    with tr.Instrumentation(t, "fakepkg") as inst:
        inst.wrap(pkg, "pin", "session.pin")
        assert user.pin(3) == 3 and pkg.pin is not pin
    assert pkg.pin is pin and user.pin is pin
    assert [s.name for s in t.spans] == ["session.pin"]


# -------------------------------------------------------------- checks

def _nfl_outputs():
    """A small output set that satisfies every closed-form answer."""
    plays = [(100 + 50 * i, 2021110002) for i in range(6)]
    sp = pd.DataFrame({"playId": [p for p, _ in plays],
                       "gameId": [g for _, g in plays],
                       "frameId": [24, 44] * 3})
    start = sp[["playId", "gameId"]].assign(play_start_frameId=5)
    end = sp[["playId", "gameId"]].assign(play_end_frameId=45)
    ttt = sp[["playId", "gameId"]].iloc[:4].assign(seconds_to_throw=4.0)
    rng = np.random.default_rng(0)
    rushers = pd.DataFrame({
        "nflId": [2200, 2201, 2202] * 4,
        "pff_hurry": [1, 1, 0] * 4, "pff_hit": [1, 0, 0] * 4,
        "pff_sack": [0, 0, 0] * 4, "passResult": ["C", "I", "C"] * 4,
        "pff_positionLinedUp": ["DRT", "DLT", "LE"] * 4,
        "Percent_to_Pressure_Zone_per_s": rng.random(12)})
    blockers = pd.DataFrame({
        "pff_positionLinedUp": ["LT", "LG", "C"] * 3,
        "Percent_to_Pressure_Zone_per_s": rng.random(9)})
    out = {"qb_set_point": sp, "play_start": start, "play_end": end,
           "time_to_throw": ttt, "rushers_final": rushers,
           "pass_blockers": blockers}
    for name, (src, label) in checks.METRIC_EVAL_LABELS.items():
        g = out[src].groupby(label)["Percent_to_Pressure_Zone_per_s"]
        out[name] = pd.DataFrame({label: g.median().index,
                                  "median_pzs": g.median().values,
                                  "n": g.size().values})
    for name in ("rusher_rankings", "team_rush_rankings",
                 "blocker_rankings", "team_blocker_rankings"):
        out[name] = pd.DataFrame({"x": [1]})
    return out


def test_nfl_check_accepts_closed_form_output():
    assert checks.check_nfl(_nfl_outputs(), 6, 4) == []


def test_nfl_check_rejects_a_dropped_row():
    out = _nfl_outputs()
    out["qb_set_point"] = out["qb_set_point"].iloc[1:]
    assert checks.check_nfl(out, 6, 4)


def test_nfl_check_rejects_a_moved_set_point():
    out = _nfl_outputs()
    out["qb_set_point"].loc[0, "frameId"] = 25
    assert any("set points" in p for p in checks.check_nfl(out, 6, 4))


def test_nfl_check_rejects_a_te_only_rusher():
    out = _nfl_outputs()
    out["rushers_final"].loc[0, "nflId"] = 2203
    assert any("TE-only" in p for p in checks.check_nfl(out, 6, 4))


def test_nfl_check_rejects_a_wrong_median():
    out = _nfl_outputs()
    out["by_hurry"].loc[0, "median_pzs"] += 0.01
    assert any("DuckDB" in p for p in checks.check_nfl(out, 6, 4))


@pytest.fixture(scope="module")
def corpus():
    return inputs.docs_frame(2000, seed=3)


def _bench_shingles(docs):
    bench = docs.text[docs.doc_id % inputs.BENCH_MODULUS == 0]
    return set().union(*map(checks.shingles, bench))


def _curated(corpus):
    """Long enough, benchmark-free docs with distinct text and no
    planted near copy."""
    docs = corpus["docs"]
    ok = docs[(docs.text.str.split().str.len() >= 20)
              & (docs.doc_id % inputs.BENCH_MODULUS != 0)
              & ~docs.doc_id.isin(list(corpus["near"]))]
    ok = ok.drop_duplicates("text")
    bench = _bench_shingles(docs)
    ok = ok[[checks.shingles(t).isdisjoint(bench) for t in ok.text]]
    return ok[["doc_id", "text"]].reset_index(drop=True)


def _check(corpus, cur, ref=None, near=True):
    docs = corpus["docs"]
    return checks.check_curated(cur, docs, _bench_shingles(docs), 20, ref,
                                corpus["exact"],
                                corpus["near"] if near else {})


def test_curated_check_accepts_clean_output(corpus):
    cur = _curated(corpus)
    assert _check(corpus, cur, frozenset(cur.doc_id)) == []


def test_curated_check_rejects_a_dropped_row(corpus):
    cur = _curated(corpus)
    assert _check(corpus, cur.iloc[1:], frozenset(cur.doc_id))


def test_curated_check_rejects_contamination_duplicates_and_short(corpus):
    docs = corpus["docs"]
    cur = _curated(corpus)
    leaked = docs[docs.doc_id % inputs.BENCH_MODULUS == 0].iloc[:1]
    bad = _check(corpus, pd.concat([cur, leaked[["doc_id", "text"]]]))
    assert any("contaminated" in p for p in bad)
    dup = cur.iloc[:1].assign(doc_id=-1)
    bad = _check(corpus, pd.concat([cur, dup]))
    assert any("fingerprints" in p for p in bad)
    short = docs[docs.text.str.split().str.len() < 20].iloc[:1]
    bad = _check(corpus, pd.concat([cur, short[["doc_id", "text"]]]))
    assert any("under 20" in p for p in bad)


def _with_both_docs(corpus, cur, pairs):
    """``cur`` plus every planted copy whose original it kept."""
    docs = corpus["docs"].set_index("doc_id")
    kept = set(cur.doc_id)
    add = [c for c, o in pairs.items() if o in kept and c not in kept]
    return pd.concat([cur, docs.loc[add, ["text"]].reset_index()])


def test_curated_check_rejects_a_kept_exact_pair(corpus):
    cur = _curated(corpus)
    docs = corpus["docs"].set_index("doc_id")
    copy, orig = next((c, o) for c, o in corpus["exact"].items()
                      if o in set(cur.doc_id))
    # text made unique so that only the pair rule can catch it
    both = pd.concat([cur, pd.DataFrame(
        {"doc_id": [copy], "text": [docs.text[copy] + " x"]})])
    bad = _check(corpus, both, near=False)
    assert bad == ["1 planted exact-duplicate pairs kept both docs"]


def test_curated_check_rejects_kept_near_pairs(corpus):
    cur = _curated(corpus)
    both = _with_both_docs(corpus, cur, corpus["near"])
    assert any("near-duplicate" in p for p in _check(corpus, both))
    # the streaming path does not resolve near duplicates
    assert _check(corpus, both, near=False) == []
    # one missed pair is within what MinHash banding legitimately misses
    one = _with_both_docs(corpus, cur, dict([next(
        (c, o) for c, o in corpus["near"].items() if o in set(cur.doc_id))]))
    assert _check(corpus, one) == []


def test_judged_pairs_are_one_line_and_alike(corpus):
    docs = corpus["docs"]
    near = checks.single_line_pairs(docs, corpus["near"],
                                    checks.NEAR_JACCARD_MIN)
    assert 0 < len(near) < len(corpus["near"])
    text = docs.set_index("doc_id").text
    for c, o in near.items():
        assert "\n" not in text[c] + text[o]
        assert checks.bigram_jaccard(text[c], text[o]) >= 0.8


def test_chunks_reassemble_in_order():
    chunks = pd.DataFrame({"doc_id": [7, 7, 3], "seq_idx": [1, 0, 0],
                           "seq_text": ["c d", "a b", "x"]})
    got = checks.chunks_to_docs(chunks)
    assert got.to_dict("list") == {"doc_id": [3, 7], "text": ["x", "a b c d"]}


# --------------------------------------------------------------- inputs

def test_same_seed_same_inputs_other_seed_other_inputs():
    a = inputs.digest({"docs": inputs.docs_frame(500, 1)["docs"]})
    b = inputs.digest({"docs": inputs.docs_frame(500, 1)["docs"]})
    c = inputs.digest({"docs": inputs.docs_frame(500, 2)["docs"]})
    assert a == b != c


def test_nfl_fixture_inputs_follow_the_seed():
    from big_data_bowl___2023_spark.pipelines import fixtures
    a = inputs.digest(fixtures.generate(2, 12, seed=1))
    b = inputs.digest(fixtures.generate(2, 12, seed=1))
    c = inputs.digest(fixtures.generate(2, 12, seed=2))
    assert a == b != c


def test_planted_pairs(corpus):
    props = inputs.corpus_properties(corpus)
    assert props["exact_dup_pairs_per_1k"] == inputs.EXACT_DUPS_PER_1K
    assert props["near_dup_pairs_per_1k"] == inputs.NEAR_DUPS_PER_1K
    docs = corpus["docs"].set_index("doc_id").text
    for copy, orig in corpus["exact"].items():
        assert docs[copy] == docs[orig]
    for copy, orig in corpus["near"].items():
        a, b = docs[copy].split(" "), docs[orig].split(" ")
        assert len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) == 1


# ----------------------------------------------------- BENCHMARK.json

def test_benchmark_json_names_what_the_runner_prints():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layer == run.per_layer_units()
    import workloads
    assert [w["name"] for w in spec["workloads"]] == list(
        workloads.WORKLOADS)
