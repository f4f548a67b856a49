"""Output checks, run outside the timed window.

Each check takes collected (pandas) outputs plus the generator's ground
truth and returns a list of problems; an empty list means the output is
correct. They never raise on bad output, so a failed operation is
counted, not fatal.
"""

from __future__ import annotations

import hashlib

import pandas as pd

# closed-form answers of pipelines.fixtures (see its module docstring)
SET_POINT_FRAMES = (24, 44)
SNAP_FRAME, END_FRAME = 5, 45
SECONDS_TO_THROW = 4.0
TE_ONLY_RUSHER_TAIL = 3          # rusher 3 of every game is TE-blocked
DECON_NGRAM = 8                  # dedup.decontaminate.DEFAULT_NGRAM
# Planted near pairs judged in the batch pipeline have word-bigram
# Jaccard at least this. MinHash banding (8 hashes in 4 bands of 2)
# finds a pair of Jaccard J with probability 1 - (1 - J^2)^4, at least
# 0.98 here, so a working near-dedup stage keeps both docs of a judged
# pair rarely, and one that finds nothing keeps them all.
NEAR_JACCARD_MIN = 0.8

METRIC_EVAL_LABELS = {
    "by_hurry": ("rushers_final", "pff_hurry"),
    "by_hit": ("rushers_final", "pff_hit"),
    "by_sack": ("rushers_final", "pff_sack"),
    "by_pass_result": ("rushers_final", "passResult"),
    "by_position": ("rushers_final", "pff_positionLinedUp"),
    "blockers_by_position": ("pass_blockers", "pff_positionLinedUp"),
}


def check_nfl(out: dict[str, pd.DataFrame], n_plays_kept: int,
              n_completions_kept: int) -> list[str]:
    """``out`` holds the collected pipeline outputs; ``n_plays_kept``
    is the number of plays the cleanup filters must keep, and
    ``n_completions_kept`` how many of them are completions (the plays
    time_to_throw covers)."""
    bad = []
    sp = out["qb_set_point"]
    if len(sp) != n_plays_kept:
        bad.append(f"qb_set_point has {len(sp)} plays, "
                   f"expected {n_plays_kept}")
    moved = sp[~sp["frameId"].isin(SET_POINT_FRAMES)]
    if len(moved):
        bad.append(f"{len(moved)} set points off frames "
                   f"{SET_POINT_FRAMES}")
    for name, col, want in (("play_start", "play_start_frameId", SNAP_FRAME),
                            ("play_end", "play_end_frameId", END_FRAME)):
        t = out[name]
        if len(t) != n_plays_kept or (t[col] != want).any():
            bad.append(f"{name}: expected {n_plays_kept} plays at "
                       f"frame {want}")
    ttt = out["time_to_throw"]
    if len(ttt) != n_completions_kept or \
            ((ttt["seconds_to_throw"] - SECONDS_TO_THROW).abs() > 1e-9).any():
        bad.append("time_to_throw is not 4.0 s on every play")
    rf = out["rushers_final"]
    if rf.empty:
        bad.append("rushers_final is empty")
    elif (rf["nflId"] % 100 == TE_ONLY_RUSHER_TAIL).any():
        bad.append("a TE-only rusher survived the OL semi-join")
    for name in METRIC_EVAL_LABELS:
        bad += _check_metric_eval(name, out)
    for name in ("rusher_rankings", "team_rush_rankings",
                 "blocker_rankings", "team_blocker_rankings"):
        if out[name].empty:
            bad.append(f"{name} is empty")
    return bad


def _check_metric_eval(name: str, out: dict[str, pd.DataFrame]) -> list[str]:
    """Recompute one metric_eval table (median %PZ/s + count per label)
    in DuckDB from the same rows the pipeline aggregated."""
    import duckdb

    src, label = METRIC_EVAL_LABELS[name]
    base = out[src][[label, "Percent_to_Pressure_Zone_per_s"]]
    con = duckdb.connect()
    try:
        con.register("t", base)
        ref = {r[0]: (r[1], r[2]) for r in con.execute(
            f'SELECT "{label}", MEDIAN(Percent_to_Pressure_Zone_per_s), '
            f'COUNT(*) FROM t GROUP BY 1').fetchall()}
    finally:
        con.close()
    got = {r[label]: (r["median_pzs"], r["n"])
           for _, r in out[name].iterrows()}
    if set(got) != set(ref):
        return [f"{name}: labels {sorted(got)} != {sorted(ref)}"]
    for k, (m, n) in got.items():
        if n != ref[k][1] or abs(m - ref[k][0]) > 1e-9:
            return [f"{name}[{k}]: ({m}, {n}) != DuckDB {ref[k]}"]
    return []


def fingerprint(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def shingles(text: str, n: int = DECON_NGRAM) -> set[tuple[str, ...]]:
    """Word n-grams over single-space tokens, as dedup.ngram shingles."""
    toks = text.split(" ")
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def both_survive(ids, pairs: dict[int, int]) -> int:
    """How many planted (copy → original) pairs kept both docs."""
    kept = set(ids)
    return sum(1 for c, o in pairs.items() if c in kept and o in kept)


def bigram_jaccard(a: str, b: str) -> float:
    def grams(t):
        w = t.split()
        return set(zip(w, w[1:]))
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def single_line_pairs(docs: pd.DataFrame, pairs: dict[int, int],
                      min_jaccard: float = 0.0) -> dict[int, int]:
    """The planted pairs both of whose docs are one line, and at least
    ``min_jaccard`` alike. The batch line scrub keeps a repeated line
    only in the lowest-id doc that has it, so a multi-line copy reaches
    the dedup stages as a different text; one-line pairs reach them
    whole."""
    text = docs.set_index("doc_id")["text"]
    return {c: o for c, o in pairs.items()
            if "\n" not in text[c] and "\n" not in text[o]
            and bigram_jaccard(text[c], text[o]) >= min_jaccard}


def check_curated(curated: pd.DataFrame, docs: pd.DataFrame,
                  bench_shingles: set, min_words: int,
                  reference_ids: frozenset | None,
                  exact: dict[int, int],
                  near: dict[int, int]) -> list[str]:
    """``curated`` is (doc_id, text) with one row per surviving doc;
    ``docs`` the generated input; ``bench_shingles`` the benchmark
    docs' 8-grams, none of which may survive. ``reference_ids`` is the
    curated id set of an earlier operation on the same seed, if any.
    ``exact`` and ``near`` are planted (copy → original) pairs the
    pipeline must resolve: no ``exact`` pair may keep both docs, and at
    most half of the ``near`` pairs (see `NEAR_JACCARD_MIN`)."""
    bad = []
    if curated.empty:
        return ["curated set is empty"]
    ids = curated["doc_id"]
    if ids.duplicated().any():
        bad.append("a doc was curated twice")
    fps = curated["text"].map(fingerprint)
    if fps.duplicated().any():
        bad.append(f"{int(fps.duplicated().sum())} duplicate curated "
                   f"text fingerprints")
    words = docs.set_index("doc_id")["text"].str.split().str.len()
    short = words.reindex(ids) < min_words
    if short.any():
        bad.append(f"{int(short.sum())} curated docs under "
                   f"{min_words} input words")
    leaked = [i for i, t in zip(ids, curated["text"])
              if not shingles(t).isdisjoint(bench_shingles)]
    if leaked:
        bad.append(f"{len(leaked)} contaminated docs survived")
    n = both_survive(ids, exact)
    if n:
        bad.append(f"{n} planted exact-duplicate pairs kept both docs")
    n = both_survive(ids, near)
    if n >= 2 and 2 * n > len(near):
        bad.append(f"{n} of {len(near)} planted near-duplicate pairs "
                   f"kept both docs")
    if reference_ids is not None and frozenset(ids) != reference_ids:
        bad.append("curated set differs from an earlier run of this seed")
    return bad


def chunks_to_docs(chunks: pd.DataFrame) -> pd.DataFrame:
    """curation_frame's packed chunks → (doc_id, text), chunks of a doc
    joined in order."""
    ordered = chunks.sort_values(["doc_id", "seq_idx"])
    text = ordered.groupby("doc_id", sort=True)["seq_text"].agg(" ".join)
    return text.rename("text").reset_index()
