"""Seeded input generation for the curation workloads.

Everything here is plain numpy/pandas: the engine receives only the
frames these functions return (written to parquet by the workloads).
The same seed gives byte-identical frames; `digest` fingerprints them
so the tests can check that.

Documents follow the sf0.1 ``documents`` table's shape (uniform words
from a 30-word vocabulary plus a ``merge`` line marker, 10-100 words,
five languages, 20 sources). Like ``tools/stress_scale``'s replicas,
each of ``replicas`` groups gets its own vocabulary (every token
suffixed with ``_<group>``), so groups are unrelated text to the
shingle kernels. On top of that the generator plants, per 1,000 docs,
a fixed number of exact duplicates and of near-duplicates (one word
replaced), and records which docs they copy.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

WORDS = ("spark window table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast "
         "the row agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100

# per 1,000 docs; see docs_frame
EXACT_DUPS_PER_1K = 10
NEAR_DUPS_PER_1K = 10
# the benchmark split bench.py's curation_e2e uses
BENCH_MODULUS = 97


def _doc_text(rng: np.random.Generator, group: int) -> str:
    n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
    words = [f"{WORDS[i]}_{group}" for i in rng.integers(0, len(WORDS), n)]
    # ~3% of gaps become a line break, as ' merge ' does in sf0.1
    for i in np.flatnonzero(rng.random(n - 1) < 0.03):
        words[i] += "\n"
    return " ".join(words).replace("\n ", "\n")


def docs_frame(n_docs: int, seed: int, replicas: int = 4) -> dict:
    """``{"docs": DataFrame[doc_id, text, lang, source], "exact": {copy:
    original}, "near": {copy: original}}``.

    Planted copies take ids from the same dense 0..n-1 range as the
    rest; an original is never itself a copy, so every planted pair is
    exactly one original plus its copy."""
    rng = np.random.default_rng(seed)
    groups = np.arange(n_docs) % replicas
    texts = [_doc_text(rng, int(g)) for g in groups]
    n_exact = n_docs * EXACT_DUPS_PER_1K // 1000
    n_near = n_docs * NEAR_DUPS_PER_1K // 1000
    ids = rng.permutation(n_docs)
    half = n_docs // 2
    originals, copies = ids[:half], ids[half:]
    exact, near = {}, {}
    for j in range(n_exact + n_near):
        src, dst = int(originals[j]), int(copies[j])
        if j < n_exact:
            texts[dst] = texts[src]
            exact[dst] = src
        else:
            words = texts[src].split(" ")
            pos = int(rng.integers(0, len(words)))
            tail = "\n" if words[pos].endswith("\n") else ""
            words[pos] = f"edit_{dst}{tail}"
            texts[dst] = " ".join(words)
            near[dst] = src
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
    })
    return {"docs": docs, "exact": exact, "near": near}


def corpus_properties(corpus: dict) -> dict:
    n = len(corpus["docs"])
    return {"docs": n,
            "exact_dup_pairs_per_1k": 1000 * len(corpus["exact"]) / n,
            "near_dup_pairs_per_1k": 1000 * len(corpus["near"]) / n,
            "benchmark_docs": len(range(0, n, BENCH_MODULUS))}


def digest(frames: dict[str, pd.DataFrame]) -> str:
    """sha256 over every frame's rows, in name order: the identity of a
    run's inputs (printed with them, and tested to follow the seed)."""
    h = hashlib.sha256()
    for name in sorted(frames):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(
            frames[name], index=False).values.tobytes())
    return h.hexdigest()
