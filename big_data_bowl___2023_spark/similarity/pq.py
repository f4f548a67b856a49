"""Product quantization (PQ) for embedding search at corpus scale.

Jégou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split each d-dim vector into ``m`` subvectors, k-means
each subspace into ``k`` centroids, store a vector as its m centroid
ids — 64-dim float32 (256 B) becomes m=8 codes (8 B), a 32× memory
cut, which is what lets a 100 TB embedding corpus live in cluster RAM.
Search uses asymmetric distance computation (ADC): per query, one
m×k lookup table of query-subvector↔centroid distances; a corpus row
is scored with m table lookups + adds, never a d-dim product.

Spark mapping — every hot path stays in codegen (zero UDF):

* training: Lloyd iterations where EACH iteration is ONE aggregation
  job over the (id, subspace, subvector) exploded view — assignment is
  an argmin expression against broadcast literal centroids, the update
  is a grouped per-dimension mean; the driver holds only the m×k×(d/m)
  centroid array (≤ a few KB);
* encoding: per-subspace argmin expressions → ``codes array<int>``;
* ADC: the per-query LUT is a flat m·k literal-free array expression
  computed once per query row; scoring is a broadcast join of the
  (tiny) query LUTs against the codes table with
  ``element_at(lut, m·k_offset + code)`` sums.

Vectors are L2-normalized first, so ascending squared-L2 ADC order
matches descending cosine order and recall is measured against
``brute_force_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..session import pin, resolve_kernel
from ..sources.io import fs_path

DEFAULT_M = 8
DEFAULT_K = 16


def _slices(vec, dim: int, m: int) -> list:
    sub = dim // m
    return [F.slice(vec, i * sub + 1, sub) for i in range(m)]


def _sq_dist(sv, cent) -> F.Column:
    """Squared L2 between a subvector column and a centroid (array
    column or literal array) — one zip_with/aggregate fold."""
    return F.aggregate(
        F.zip_with(sv, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def _lit_vec(xs) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in xs])


def _argmin_code(sv, cents_m) -> F.Column:
    """Index (0-based) of the nearest of the k literal centroids."""
    darr = F.array(*[_sq_dist(sv, _lit_vec(c)) for c in cents_m])
    return (F.array_position(darr, F.array_min(darr)) - 1).cast("int")


def _normalized(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    # degenerate (zero-norm/NaN) vectors are dropped BEFORE the
    # normalize transform; see dedup.embedding._normalized
    v = V.as_double(F.col(vec_col))
    return (df.filter(V.has_unit_normalizable(v))
              .select(F.col(id_col).alias("id"),
                      V.l2_normalize(v).alias("u")))


def _lloyd_codes_arrow(sub_tbl: DataFrame, cents: list) -> DataFrame:
    """(id, mi, sv, code): one Lloyd assignment round as a numpy GEMM
    per (Arrow batch, subspace) — ``argmin(|c|²/2 − sv·c)`` against
    the broadcast m×k×sub centroid array instead of m·k interpreted
    distance folds per row. Ties break to the lowest code (np.argmin
    first minimum == array_position-of-min), matching the SQL
    expression; distances round differently in the last ulp, so an
    EXACTLY equidistant row could assign differently — real-valued
    embeddings agree (pytest pins codebook identity), same contract
    as every Arrow kernel in the family."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray([[list(map(float, c)) for c in cb] for cb in cents],
                   dtype=np.float64)             # (m, k, sub)
    half_c2 = 0.5 * (C * C).sum(axis=2)          # (m, k)
    out_schema = T.StructType(
        list(sub_tbl.schema) + [T.StructField("code", T.IntegerType())])

    def codes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            SV = V.stack_batch(pdf["sv"])        # (n, sub)
            mi = pdf["mi"].to_numpy()
            out_code = np.empty(len(pdf), dtype="int32")
            for m_i in np.unique(mi):
                mask = mi == m_i
                scores = (half_c2[m_i][None, :]
                          - SV[mask] @ C[m_i].T)  # (n_mi, k)
                out_code[mask] = np.argmin(scores, axis=1)
            out = pdf.copy()
            out["code"] = out_code
            yield out

    return sub_tbl.mapInPandas(codes, out_schema)


def _train_lloyd_driver(v: DataFrame, dim: int, m: int, k: int,
                        n_iters: int, train_rows: int) -> list:
    """The bounded-sample Lloyd loop run ONCE on the driver in numpy
    (r17): one TakeOrdered collect of the ``train_rows`` smallest-md5
    rows (the identical deterministic sample + seed selection as the
    distributed path), then every round is a GEMM argmin + per-
    cluster mean over the in-memory matrix — zero Spark jobs per
    round. The distributed trainer's per-round cost on a CAPPED
    sample is almost entirely fixed job latency (the sample makes
    each round O(1) in corpus size by design), so at any scale this
    tier replaces seeds-collect + sample-pin + n_iters round jobs
    with one bounded collect (≤ train_rows × dim doubles — ~50 MB at
    the 100k × 64 default, same measured-size-buys-the-collect
    pattern as clusters.DRIVER_EDGE_BOUND).

    Arithmetic contract: assignment is the same argmin(|c|²/2 − u·c)
    with first-minimum ties as ``_lloyd_codes_arrow``; the update
    mean is numpy over md5-sorted rows — DETERMINISTIC and
    partitioning-invariant (strictly stronger than the distributed
    aggregation, whose float sums follow shuffle merge order), but it
    reassociates the distributed path's sums, so codebooks agree to
    float-summation order (~1e-9), not bitwise — the documented
    tolerance class of the arrow kernels and the sampled-training
    identity test. Callers that need the bit-pinned distributed
    aggregation (every "sql"-kernel registry path) never route here."""
    import numpy as np

    pdf = (v.orderBy(F.md5(F.col("id").cast("string")))
           .limit(train_rows).select("u").toPandas())
    sub = dim // m
    if not len(pdf):
        return [[] for _ in range(m)]
    U = V.stack_batch(pdf["u"])                      # (n, dim) sorted
    n_seed = min(k, len(pdf))
    cents = [[[float(x) for x in U[j, mi * sub:(mi + 1) * sub]]
              for j in range(n_seed)] for mi in range(m)]
    SV = [U[:, mi * sub:(mi + 1) * sub] for mi in range(m)]
    for _ in range(n_iters):
        prev = [[list(c) for c in cb] for cb in cents]
        new = []
        for mi in range(m):
            C = np.asarray(cents[mi], dtype=np.float64)  # (k, sub)
            half_c2 = 0.5 * (C * C).sum(axis=1)
            codes = np.argmin(half_c2[None, :] - SV[mi] @ C.T, axis=1)
            cb = [list(c) for c in cents[mi]]
            for j in range(len(cb)):       # empty clusters keep prev
                mask = codes == j
                if mask.any():
                    cb[j] = [float(x) for x in SV[mi][mask].mean(axis=0)]
            new.append(cb)
        cents = new
        if cents == prev:       # exact fixpoint: done
            break
    return cents


def train_pq(corpus: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", dim: int = 64,
             m: int = DEFAULT_M, k: int = DEFAULT_K,
             n_iters: int = 8,
             train_rows: int | None = 100_000,
             n: int | None = None,
             assign_kernel: str | None = None,
             lloyd: str | None = None) -> list:
    """m×k×(dim/m) codebooks as a nested Python list.

    Deterministic init (subvectors of the k corpus rows with smallest
    md5(id) — no RNG state), then up to ``n_iters`` Lloyd rounds. Each
    round is one Spark aggregation: explode to (id, subspace,
    subvector), argmin-assign against the current broadcast centroids,
    grouped per-dimension mean. Empty clusters keep their previous
    centroid. Rounds stop early at an EXACT fixpoint (no centroid
    moved at all) — further rounds would recompute the identical
    codebooks, so the early exit is bit-identical, just cheaper.

    ``train_rows`` caps the Lloyd training set at the ``train_rows``
    corpus rows with smallest md5(id) — the same deterministic order
    the seeds use. Codebooks need ~10⁵ training vectors regardless of
    corpus size (Jégou et al. train on a sample), so without the cap
    every Lloyd round would be a FULL-corpus pass — the difference
    between 8 scans of 100 TB and 8 scans of a few GB. ``None``
    trains on everything (the pre-round-4 behavior; identical output
    whenever the corpus is smaller than the cap).

    ``n`` is an optional corpus-rowcount hint: when the caller knows
    ``n <= train_rows`` the cap's TakeOrdered sort + repartition are
    skipped outright (they would select every row anyway). Opt-in
    because skipping the repartition reassociates the Lloyd averages
    — values agree to float-summation order (~1e-9), not bitwise, so
    paths whose oracles pin exact centroid arithmetic simply don't
    pass the hint.

    ``assign_kernel="arrow"`` runs each round's assignment through
    :func:`_lloyd_codes_arrow` (one GEMM per Arrow batch per
    subspace) instead of the m·k-literal interpreted distance folds.
    The per-row SQL cost is k·dim interpreted lambda steps, so the
    fold trainer is only viable for PQ-sized k (≤ a few hundred);
    SemDeDup-sized codebooks (k = n/target_cluster, thousands at
    corpus scale) need the GEMM rounds. The centroid UPDATE is the
    same Spark aggregation either way — when assignments agree (real
    embeddings; pytest pins codebook equality), the codebooks are
    bit-identical. Default "sql" keeps every driver-hashed path on
    the fold.

    ``lloyd="driver"`` (r17) runs the whole capped-sample Lloyd loop
    on the driver in numpy (:func:`_train_lloyd_driver`): one bounded
    TakeOrdered collect replaces the seeds collect, the sample pin
    and every per-round Spark job — the sample cap already makes each
    round O(1) in corpus size, so those jobs were pure fixed latency.
    Codebooks agree with the distributed trainer to float-summation
    order (~1e-9, the sampled-training tolerance class), NOT bitwise;
    the semantic entry points select this tier exactly when the
    caller chose the arrow kernels (whose contract already accepts
    last-ulp reassociation), and every "sql"-kernel / driver-hashed
    path stays on the distributed aggregation. Default/"spark" is the
    distributed loop."""
    # resolve_kernel validates and raises on typos BEFORE the sample
    # sort / seed collect / pin jobs — a bad kernel fails instantly,
    # not after minutes of cluster work
    assign_kernel = resolve_kernel(assign_kernel, "assignment")
    if lloyd not in (None, "spark", "driver"):
        raise ValueError(f"unknown lloyd tier {lloyd!r} (expected "
                         f"'spark' or 'driver')")
    sub = dim // m
    v = _normalized(corpus, vec_col, id_col)
    if lloyd == "driver":
        # the bounded-collect tier (r17): requires the sample cap —
        # an uncapped driver collect would be the unbounded-driver
        # hazard the star loop exists to avoid
        if train_rows is None:
            raise ValueError("lloyd='driver' needs train_rows (the "
                             "bounded sample is what buys the collect)")
        return _train_lloyd_driver(v, dim, m, k, n_iters, train_rows)
    if train_rows is not None and (n is None or n > train_rows):
        # TakeOrdered computes per-partition top-n map-side; the
        # repartition fans the (small) training set back out so the
        # Lloyd rounds keep their parallelism. For corpora where even
        # per-partition top-n merge is too hot, pre-sample with
        # operators.sampling.hash_sample and pass train_rows=None.
        v = (v.orderBy(F.md5(F.col("id").cast("string")))
             .limit(train_rows).repartition("id"))
    seeds = (v.orderBy(F.md5(F.col("id").cast("string")))
             .limit(k).collect())
    # cents[mi][j] = list of sub floats
    cents = [[list(r.u[mi * sub:(mi + 1) * sub]) for r in seeds]
             for mi in range(m)]

    sub_tbl = v.select(
        "id", F.posexplode(F.array(*_slices(F.col("u"), dim, m)))
        .alias("mi", "sv"))
    sub_tbl = pin(sub_tbl)

    for _ in range(n_iters):
        if assign_kernel == "arrow":
            coded = _lloyd_codes_arrow(sub_tbl, cents)
        else:
            # per-subspace argmin against the current centroids: pick
            # the subspace's distance array with element_at on a
            # nested literal
            darr_by_m = F.array(*[
                F.array(*[_sq_dist(F.col("sv"), _lit_vec(c))
                          for c in cents[mi]])
                for mi in range(m)])
            darr = F.element_at(darr_by_m, F.col("mi") + 1)
            code = (F.array_position(darr, F.array_min(darr)) - 1) \
                .cast("int")
            coded = sub_tbl.withColumn("code", code)
        stats = (coded
                 .groupBy("mi", "code")
                 .agg(F.array(*[F.avg(F.col("sv")[d]).alias(f"a{d}")
                                for d in range(sub)]).alias("mean"),
                      F.count(F.lit(1)).alias("n"))
                 .collect())
        prev = [[list(c) for c in cb] for cb in cents]
        for r in stats:
            cents[r.mi][r.code] = [float(x) for x in r.mean]
        if cents == prev:       # exact fixpoint: done, bit-identical
            break
    return cents


def save_codebooks(spark, cents: list, path: str) -> None:
    """Persist trained codebooks as a JSON artifact through the
    Hadoop FileSystem API (local FS, HDFS, or object store — same
    contract as the parquet sinks). Codebooks are tiny (m·k·sub
    floats) but operationally load-bearing: incremental ingest must
    assign new batches against the SAME centroids the corpus was
    sharded with, so the codebook is a versioned artifact of the full
    run, not something retrained per batch."""
    import json

    fs, jpath = fs_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(cents).encode("utf-8")))
    finally:
        out.close()


def load_codebooks(spark, path: str) -> list:
    """Read a :func:`save_codebooks` artifact back as the nested
    list ``train_pq`` returns — float round trip is exact (json reads
    the same repr doubles back)."""
    import json

    fs, jpath = fs_path(spark, path)
    stream = fs.open(jpath)
    try:
        util = spark._jvm.org.apache.commons.io.IOUtils
        data = util.toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(data).decode("utf-8"))


def encode_pq(corpus: DataFrame, cents: list,
              vec_col: str = "embedding", id_col: str = "vec_id",
              dim: int = 64) -> DataFrame:
    """(id, codes array<int> of length m): the compressed corpus.
    Pure argmin expressions per subspace — encoding a 100 TB corpus is
    one codegen scan, no Python."""
    m = len(cents)
    v = _normalized(corpus, vec_col, id_col)
    slices = _slices(F.col("u"), dim, m)
    codes = F.array(*[_argmin_code(slices[mi], cents[mi])
                      for mi in range(m)])
    return v.select("id", codes.alias("codes"))


def pq_topk(codes: DataFrame, queries: DataFrame, cents: list, k: int,
            vec_col: str = "embedding", id_col: str = "vec_id",
            dim: int = 64) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_dist, rank).

    Each query row computes its flat m·n_cent LUT once; the broadcast
    join prices every corpus code row at m element_at lookups + adds.
    Ascending squared-L2 over normalized vectors ≡ descending cosine."""
    m, n_cent = len(cents), len(cents[0])
    q = _normalized(queries, vec_col, id_col)
    qslices = _slices(F.col("u"), dim, m)
    lut = F.array(*[_sq_dist(qslices[mi], _lit_vec(cents[mi][j]))
                    for mi in range(m) for j in range(n_cent)])
    qlut = q.select(F.col("id").alias("query_id"), lut.alias("lut"))

    score = None
    for mi in range(m):
        term = F.element_at(
            F.col("lut"),
            F.lit(mi * n_cent + 1) + F.element_at(F.col("codes"), mi + 1))
        score = term if score is None else score + term

    scored = (codes.withColumnRenamed("id", "neighbor_id")
              .join(F.broadcast(qlut),
                    F.col("query_id") != F.col("neighbor_id"))
              .withColumn("adc_dist", F.round(score, 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_dist", "rank"))


def pq_topk_rerank(codes: DataFrame, corpus: DataFrame,
                   queries: DataFrame, cents: list, k: int,
                   shortlist: int | None = None,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   dim: int = 64) -> DataFrame:
    """ADC shortlist → EXACT cosine re-rank (the +R stage of IVFADC+R):
    (query_id, neighbor_id, cosine, rank).

    The compressed scan prices every corpus row with table lookups and
    keeps only ``shortlist`` (default 5k) candidates per query; full
    vectors are fetched for those few rows only (a candidate-side
    broadcast join back to the corpus) and re-scored exactly. Recall
    approaches exact search while the corpus-wide pass never touches a
    raw vector — the memory/IO contract that matters at 100 TB."""
    if shortlist is None:
        shortlist = 5 * k
    cand = pq_topk(codes, queries, cents, shortlist,
                   vec_col, id_col, dim).select("query_id", "neighbor_id")
    return exact_rerank(cand, corpus, queries, k, vec_col, id_col)


def exact_rerank(cand: DataFrame, corpus: DataFrame,
                 queries: DataFrame, k: int,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """The shared +R stage: given (query_id, neighbor_id) shortlist
    candidates from ANY screen (ADC, int8 dequant, LSH), fetch full
    vectors for those few rows only (candidate-side broadcast joins)
    and re-score with the exact fold cosine — one definition of the
    tie-break/rounding/broadcast contract for every compressed-scan
    search path (pq_topk_rerank, quantize.quantized_topk_rerank)."""
    c = _normalized(corpus, vec_col, id_col).select(
        F.col("id").alias("neighbor_id"), F.col("u").alias("un"))
    q = _normalized(queries, vec_col, id_col).select(
        F.col("id").alias("query_id"), F.col("u").alias("uq"))
    cos = F.aggregate(F.zip_with(F.col("uq"), F.col("un"),
                                 lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    scored = (c.join(F.broadcast(cand), "neighbor_id")
              .join(F.broadcast(q), "query_id")
              .withColumn("cosine", F.round(cos, 6)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))
