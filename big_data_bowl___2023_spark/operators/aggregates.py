"""Aggregations (SURVEY.md §2.4 A1–A12).

All grouped aggregations get map-side partial aggregation for free from
Spark (the reference's single-node hash agg has no such notion); the
helpers below only add the semantic choices: exact median strategy,
pinned pivot values, deterministic describe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouped_agg(df: DataFrame, keys: Sequence[str],
                **aggs: Column) -> DataFrame:
    """A1–A7: one-pass multi-aggregate ``summarise`` (MO:17-18 etc.).
    Aliases come from the kwarg names so downstream column names are
    deterministic (driver hash-compare requirement)."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    return df.groupBy(*keys).agg(*exprs)


def distinct_rows(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A9: DISTINCT / ``unique()`` (MBE:18, 24, 115, 140; MC:37)."""
    return df.select(*cols).distinct() if cols else df.distinct()


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """A10: frequency table (``table()``, WIP.R:278, 291)."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))


def pivot_sum(df: DataFrame, keys: Sequence[str], pivot_col: str,
              values: Sequence[str], value_col: str) -> DataFrame:
    """A11: long→wide pivot with SUM and zero fill — the
    ``reshape::cast`` spread of Frame_Status (MBE:94-96).

    ``values`` is pinned (SURVEY §4.3.4): Catalyst skips the extra
    distinct-values job and the output schema is deterministic; absent
    combinations read 0, matching R cast's fill (SURVEY §7.5).
    """
    out = (df.groupBy(*keys)
             .pivot(pivot_col, list(values))
             .sum(value_col))
    return out.na.fill(0, subset=list(values))


def summary_stats(df: DataFrame, col: str) -> DataFrame:
    """A12: ungrouped six-number summary — R ``summary()`` (MBE:153).
    One pass: min/q1/median/mean/q3/max, exact percentiles."""
    c = F.col(col)
    return df.agg(
        F.min(c).alias("min"),
        F.percentile(c, F.lit(0.25)).alias("q1"),
        F.median(c).alias("median"),
        F.avg(c).alias("mean"),
        F.percentile(c, F.lit(0.75)).alias("q3"),
        F.max(c).alias("max"),
    )


def histogram(df: DataFrame, col: str, bin_width: float) -> DataFrame:
    """A12: fixed-width histogram (R ``hist(col, breaks=20)``,
    MBE:154-156) as a groupBy over the bucketed value — fully
    distributed, unlike R's single-node binning."""
    bucket = F.floor(F.col(col) / F.lit(bin_width)).alias("bucket")
    return (df.select(bucket)
              .groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n")))


def approx_distinct(df: DataFrame, keys: Sequence[str], col: str,
                    rsd: float = 0.05,
                    alias: str = "approx_distinct") -> DataFrame:
    """Approximate COUNT(DISTINCT) via HyperLogLog++ — the 100 TB form
    of A9/A10: fixed sketch memory per group and a mergeable partial
    state, where exact distinct would shuffle every value. ``rsd``
    is the target relative standard deviation (sketch size knob)."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(col, rsd).alias(alias))


def approx_quantiles(df: DataFrame, keys: Sequence[str], col: str,
                     probabilities: Sequence[float] = (0.25, 0.5, 0.75),
                     accuracy: int = 10_000) -> DataFrame:
    """Approximate percentiles via the Greenwald-Khanna sketch — the
    100 TB form of A5/A12: bounded state, map-side mergeable, error
    ≤ 1/accuracy of rank. Returns one array column ``quantiles``
    aligned with ``probabilities``."""
    probs = F.array(*[F.lit(float(p)) for p in probabilities])
    return df.groupBy(*keys).agg(
        F.percentile_approx(F.col(col), probs, F.lit(accuracy))
         .alias("quantiles"))


def rollup_agg(df: DataFrame, keys: Sequence[str],
               **aggs: Column) -> DataFrame:
    """Hierarchical subtotals: GROUP BY ROLLUP(keys) — every prefix of
    the key list plus the grand total, in ONE shuffle (Catalyst expands
    the grouping sets into a single Expand + hash aggregate, not one
    scan per level). ``g_<key>`` indicator columns (0 = grouped,
    1 = rolled up) disambiguate subtotal NULLs from genuine NULL key
    values — required for a lossless OLAP result."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    gcols = [F.grouping(k).cast("int").alias(f"g_{k}") for k in keys]
    return df.rollup(*keys).agg(*gcols, *exprs)


def cube_agg(df: DataFrame, keys: Sequence[str],
             **aggs: Column) -> DataFrame:
    """All 2^k marginal combinations: GROUP BY CUBE(keys), one Expand +
    one shuffle. Same ``g_<key>`` indicators as ``rollup_agg``."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    gcols = [F.grouping(k).cast("int").alias(f"g_{k}") for k in keys]
    return df.cube(*keys).agg(*gcols, *exprs)


def grouping_sets_agg(df: DataFrame, sets: Sequence[Sequence[str]],
                      keys: Sequence[str], **aggs: Column) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube compile
    to; lets a caller compute exactly the marginals a dashboard needs
    (e.g. ((a, b), (a), ()) but never (b)) without paying for the full
    cube. One Expand + one shuffle regardless of set count."""
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    gcols = [F.grouping(k).cast("int").alias(f"g_{k}") for k in keys]
    gsets = [[F.col(c) for c in s] for s in sets]
    return df.groupingSets(gsets, *[F.col(k) for k in keys]).agg(
        *gcols, *exprs)


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pearson correlation matrix (the reference's Corr Matrix /
    Pass_Blockers_Corr_Matrix artifacts): every pairwise ``corr`` in
    ONE aggregation pass — d(d+1)/2 streaming covariance accumulators,
    no per-pair scans, no collect of row data. Output is the long
    form (col_a, col_b, corr), one row per unordered pair incl. the
    unit diagonal, rounded to 6 for engine-stable comparison."""
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            # corr spelled as try_divide(covar, sx*sy): F.corr raises
            # DIVIDE_BY_ZERO under ANSI mode when a column is constant;
            # this form yields null there (surfaced as NaN below)
            r = F.try_divide(
                F.covar_samp(F.col(a), F.col(b)),
                F.stddev_samp(F.col(a)) * F.stddev_samp(F.col(b)))
            aggs.append(F.round(r, 6).alias(f"{a}|{b}"))
    row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    # corr of a constant column is null (zero variance) — surface it
    # as NaN rather than raising float(None)
    out = [(a, b, float(row[f"{a}|{b}"])
            if row[f"{a}|{b}"] is not None else float("nan"))
           for i, a in enumerate(cols) for b in cols[i:]]
    return spark.createDataFrame(out, ["col_a", "col_b", "corr"])


def time_rollup(df: DataFrame, ts_col: str,
                resolutions: Sequence[str],
                keys: Sequence[str],
                **aggs: Column) -> DataFrame:
    """Hypertable-style multi-resolution rollup (continuous-aggregate
    shape): the same measures at several time granularities in ONE
    shuffle — each row explodes to (resolution, bucket) pairs and a
    single groupBy aggregates all resolutions together, instead of
    one scan+shuffle per granularity. Resolutions are date_trunc
    units ('hour', 'day', 'week', 'month', ...)."""
    pairs = F.explode(F.array(*[
        F.struct(F.lit(r).alias("resolution"),
                 F.date_trunc(r, F.col(ts_col)).alias("bucket"))
        for r in resolutions])).alias("rb")
    exprs = [expr.alias(name) for name, expr in aggs.items()]
    return (df.select(pairs, *[F.col(k) for k in keys],
                      *[F.col(c) for c in df.columns if c not in keys])
            .groupBy(F.col("rb.resolution").alias("resolution"),
                     F.col("rb.bucket").alias("bucket"), *keys)
            .agg(*exprs))
