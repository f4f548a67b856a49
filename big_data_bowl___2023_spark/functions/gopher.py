"""Gopher-style document quality rules.

Rae et al., "Scaling Language Models: ... Gopher" (2021), Appendix A
published the rule set most curation pipelines (MassiveText, Dolma,
RefinedWeb) still use: bounds on word counts and word shapes plus
repetition ratios, each cheap enough to run over every document. All
rules here are single-scan codegen expressions (split / filter /
aggregate over token and line arrays — no UDF), so the full rule set
adds one projection to a corpus pass.

``gopher_flags`` exposes each rule as its own boolean column (curation
wants per-rule incidence to debug WHY a slice is dying, not a single
verdict); ``gopher_filter`` keeps documents passing every rule.
Thresholds are the published defaults, overridable per call.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text as Tx

# published defaults (Gopher App. A, adapted to whitespace tokens)
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_WORD_FRAC = 0.1     # words containing # or … (ellipsis)
MIN_ALPHA_WORD_FRAC = 0.8      # words with ≥ 1 alphabetic char
MAX_DUP_LINE_FRAC = 0.3        # duplicate lines / lines


def flags(text: Column,
          min_words: int = MIN_WORDS,
          max_words: int = MAX_WORDS,
          min_mean_word_len: float = MIN_MEAN_WORD_LEN,
          max_mean_word_len: float = MAX_MEAN_WORD_LEN,
          max_symbol_word_frac: float = MAX_SYMBOL_WORD_FRAC,
          min_alpha_word_frac: float = MIN_ALPHA_WORD_FRAC,
          max_dup_line_frac: float = MAX_DUP_LINE_FRAC) -> dict[str, Column]:
    """rule-name → boolean PASS column (True = keep).

    Word-shape rules are pure codegen regexp_counts (r16; guide
    §4.1) — the previous interpreted array filters/folds walked the
    token array once per rule with CodegenFallback lambdas.
    Equivalence under the single-space ``tokenize``: a non-empty
    token IS a maximal run of non-space characters, so
    ``[^ ]+`` counts words; the summed word length is the count of
    non-space characters (``length`` after deleting spaces); a word
    containing ``#``/``…`` (or an ASCII letter) is one match of
    run-prefix + class-char + run-suffix — the ``[^ #…]*`` /
    ``[^ A-Za-z]*`` prefixes make the first class-char the anchor, so
    each qualifying word yields exactly one non-overlapping match.
    Null text → null counts → null flags, coalesced False by every
    consumer, as before."""
    n = F.regexp_count(text, F.lit(r"[^ ]+")).cast("double")
    sum_len = F.length(F.regexp_replace(text, F.lit(" "), F.lit("")))
    mean_len = F.when(n > 0, sum_len.cast("double") / n)
    symbol_frac = F.when(
        n > 0,
        F.regexp_count(text, F.lit(r"[^ #…]*[#…][^ ]*"))
        .cast("double") / n)
    alpha_frac = F.when(
        n > 0,
        F.regexp_count(text, F.lit(r"[^ A-Za-z]*[A-Za-z][^ ]*"))
        .cast("double") / n)
    lines = F.filter(F.split(text, "\n"),
                     lambda line: F.trim(line) != "")
    nl = F.size(lines).cast("double")
    dup_line_frac = F.when(
        nl > 0, (nl - F.size(F.array_distinct(lines))) / nl)
    return {
        "pass_word_count": (n >= min_words) & (n <= max_words),
        "pass_mean_word_len": (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len),
        "pass_symbol_frac": symbol_frac <= max_symbol_word_frac,
        "pass_alpha_frac": alpha_frac >= min_alpha_word_frac,
        "pass_dup_lines": F.coalesce(
            dup_line_frac <= max_dup_line_frac, F.lit(False)),
    }


def all_pass(text: Column, **thresholds) -> Column:
    """AND of every rule (null text fails everything) — the single
    definition of ``pass_gopher``, shared by the flag/filter surface
    and the report/profile aggregations."""
    acc = None
    for col in flags(text, **thresholds).values():
        col = F.coalesce(col, F.lit(False))
        acc = col if acc is None else (acc & col)
    return acc


def first_failing_rule(text: Column, **thresholds) -> Column:
    """Name of the first rule (in ``flags`` order) a document fails;
    ``"null_text"`` when no rule reports a failure (NULL text makes
    every flag NULL). The drop reason the curation audits give a
    Gopher-gate drop."""
    return F.coalesce(*[F.when(~passes, F.lit(name)) for name, passes
                        in flags(text, **thresholds).items()],
                      F.lit("null_text"))


def gopher_flags(df: DataFrame, text_col: str = "text",
                 **thresholds) -> DataFrame:
    """Input plus one boolean column per rule and ``pass_gopher``
    (AND of all rules; null text fails everything)."""
    fl = flags(F.col(text_col), **thresholds)
    out = df
    for name, col in fl.items():
        out = out.withColumn(name, F.coalesce(col, F.lit(False)))
    return out.withColumn("pass_gopher",
                          all_pass(F.col(text_col), **thresholds))


def gopher_filter(df: DataFrame, text_col: str = "text",
                  **thresholds) -> DataFrame:
    """Documents passing every rule, original schema."""
    return (gopher_flags(df, text_col, **thresholds)
            .filter(F.col("pass_gopher"))
            .select(*df.columns))


# ------------------------------------ repetition signals (Gopher A1)

# published defaults: top-n-gram character-fraction ceilings for
# n = 2, 3, 4 and duplicated-n-gram ceilings for n = 5..10
TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11,
                 10: 0.10}


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       top_ns: tuple = (2, 3, 4),
                       dup_ns: tuple = (5, 6, 7, 8, 9, 10)) -> DataFrame:
    """Per-document n-gram repetition fractions — the half of the
    Gopher rule set `flags` could not express as a single projection
    (within-doc n-gram frequency needs an aggregation):
    ``top_{n}gram_char_frac`` for n in ``top_ns`` and
    ``dup_{n}gram_char_frac`` for n in ``dup_ns``, each relative to
    the document's normalized character count (tokens joined by
    single spaces). Missing/short docs (fewer than n tokens) read
    0.0 — nothing repeats in an n-gram space that doesn't exist.

    Definitions (documented divergence from the paper's prose, which
    never pins tie-breaks): *top* = max over distinct n-grams of
    occurrences × gram length — the most character-massive n-gram,
    which equals "the most frequent n-gram's characters" except on
    count ties, where it deterministically takes the longest —
    capped at 1.0 like *dup* (overlapping occurrences can otherwise
    push the mass past the character count); *dup*
    = Σ over n-grams occurring ≥ 2× of occurrences × gram length.
    Overlapping occurrences each count, as in the reference
    implementations.

    The 100 TB shape: grams for EVERY n are built in one codegen
    projection (per-n transform over the token array), exploded
    once, and aggregated in a single groupBy((id, n, gram)) →
    groupBy((id, n)) chain — ONE shuffle keyed by (id, n, gram)
    with map-side partial counts, never one shuffle per n; the
    result joins back on the id. Skew-safe: a pathological
    one-gram-repeated doc produces many rows of ONE key, bounded by
    that doc's own token count."""
    ns = sorted(set(top_ns) | set(dup_ns))
    toks = F.filter(Tx.tokenize(F.col(text_col)), lambda t: t != "")
    total = F.length(F.array_join(toks, " ")).cast("double")
    base = df.select(F.col(id_col).alias("__id"),
                     toks.alias("__w"),
                     total.alias("__total"))

    def grams(n: int) -> str:
        return (f"transform(sequence(1, size(__w) - {n} + 1), "
                f"i -> named_struct('n', {n}, "
                f"'gram', array_join(slice(__w, i, {n}), ' ')))")

    tagged = " || ".join(
        f"CASE WHEN size(__w) >= {n} THEN {grams(n)} "
        f"ELSE array() END" for n in ns)
    # the shuffle key is the gram's 64-bit hash, not its text: the
    # count/mass statistics only need identity + length, so the
    # (id, n, gram) exchange carries 12 B per gram instead of the
    # full string (~5× fewer shuffle bytes at n = 10). A within-doc
    # 64-bit collision (≈ k²/2⁶⁵ at k grams per doc) merges two
    # counts of one heuristic fraction — negligible and harmless.
    ex = (base.select("__id", "__total",
                      F.explode(F.expr(f"({tagged})")).alias("__g"))
          .select("__id", "__total",
                  F.col("__g.n").alias("__n"),
                  F.xxhash64(F.col("__g.gram")).alias("__gh"),
                  F.length(F.col("__g.gram")).alias("__gl")))
    per_gram = (ex.groupBy("__id", "__total", "__n", "__gh")
                .agg(F.count(F.lit(1)).alias("__c"),
                     F.max("__gl").alias("__gl")))
    mass = F.col("__c") * F.col("__gl")
    per_n = (per_gram.groupBy("__id", "__total", "__n")
             .agg(F.max(mass).alias("__top_chars"),
                  F.sum(F.when(F.col("__c") >= 2, mass)
                        .otherwise(F.lit(0))).alias("__dup_chars")))
    safe_total = F.when(F.col("__total") > 0, F.col("__total"))
    stats = per_n.select(
        "__id", "__n",
        F.round(F.least(F.lit(1.0),
                        F.coalesce(F.col("__top_chars") / safe_total,
                                   F.lit(0.0))), 6)
         .alias("__top_frac"),
        F.round(F.least(F.lit(1.0),
                        F.coalesce(F.col("__dup_chars") / safe_total,
                                   F.lit(0.0))), 6)
         .alias("__dup_frac"))
    wide = (stats.groupBy("__id")
            .pivot("__n", ns)
            .agg(F.first("__top_frac").alias("top"),
                 F.first("__dup_frac").alias("dup")))
    cols = [F.col(c) for c in df.columns]
    out = df.join(wide, F.col(id_col) == F.col("__id"), "left")
    # pivot columns are ALWAYS '{value}_{alias}' when the pivot agg
    # carries more than one expression — even for a single pivot
    # value (review r15: the len(ns)==1 special case crashed)
    for n in top_ns:
        cols.append(F.coalesce(F.col(f"{n}_top"), F.lit(0.0))
                    .alias(f"top_{n}gram_char_frac"))
    for n in dup_ns:
        cols.append(F.coalesce(F.col(f"{n}_dup"), F.lit(0.0))
                    .alias(f"dup_{n}gram_char_frac"))
    return out.select(*cols)


def repetition_filter(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      top_max: dict | None = None,
                      dup_max: dict | None = None) -> DataFrame:
    """Documents passing every repetition ceiling (published Gopher
    defaults), original schema. Composes with `gopher_filter` as the
    aggregation-grade second half of the rule set."""
    top_max = TOP_NGRAM_MAX if top_max is None else top_max
    dup_max = DUP_NGRAM_MAX if dup_max is None else dup_max
    sig = repetition_signals(df, text_col, id_col,
                             top_ns=tuple(top_max),
                             dup_ns=tuple(dup_max))
    cond = F.lit(True)
    for n, t in top_max.items():
        cond = cond & (F.col(f"top_{n}gram_char_frac") <= F.lit(t))
    for n, t in dup_max.items():
        cond = cond & (F.col(f"dup_{n}gram_char_frac") <= F.lit(t))
    return sig.filter(cond).select(*df.columns)
