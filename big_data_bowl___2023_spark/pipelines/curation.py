"""The full corpus-curation → training-shard export pipeline.

Each stage already exists as a tested operator; this module is the
PRODUCT composition — the one function a data engineer calls to turn
a raw document table into packed training shards:

    [HTML→text extraction (C4 §2.1)] → [language gate] →
    quality gate (Gopher rules) → [n-gram repetition ceilings
    (Gopher A1)] → [learned quality filter
    (fastText-style classifier)] → PII redaction →
    [corpus-wide repeated-line scrub (C4 rule)] → exact dedup →
    near-dup cluster resolution (MinHash-LSH → connected components,
    keep best per cluster) → [verbatim-overlap dedup (winnowing)] →
    benchmark decontamination → [DSIR target-domain selection] →
    [per-source quota cap] → context-window chunking →
    per-source token-budget packing →
    sharded JSONL export (partitioned by source/shard)

    Bracketed stages are opt-in (``html_input`` / ``lang_keep`` /
    ``repetition_rules`` / ``quality_model`` /
    ``line_dedup_min_chars`` / ``overlap_shared`` / ``dsir_target`` /
    ``max_docs_per_source`` arguments); embedding-space
    SemDeDup runs separately on the embeddings table
    (dedup/semantic.py) because it keys on vectors, not text.

``STAGES`` below is the one definition of the gate chain's boundaries
— their order, their audit drop reasons and their kinds — shared by
this batch chain, the streaming chain (streaming/curation.py) and
both per-document audits (:func:`drop_lineage`).

Stages compose as Catalyst chains between PINNED fan-out boundaries
(session.pin — the scrub input, the dedup survivor sets): a boundary
consumed by two downstream subtrees materializes once instead of
re-deriving the whole upstream per consumer. The returned stats (one
count per stage) are the audit record a curation run must emit
anyway. At 100 TB each stage keeps its own scale contract
(documented in its module) — the composition adds no new shuffles
beyond the stages themselves.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dedup import (
    canonical_docs,
    exact_dedup,
    minhash_band_pairs,
    remove_repeated_lines,
)
from ..dedup.decontaminate import decontaminate
from ..dedup.winnow import fingerprint_overlap_pairs
from ..operators.dsir import dsir_resample
from ..functions.gopher import first_failing_rule, gopher_filter
from ..functions.quality_model import model_quality_filter
from ..functions.redact import redact_documents
from ..functions import text as Tx
from ..operators.chunking import chunk_sequences
from ..operators.sampling import cap_per_group, pack_by_budget
from ..session import pin
from ..sources.io import write_jsonl


class Stage(NamedTuple):
    """One boundary of the curation gate chain.

    ``kind`` is ``input`` / ``chunk`` (the chain's two ends, never an
    audit stage), ``projection`` (rewrites text, never drops),
    ``flag`` (a row-local keep predicate; ``flag`` names the column
    the fused streaming prefix materializes it as), ``filter`` (a
    row-local gate that is not a flag: the model scorer) or
    ``shuffle`` (needs an exchange: dedup, selection, quotas)."""
    key: str
    reason: str | None      # audit drop label; None: never drops
    kind: str
    flag: str | None = None


# Every boundary key either chain hands to ``stage_hook``, in chain
# order. Keys and reasons are output values (the audits' stage/reason
# columns) and span names — never rename them. The batch chain calls
# the Gopher gate ``after_quality`` and the stream ``after_gopher``;
# decontamination is a map-side flag in the stream and a broadcast
# join (``decontaminate``) in the batch chain.
STAGES = (
    Stage("input", None, "input"),
    Stage("stream_input", None, "input"),
    Stage("after_html_extract", None, "projection"),
    Stage("curation_flags", None, "projection"),
    Stage("after_lang_filter", "wrong_language", "flag", "__lang"),
    Stage("after_quality", "gopher", "flag", "__gopher"),
    Stage("after_gopher", "gopher", "flag", "__gopher"),
    Stage("after_repetition", "ngram_repetition", "shuffle"),
    Stage("after_model_quality", "quality_model", "filter"),
    Stage("after_redaction", None, "projection"),
    Stage("after_line_dedup", "emptied_by_line_scrub", "shuffle"),
    Stage("after_exact_dedup", "exact_duplicate", "shuffle"),
    Stage("after_near_dedup", "near_duplicate", "shuffle"),
    Stage("after_overlap_dedup", "verbatim_overlap", "shuffle"),
    Stage("after_decontamination", "benchmark_contaminated", "flag",
          "__decon"),
    Stage("after_stream_dedup", "exact_duplicate", "shuffle"),
    Stage("after_history_dedup", "history_duplicate", "shuffle"),
    Stage("after_dsir_selection", "not_selected_dsir", "shuffle"),
    Stage("after_source_cap", "source_quota", "shuffle"),
    Stage("chunks", None, "chunk"),
)
STAGE = {s.key: s for s in STAGES}     # in chain order too


def boundary(stage_hook, key: str, frame: DataFrame) -> DataFrame:
    """Apply the ``stage_hook`` protocol at one boundary: the hook's
    DataFrame return replaces ``frame``; any other return (None, a
    count) leaves it as is."""
    r = stage_hook(key, frame) if stage_hook is not None else None
    return r if isinstance(r, DataFrame) else frame


def _gate_text(docs: DataFrame, captured: list) -> DataFrame:
    """(doc_id, text) as the gates saw it: the captured
    ``after_html_extract`` boundary when extraction ran, else the
    raw input — a tag-soup page that extracts to '' must be judged on
    its extracted text, not its markup (review r15)."""
    return next((f for k, f in captured if k == "after_html_extract"),
                docs).select("doc_id", "text")


def _when_chain(pairs) -> Column:
    """CASE WHEN c1 THEN v1 WHEN c2 THEN v2 … END (NULL when none
    holds)."""
    out = None
    for cond, value in pairs:
        out = F.when(cond, value) if out is None \
            else out.when(cond, value)
    return out


def _flag_attribution(flags: DataFrame, keys: set, enrich: dict):
    """(survivors, drop parts) for the flag-kind boundaries ``keys``
    that follow a fused ``curation_flags`` boundary, read from that
    pinned frame alone: each doc's first failing flag in table order
    is one ``when`` chain, with ``coalesce(flag, False)`` matching
    the filters' NULL drops — row-identical to anti-joins, because
    those boundaries are cumulative filters over the same flags."""
    gates = [s for s in STAGES
             if s.key in keys and s.flag in flags.columns]
    stage = F.col("stage")
    attrib = flags.select("doc_id", "source", _when_chain(
        (~F.coalesce(F.col(s.flag), F.lit(False)), F.lit(s.key))
        for s in gates).alias("stage"))
    rest = attrib.filter(stage.isNotNull()).select(
        "doc_id", "source", "stage",
        _when_chain((stage == s.key, F.lit(s.reason))
                    for s in gates).alias("reason"),
        F.lit(None).cast("string").alias("detail"))
    refined = []
    for s in gates:
        if s.key in enrich:
            refined.append(enrich[s.key](rest.filter(stage == s.key),
                                         flags))
            rest = rest.filter(stage != s.key)
    survivors = attrib.filter(stage.isNull()).select("doc_id", "source")
    return survivors, [rest, *refined]


def drop_lineage(docs: DataFrame, captured: list, min_words: int,
                 enrich: dict | None = None,
                 emptied: dict | None = None) -> DataFrame:
    """(doc_id, source, stage, reason, detail) for every row of
    ``docs``: the FIRST captured boundary that dropped it, or
    ``stage="kept"`` — the drop-lineage walk behind both
    :func:`curation_audit` and the streaming ingest audit.

    ``captured`` holds the chain's (key, frame) boundaries in hook
    order; boundaries without a ``STAGES`` reason are skipped. Drops
    are id-only anti-joins between consecutive boundaries (survivors
    carry on as a semi-join), labelled with the stage's reason.
    Per-key refinements:

    * a Gopher-gate drop names its first failing rule, re-flagged
      over the drop-sized subset against the text the gates saw;
    * ``enrich[key](dropped, frame)`` rewrites that stage's labelled
      drops (e.g. ``detail`` = the kept twin of a duplicate);
    * ``emptied[key](frame)`` names the docs a stage EMPTIED instead
      of dropping (the line scrub) — they are attributed there;
    * a ``curation_flags`` boundary (the fused streaming prefix)
      attributes every later flag-kind stage in ONE projection
      (:func:`_flag_attribution`) instead of anti-joins."""
    text = _gate_text(docs, captured)

    def first_rule(dropped, frame):
        return (dropped.join(text, "doc_id")
                .select("doc_id", "source", "stage",
                        first_failing_rule(F.col("text"),
                                           min_words=min_words)
                        .alias("reason"), "detail"))

    enrich = {**{s.key: first_rule for s in STAGES
                 if s.reason == "gopher"}, **(enrich or {})}
    emptied = emptied or {}
    keys = [k for k, _ in captured]
    null = F.lit(None).cast("string")
    prev = docs.select("doc_id", "source")
    parts: list[DataFrame] = []
    fused: set = set()
    for key, frame in captured:
        if key == "curation_flags":
            fused = {k for k in keys[keys.index(key):]
                     if STAGE[k].kind == "flag"}
            prev, flag_parts = _flag_attribution(frame, fused, enrich)
            parts += flag_parts
            continue
        reason = STAGE[key].reason
        if reason is None or key in fused:
            continue
        if key in emptied:
            ids = emptied[key](frame)
            dropped = prev.join(ids, "doc_id", "semi")
            prev = prev.join(ids, "doc_id", "left_anti")
        else:
            ids = frame.select("doc_id")
            dropped = prev.join(ids, "doc_id", "left_anti")
            prev = prev.join(ids, "doc_id", "semi")
        dropped = (dropped.withColumn("stage", F.lit(key))
                   .withColumn("reason", F.lit(reason))
                   .withColumn("detail", null))
        if key in enrich:
            dropped = enrich[key](dropped, frame)
        parts.append(dropped)

    out = (prev.withColumn("stage", F.lit("kept"))
           .withColumn("reason", F.lit("kept"))
           .withColumn("detail", null))
    for p in parts:
        out = out.unionByName(p)
    return out.select("doc_id", "source", "stage", "reason", "detail")


def curation_frame(docs: DataFrame,
                   benchmark: DataFrame | None = None,
                   seq_len: int = 512,
                   shard_budget: int = 4096,
                   jaccard_threshold: float = 0.3,
                   min_words: int = 50,
                   overlap_shared: int | None = None,
                   dsir_target: DataFrame | None = None,
                   dsir_n_docs: int | None = None,
                   line_dedup_min_chars: int | None = None,
                   quality_model=None,
                   quality_model_threshold: float = 0.5,
                   max_docs_per_source: int | None = None,
                   html_input: bool = False,
                   lang_keep: list | None = None,
                   repetition_rules: bool = False,
                   stage_hook=None) -> DataFrame:
    """Build the full curation chain and return the packed frame
    (one row per training chunk with its (source, shard)
    assignment) — the caller picks the sink: ``curate_and_export``
    writes JSONL shards, the bench runs it through the noop sink to
    time pure compute. Fan-out boundaries materialize eagerly at
    build time (see below); everything between them stays one lazy
    Catalyst chain. ``dsir_n_docs`` defaults to half the RAW input
    count.

    ``stage_hook(key, frame)`` — the one hook protocol every curation
    chain shares (:func:`boundary`): called at every stage boundary,
    with the keys and order of ``STAGES``. A returned **DataFrame**
    REPLACES the boundary frame in the chain — the injection point
    `curation_audit` uses to pin each stage's output so every stage
    evaluates exactly once (any value-preserving wrap is legal;
    changing the rows is the hook author's foot-gun). Any other
    return value (None, a tally count) is ignored.

    Fan-out boundaries consumed by MORE THAN ONE downstream subtree
    (the scrub input, the exact-dedup output, the near-dup survivor
    set) are PINNED here (``session.pin``) unless the hook already
    replaced them: without the pin every consumer re-evaluates the
    whole upstream chain — the sf0.1 bench plan held 28 parquet
    scans and 102 exchanges of pure re-derivation (guide §2.4), and
    at corpus scale each re-derivation is a full extra pass. The
    pins materialize at plan-build time, so the chain is no longer
    construction-lazy; it still computes everything from the inputs
    on every call, and the caller-visible rows are unchanged in
    every pin-durability mode."""
    def hook(key: str, frame: DataFrame, fan_out: bool = False):
        out = boundary(stage_hook, key, frame)
        return pin(out) if fan_out and out is frame else out

    docs = raw = hook("input", docs)

    if html_input:
        # web-crawl front door (C4 §2.1 / RefinedWeb §3.1): markup +
        # boilerplate-line extraction BEFORE any quality/dedup stage,
        # so every downstream rule sees prose, not tag soup. A pure
        # projection — Catalyst fuses it into the gopher_filter scan,
        # adding zero jobs or shuffles (functions/html.py).
        from ..functions.html import extract_html_text
        docs = hook("after_html_extract",
                    docs.withColumn("text",
                                    extract_html_text(F.col("text"))))

    if lang_keep is not None:
        # language gate BEFORE the quality rules (the CCNet /
        # RefinedWeb order: off-language pages shouldn't spend
        # quality/dedup compute): marker-stopword language ID
        # (functions/text.py::detect_lang) — a pure codegen
        # predicate, fused into the same scan as everything else
        docs = hook("after_lang_filter",
                    docs.filter(Tx.detect_lang(F.col("text"))
                                .isin(list(lang_keep))))

    quality = hook("after_quality", gopher_filter(docs,
                                                  min_words=min_words))

    if repetition_rules:
        # the aggregation half of the Gopher rule set (A1 top/dup
        # n-gram character ceilings): one extra (id, n, gram)
        # shuffle over the quality survivors only — after the cheap
        # projection gate, before any dedup pays per-doc cost
        from ..functions.gopher import repetition_filter
        quality = hook("after_repetition", repetition_filter(quality))

    if quality_model is not None:
        # learned second gate (functions/quality_model.py): scoring
        # is a broadcast-model map pass, no shuffle added.
        quality = hook("after_model_quality", model_quality_filter(
            quality, quality_model,
            threshold=quality_model_threshold).drop("quality_prob"))

    clean = redact_documents(quality)

    if line_dedup_min_chars is not None:
        # corpus-wide boilerplate scrub (C4 repeated-span rule) BEFORE
        # exact dedup: stripping shared footers/banners first lets the
        # whole-text fingerprint see the real content. The scrub
        # consumes its input twice (stats pass + rewrite pass) — pin
        # the gate/redaction prefix so both passes read one
        # materialization instead of re-running the upstream chain.
        clean = hook("after_line_dedup", remove_repeated_lines(
            pin(clean), min_chars=line_dedup_min_chars))

    # fan-out: consumed by the MinHash pair mine AND the survivor
    # window below
    deduped = hook("after_exact_dedup",
                   exact_dedup(clean).drop("fingerprint"), fan_out=True)

    pairs = minhash_band_pairs(deduped, jaccard_threshold)
    # keep the longest doc per near-dup cluster (id tiebreak)
    withlen = deduped.withColumn("__len", F.length("text"))
    # fan-out: the winnow stage consumes canon for fingerprints AND
    # the keep-longest window; decontamination consumes it for the
    # shingle probe AND the anti-join pass-through
    canon = hook("after_near_dedup",
                 canonical_docs(withlen, pairs, prefer_col="__len")
                 .drop("__len", "cluster_id"),
                 fan_out=overlap_shared is not None
                 or benchmark is not None)

    if overlap_shared is not None:
        # verbatim-overlap (winnowed fingerprint) dedup: same
        # keep-longest rule over overlap clusters as the MinHash stage
        ov = fingerprint_overlap_pairs(canon, min_shared=overlap_shared,
                                       max_doc_freq=1000)
        withlen = canon.withColumn("__len", F.length("text"))
        canon = hook("after_overlap_dedup",
                     canonical_docs(withlen, ov, prefer_col="__len")
                     .drop("__len", "cluster_id"),
                     fan_out=benchmark is not None)

    if benchmark is not None:
        # DSIR consumes its raw side twice (feature pass + the final
        # selected join)
        canon = hook("after_decontamination",
                     decontaminate(canon, benchmark),
                     fan_out=dsir_target is not None)

    if dsir_target is not None:
        n_sel = dsir_n_docs or _dsir_default_n(raw.count())
        canon = hook("after_dsir_selection",
                     dsir_resample(canon, dsir_target, n_sel)
                     .drop("logw", "key"))

    if max_docs_per_source is not None:
        # RefinedWeb-style per-source quota AFTER dedup/selection so
        # the cap counts surviving docs, not raw crawl volume.
        canon = hook("after_source_cap",
                     cap_per_group(canon, ["source"],
                                   max_docs_per_source))

    # `source` rides the chunk explode instead of a join-back against
    # canon — the join re-evaluated the whole surviving chain once
    # more just to attach one metadata column (guide §2.4); the
    # carried column produces the identical rows.
    chunks = hook("chunks", chunk_sequences(canon, seq_len,
                                            carry_cols=("source",)))

    return pack_by_budget(chunks, shard_budget, "n_tokens",
                          ["source"], id_col="doc_id")


def _dsir_default_n(n_raw: int) -> int:
    """DSIR's default selection size: half the raw input."""
    return max(1, n_raw // 2)


def curate_and_export(docs: DataFrame, out_dir: str,
                      lazy_stats: bool = False, **kwargs) -> dict:
    """Run the pipeline and write shards; returns per-stage counts.
    Accepts every :func:`curation_frame` keyword.

    Shards are packed per source (the parallelism unit — a global
    pack would serialize) and written as JSONL partitioned by
    (source, shard) for straight consumption by a trainer.

    ``lazy_stats=False`` (default) counts after every stage — the
    audit record a curation run must emit anyway, at the cost of one
    extra job per stage. ``lazy_stats=True`` skips every count so
    only the fan-out boundary pins and the export action run — the
    100 TB mode when the audit comes from the written manifest
    instead."""
    stats: dict = {}
    if not lazy_stats:
        # the input count doubles as the DSIR default's raw count
        stats["input"] = docs.count()
        kwargs["dsir_n_docs"] = (kwargs.get("dsir_n_docs")
                                 or _dsir_default_n(stats["input"]))

    def tally(key: str, frame: DataFrame):
        if not lazy_stats and key not in stats:
            stats[key] = frame.count()

    packed = curation_frame(docs, stage_hook=tally, **kwargs)
    write_jsonl(packed.repartition("source", "shard")
                .sortWithinPartitions("doc_id", "seq_idx"),
                out_dir)
    if not lazy_stats:
        stats["shards"] = (packed.select("source", "shard")
                           .distinct().count())
    return stats


def curation_audit(docs: DataFrame, min_words: int = 50,
                   pin_handles: list | None = None,
                   **kwargs) -> DataFrame:
    """Per-DOCUMENT curation lineage: (doc_id, source, stage, reason,
    detail) — for every input document, either the FIRST stage that
    dropped it (with a human-debuggable reason) or ``stage="kept"``.
    The per-stage COUNTS `curate_and_export` emits say how many died
    where; this answers the question an operator actually asks when a
    slice of a 100 TB corpus vanishes: WHICH documents, and WHY.

    Built from the same lazy chain as :func:`curation_frame` (every
    keyword forwards): each doc-grain stage boundary is captured via
    the ``stage_hook`` and walked by :func:`drop_lineage`; reasons
    are the ``STAGES`` labels, enriched where the stage has
    per-document structure to expose —

    * the Gopher gate names the FIRST FAILING RULE (`gopher.flags`,
      evaluated only over the dropped subset);
    * exact dedup names the kept twin (``detail`` = the min-id
      SURVIVOR sharing the raw fingerprint; NULL when the collision
      was created by an upstream rewrite, so detail never names a
      doc absent from the corpus);
    * the line scrub never drops rows — it EMPTIES fully-boilerplate
      docs, whose husks would die later at exact dedup — so emptied
      docs are attributed here (``emptied_by_line_scrub``), where
      the cause is, not where the husk happens to fall;
    * every other stage tags its cause label (near_duplicate,
      verbatim_overlap, benchmark_contaminated, not_selected_dsir,
      source_quota, quality_model).

    Cost: ONE pipeline evaluation (verdict r10 #3 — previously one
    PREFIX evaluation per stage, ~stages× the pipeline). The capture
    hook PINS each doc-grain boundary (`session.pin` — the boundary
    frame it hands back into the chain), so stage i+1 computes from
    stage i's materialization instead of re-running the prefix, and
    every audit branch reads pinned data. The price is stage-count ×
    corpus bytes of pin storage held until the audit result is
    consumed (pass ``pin_handles=[]`` to receive the pinned frames
    and ``unpersist()`` them after — only meaningful under durable
    pins; localCheckpoint blocks free on GC). Every join here
    carries ids only — document text is touched just twice (the
    gopher re-flag and the fingerprint join, both restricted to
    dropped/duplicated docs). At full corpus scale the pin storage,
    not CPU, is now the budget: sample (``docs.sample(...)``) when
    stage-count × corpus exceeds scratch disk."""
    from ..dedup.exact import fingerprint_docs

    captured: list[tuple[str, DataFrame]] = []

    def capture(key, frame):
        # the extraction boundary is pinned too: the reasons re-read
        # the text the stages saw (_gate_text)
        if STAGE[key].reason is None and key != "after_html_extract":
            return None              # input / chunk-grain stages
        pinned = pin(frame)
        if pin_handles is not None:
            pin_handles.append(pinned)
        captured.append((key, pinned))
        return pinned                # replaces the boundary in-chain

    curation_frame(docs, stage_hook=capture, min_words=min_words,
                   **kwargs)
    fp = fingerprint_docs(_gate_text(docs, captured)) \
        .select("doc_id", "fingerprint")

    def raw_twin(dropped, frame):
        # the dropped doc's RAW fingerprint joined to the min-id doc
        # sharing it AMONG THE STAGE'S SURVIVORS — so detail can only
        # ever name a doc that is actually in the corpus (review
        # r10). A collision CREATED by an upstream rewrite
        # (redaction, line scrub) has no surviving raw twin — detail
        # stays NULL there; stage and reason are exact regardless.
        kept = (fp.join(frame.select("doc_id"), "doc_id", "semi")
                .groupBy("fingerprint")
                .agg(F.min("doc_id").alias("__kept")))
        return (dropped.drop("detail")
                .join(fp, "doc_id")
                .join(kept, "fingerprint", "left")
                .select("doc_id", "source", "stage", "reason",
                        F.col("__kept").cast("string").alias("detail")))

    def scrub_husks(frame):
        # "empty" must mean what the FINGERPRINT means by it: a husk
        # reduced to whitespace/newlines only (trim strips spaces,
        # not \n — review r10) normalizes to zero tokens
        return (frame.filter(F.size(Tx.norm_tokens(F.col("text"))) == 0)
                .select("doc_id"))

    return drop_lineage(docs, captured, min_words,
                        enrich={"after_exact_dedup": raw_twin},
                        emptied={"after_line_dedup": scrub_husks})


def curation_report(docs: DataFrame) -> DataFrame:
    """Pre-flight per-source health: doc counts, Gopher pass rate,
    token volume — the numbers that decide thresholds BEFORE running
    the pipeline. One aggregation scan."""
    from ..functions.gopher import all_pass

    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg(all_pass(F.col("text"))
                               .cast("double")), 6)
                 .alias("gopher_pass_rate"),
                 F.sum(Tx.token_count(F.col("text"))).alias("n_tokens")))


def corpus_profile(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Per-source corpus data card — the one-call report that feeds
    dataset documentation and threshold decisions before a curation
    run: (source, n_docs, n_tokens, avg_tokens, gopher_pass_rate,
    mean_quality, en_share, compression_p50, exact_dup_rate).

    ONE corpus text pass regardless of size (r16; previously two):
    a single scan computes every per-document signal (token counts,
    Gopher flags, heuristic quality, language ID, zlib compression
    ratio, md5 fingerprint) map-side; the narrow signal table
    (~9 scalars/doc, no text) is pinned and BOTH aggregates read it —
    the per-source signal fold, and the exact-duplicate rate's
    fingerprint shuffle (count per md5, docs in shared fingerprints)
    whose tiny per-source tally joins back broadcast-side. At corpus
    scale the pin trades a ~100 B/doc materialization for a second
    full read+decompress of the text column. Medians use Spark's
    exact ``percentile`` (same interpolation DuckDB's quantile_cont
    applies, so the card is oracle-checkable).
    """
    from ..functions.gopher import all_pass
    from ..functions.text import compression_ratio_udf, detect_lang

    enriched = pin(docs.select(
        F.col(source_col).alias("source"),
        Tx.token_count(F.col(text_col)).alias("__tok"),
        all_pass(F.col(text_col)).cast("double").alias("__pass"),
        Tx.quality_score(F.col(text_col)).alias("__q"),
        (detect_lang(F.col(text_col)) == "en")
        .cast("double").alias("__en"),
        compression_ratio_udf()(F.col(text_col)).alias("__c"),
        Tx.fingerprint(F.col(text_col)).alias("fingerprint")))
    base = (enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.round(F.avg("__tok"), 6).alias("avg_tokens"),
        F.round(F.avg("__pass"), 6).alias("gopher_pass_rate"),
        F.round(F.avg("__q"), 6).alias("mean_quality"),
        F.round(F.avg("__en"), 6).alias("en_share"),
        F.round(F.expr("percentile(__c, 0.5)"), 6)
        .alias("compression_p50")))

    from pyspark.sql import Window

    # the dup-rate pass reads the PINNED signal table — source rides
    # along, no join-back, and the text column is never re-scanned
    fp = enriched.select("source", "fingerprint")
    shared = (fp.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("fingerprint")))
        .filter(F.col("__n") > 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("__dups")))
    return (base.join(F.broadcast(shared), "source", "left")
            .withColumn("exact_dup_rate",
                        F.round(F.coalesce(F.col("__dups"), F.lit(0))
                                / F.col("n_docs"), 6))
            .drop("__dups"))


def curation_sequences(docs: DataFrame, seq_len: int = 2048,
                       sep_tokens: int = 1,
                       stage_hook=None, **kwargs) -> DataFrame:
    """The trainer-facing output mode: run the SAME gate chain as
    :func:`curation_frame` (every keyword forwards, ``stage_hook``
    included — same protocol, same ``STAGES`` order), then emit
    cross-document packed-sequence manifests
    (``operators.chunking.assemble_sequences`` → one record per
    training sequence, per-source streams) instead of per-doc chunk
    shards. Use when the consumer is a pretraining loader that wants
    fixed ``seq_len`` windows crossing document boundaries rather
    than document-grain JSONL.

    Everything stays lazy: the chunk/pack tail of the underlying
    chain is constructed but never executed — only the manifest plan
    the caller acts on runs. ``seq_len`` here is the TRAINING
    sequence length (the forwarded chain's own ``seq_len`` is
    irrelevant because its chunk stage is discarded)."""
    from ..operators.chunking import assemble_sequences, sequence_manifest

    captured: dict = {}
    # boundaries that can be the curated corpus the manifest reads,
    # latest first — pin them in-chain (unless the user hook already
    # replaced them), so the manifest consumes a materialization and
    # the chain's own internal fan-out pins are not duplicated
    keys = list(STAGE)
    terminal = keys[keys.index("after_near_dedup"):
                    keys.index("chunks")][::-1]

    def capture(key, frame):
        # record what the chain runs on: the user hook's replacement,
        # or the manifest below would silently re-evaluate the
        # unpinned original (review r11 finding)
        out = boundary(stage_hook, key, frame)
        if out is frame and key in terminal:
            out = pin(frame)
        captured[key] = out
        return out

    curation_frame(docs, stage_hook=capture, **kwargs)
    # the last doc-grain stage that ran is the curated corpus
    canon = next(captured[k] for k in terminal if k in captured)
    spans = assemble_sequences(canon, seq_len, sep_tokens,
                               group_cols=("source",))
    return sequence_manifest(spans, group_cols=("source",))
