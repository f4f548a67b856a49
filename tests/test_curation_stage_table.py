"""One definition of the curation gate chain
(pipelines/curation.py::STAGES): every boundary key the batch and the
streaming chains hand their ``stage_hook`` is a table key, emitted in
table order, under every opt-in stage and both streaming chain
shapes; the batch and streaming audits (one shared drop-lineage walk)
name the same Gopher rule for the same dropped document; and DSIR's
default selection size counts the RAW input whichever entry point
runs it."""

from __future__ import annotations

import random
import tempfile

import pytest

from big_data_bowl___2023_spark.pipelines.curation import (
    STAGE,
    curate_and_export,
    curation_audit,
    curation_frame,
)
from big_data_bowl___2023_spark.streaming.curation import (
    _stream_batch_audit,
    curate_document_stream,
)

EN = ("the", "a", "of", "and", "is")
DE = ("der", "die", "das", "und", "ist")


def _prose(rng: random.Random, markers, n_words: int = 40) -> str:
    """A one-line doc of invented words between marker stopwords:
    passes every Gopher rule, reads as the markers' language, and
    shares almost no shingles with any other generated doc."""
    words = []
    for _ in range(n_words // 2):
        words.append(rng.choice(markers))
        words.append("".join(rng.choice("bcdfghklmnprstvz") + "aeiou"[
            rng.randrange(5)] for _ in range(3)))
    return " ".join(words)


def _corpus(spark):
    rng = random.Random(7)
    distinct = [_prose(rng, EN) for _ in range(6)]
    leak = "the hidden evaluation passage is quoted here word for word"
    rows = [(i + 1, t, "web" if i % 2 else "docs")
            for i, t in enumerate(distinct)]
    rows += [
        (20, distinct[0], "web"),                      # exact dup
        (21, distinct[1].rsplit(" ", 2)[0], "docs"),   # near dup
        (22, "too short", "web"),                      # gopher drop
        (23, distinct[2] + " " + leak, "web"),         # contaminated
        (24, _prose(rng, DE), "web"),                  # not English
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "source string")
    bench = spark.createDataFrame([(100, leak)], "bench_id long, "
                                                 "text string")
    target = spark.createDataFrame([(900, distinct[3])],
                                   "doc_id long, text string")
    return docs, bench, target


@pytest.fixture(scope="module")
def world(spark):
    from big_data_bowl___2023_spark.functions.quality_model import (
        train_quality_classifier,
        weak_labels_from_source,
    )

    docs, bench, target = _corpus(spark)
    model = train_quality_classifier(weak_labels_from_source(
        docs.filter("doc_id < 20"), ("docs",)))
    return {"docs": docs, "bench": bench, "target": target,
            "model": model}


def _assert_table_order(seen: list) -> None:
    assert [k for k in seen if k not in STAGE] == []
    pos = [list(STAGE).index(k) for k in seen]
    assert pos == sorted(set(pos)), seen


# option name -> (curation_frame kwargs given the world, the key the
# option adds to the chain)
BATCH_OPTIONS = {
    "html": (lambda w: {"html_input": True}, "after_html_extract"),
    "lang": (lambda w: {"lang_keep": ["en"]}, "after_lang_filter"),
    "repetition": (lambda w: {"repetition_rules": True},
                   "after_repetition"),
    "quality_model": (lambda w: {"quality_model": w["model"]},
                      "after_model_quality"),
    "line_scrub": (lambda w: {"line_dedup_min_chars": 10},
                   "after_line_dedup"),
    "overlap": (lambda w: {"overlap_shared": 2}, "after_overlap_dedup"),
    "benchmark": (lambda w: {"benchmark": w["bench"]},
                  "after_decontamination"),
    "dsir": (lambda w: {"dsir_target": w["target"], "dsir_n_docs": 3},
             "after_dsir_selection"),
    "source_cap": (lambda w: {"max_docs_per_source": 2},
                   "after_source_cap"),
}


@pytest.mark.parametrize("options", [
    (), *[(name,) for name in BATCH_OPTIONS], tuple(BATCH_OPTIONS)],
    ids=["none", *BATCH_OPTIONS, "all"])
def test_batch_chain_emits_table_keys_in_order(world, options):
    kwargs: dict = {}
    for name in options:
        kwargs.update(BATCH_OPTIONS[name][0](world))
    seen: list = []
    curation_frame(world["docs"], min_words=10, seq_len=16,
                   shard_budget=64, stage_hook=lambda k, f: seen.append(k),
                   **kwargs)
    _assert_table_order(seen)
    assert seen[0] == "input" and seen[-1] == "chunks"
    for name in options:
        assert BATCH_OPTIONS[name][1] in seen


@pytest.mark.parametrize("fused", [True, False],
                         ids=["fused", "sequential"])
@pytest.mark.parametrize("with_history", [False, True],
                         ids=["no_history", "history"])
def test_stream_chain_emits_table_keys_in_order(spark, world, fused,
                                                with_history):
    history = spark.createDataFrame([("0" * 32,)], "fingerprint string") \
        if with_history else None
    seen: list = []
    curate_document_stream(world["docs"], history=history,
                           benchmark=world["bench"],
                           quality_model=None if fused else world["model"],
                           min_words=10, html_input=True,
                           lang_keep=["en"], decontaminate_n=4,
                           stage_hook=lambda k, f: seen.append(k))
    _assert_table_order(seen)
    assert ("curation_flags" in seen) == fused
    assert ("after_model_quality" in seen) == (not fused)
    assert ("after_history_dedup" in seen) == with_history
    assert {"after_lang_filter", "after_gopher", "after_redaction",
            "after_decontamination", "after_stream_dedup"} <= set(seen)


def test_batch_and_stream_audits_name_the_same_gopher_rule(spark):
    rng = random.Random(3)
    rows = [
        (1, _prose(rng, EN), "web"),                         # kept
        (2, "too short", "web"),                             # words
        (3, " ".join(["abcdefghijklmnop"] * 30), "web"),     # word len
        (4, " ".join(["#tag"] * 30), "web"),                 # symbols
        (5, " ".join(["12345"] * 30), "web"),                # alpha
        (6, "\n".join([_prose(rng, EN, 12)] * 5), "web"),    # dup lines
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "source string")

    def gopher_reasons(audit) -> dict:
        return {r["doc_id"]: r["reason"] for r in audit.collect()
                if r["stage"] in STAGE
                and STAGE[r["stage"]].reason == "gopher"}

    batch = gopher_reasons(curation_audit(docs, min_words=20,
                                          seq_len=16, shard_budget=64))
    captured: list = []

    def record(key, frame):
        if key != "stream_input":
            captured.append((key, frame))

    curate_document_stream(docs, min_words=20, stage_hook=record)
    stream = gopher_reasons(_stream_batch_audit(docs, captured, 20))
    assert batch == stream
    assert batch == {2: "pass_word_count", 3: "pass_mean_word_len",
                     4: "pass_symbol_frac", 5: "pass_alpha_frac",
                     6: "pass_dup_lines"}


def test_dsir_default_size_counts_the_raw_input(spark):
    """``lang_keep`` drops half the corpus before DSIR: the default
    selection is still half the RAW input, from curate_and_export's
    counting run and from a bare curation_frame alike."""
    rng = random.Random(11)
    rows = [(i, _prose(rng, EN), "web") for i in range(20)]
    rows += [(100 + i, _prose(rng, DE), "web") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "source string")
    target = spark.createDataFrame([(900, rows[0][1])],
                                   "doc_id long, text string")
    kwargs = dict(lang_keep=["en"], dsir_target=target, min_words=10,
                  seq_len=16, shard_budget=64)
    with tempfile.TemporaryDirectory() as tmp:
        stats = curate_and_export(docs, f"{tmp}/shards", **kwargs)
    assert stats["after_lang_filter"] == 20
    assert stats["after_near_dedup"] == 20
    captured: dict = {}
    curation_frame(docs, stage_hook=captured.__setitem__, **kwargs)
    assert stats["after_dsir_selection"] == 20
    assert captured["after_dsir_selection"].count() == 20
