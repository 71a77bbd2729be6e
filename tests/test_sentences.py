"""Sentence explode, validation, reassembly (F1-F3, S2)."""

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.sentences import (
    get_line,
    reassemble_text,
    text_spans,
    validate_documents,
    with_validity,
)
from named_architecture_entity_recognition_spark.sources.sad import documents_from_text


@pytest.fixture(scope="module")
def docs(spark):
    return documents_from_text(
        spark,
        {
            "good": "First sentence.\nSecond one!\nThird?",
            "bad": "Fine sentence.\nno terminator here\nAnother fine.",
        },
        media_every=2,
    )


def test_sent_no_ignores_media_spans(spark, docs):
    s = text_spans(docs).filter(F.col("doc_id") == "good").orderBy("sent_no")
    rows = s.collect()
    assert [r.sent_no for r in rows] == [1, 2, 3]
    assert rows[1].sentence == "Second one!"


def test_media_spans_present_in_source(docs):
    kinds = docs.select(
        F.explode("spans").alias("s")
    ).select("s.kind").distinct().collect()
    assert {r.kind for r in kinds} == {"text", "image"}


def test_validation_flags(spark, docs):
    v = with_validity(text_spans(docs))
    bad = v.filter(~F.col("is_valid")).collect()
    assert len(bad) == 1 and bad[0].sentence == "no terminator here"


def test_validate_documents(docs):
    out = {r.doc_id: r for r in validate_documents(docs).collect()}
    assert out["good"].valid and out["good"].n_invalid == 0
    assert not out["bad"].valid and out["bad"].n_invalid == 1


def test_get_line_1_indexed(docs):
    s = text_spans(docs)
    assert get_line(s, "good", 1) == "First sentence."
    with pytest.raises(IndexError):
        get_line(s, "good", 4)


def test_reassemble_text(docs):
    out = {r.doc_id: r.text for r in reassemble_text(docs).collect()}
    assert out["good"] == "First sentence.\nSecond one!\nThird?"


def test_span_sequence_invariant(docs):
    """Per-row span-sequence equality on (kind, text, media_ref, order)
    is preserved through the pipeline (input_hint invariant): the
    pipeline never mutates documents, so verify the identity holds after
    a pass through validation."""
    valid = validate_documents(docs).filter("valid").select("doc_id")
    ok = docs.join(valid, "doc_id")
    src = docs.filter(F.col("doc_id") == "good").select("doc_id", "spans")
    assert src.exceptAll(ok.select("doc_id", "spans")).count() == 0
