"""Sentence explode + format validation — all narrow (shuffle-free) ops.

Reference semantics:
  - 1-indexed sentence numbers (model/SoftwareArchitectureDocumentation.java:117-124)
  - format invariant: every line trim-non-empty and matching ``.*[.!?]$``
    (ibid. :76-95); the reference throws, we quarantine + count (F1/F5
    resilience rule from SURVEY §2.2).

sent_no is computed with ``posexplode`` over the *filtered* span array,
so it is derived per-row without any window/shuffle — crucial at 10^12
docs where a row_number window over (doc_id, offset) would shuffle the
whole corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SENTENCE_TERMINATOR = r"[.!?]$"


def text_spans(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, sent_no, sentence); narrow, no shuffle."""
    return docs.select(
        "doc_id",
        F.posexplode(F.filter("spans", lambda s: s["kind"] == F.lit("text"))).alias(
            "pos", "span"
        ),
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("sent_no"),
        F.col("span.text").alias("sentence"),
    )


def with_validity(sentences: DataFrame) -> DataFrame:
    """Add ``is_valid`` per the reference format check."""
    t = F.trim(F.col("sentence"))
    return sentences.withColumn(
        "is_valid",
        F.col("sentence").isNotNull()
        & (F.length(t) > 0)
        & t.rlike(SENTENCE_TERMINATOR),
    )


def validate_documents(docs: DataFrame) -> DataFrame:
    """Per-doc validation verdict: (doc_id, n_sentences, n_invalid, valid).

    The reference fails the whole document on any bad line
    (checkTextFormat); at scale we quarantine those docs instead and
    surface counts as metrics.
    """
    s = with_validity(text_spans(docs))
    return s.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_sentences"),
        F.sum((~F.col("is_valid")).cast("int")).cast("int").alias("n_invalid"),
        (F.sum((~F.col("is_valid")).cast("int")) == 0).alias("valid"),
    )


def get_line(sentences: DataFrame, doc_id: str, sent_no: int) -> str:
    """Positional lookup (reference getLine, F2) — test helper."""
    row = sentences.filter(
        (F.col("doc_id") == doc_id) & (F.col("sent_no") == sent_no)
    ).head()
    if row is None:
        raise IndexError(f"line number {sent_no} out of range for {doc_id}")
    return row["sentence"]


def reassemble_text(docs: DataFrame) -> DataFrame:
    """getText (F3): join text spans with newline, per doc; narrow."""
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
        ).alias("text"),
    )
