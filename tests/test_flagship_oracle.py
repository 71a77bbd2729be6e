"""Pin the premises of the flagship DuckDB value oracle.

The oracle in ``__spark_entry__.oracle_sql()`` for q_naer_triples /
q_naer_entities reduces the full matcher cascade to per-chunk token
membership. That reduction is only valid because, on this corpus and
gazetteer:

  1. every corpus word is a lowercase alnum token (so _WORD_RE tokens ==
     whitespace words and ci_regex membership == token membership);
  2. no guard/anaphora trigger word exists in the vocabulary (than, we,
     it, this, possessives) so no R_EXACT guard and no pronoun rule can
     ever fire;
  3. every gazetteer name is a single non-ambiguous token, so the
     ambiguous path / head-noun / prefix / expand rules are unreachable;
  4. no window concatenation of corpus words collides with a gazetteer
     charset without containing the token itself (so R_FUZZY cannot add
     mentions) and no corpus word extends a gazetteer name into a stem /
     compound hit.

This test re-checks the premises mechanically and cross-checks the
reduction against the REAL pipeline on sf0.001, so any change to the
corpus generator, gazetteer, or matcher rules that invalidates the
oracle fails here rather than silently in CORRECTNESS.
"""

import itertools
import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as SE
from named_architecture_entity_recognition_spark.operators.matching import (
    _AMBIGUOUS_WORDS,
    _STEM_MIN_PREFIX,
    _STEM_SUFFIXES,
)

SF = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

GUARD_WORDS = {
    # _THAN_BEFORE / _OPINION_START / _POSSESSIVE_BEFORE triggers
    "than", "we", "his", "her", "their", "its", "my", "your",
    # pronoun / demonstrative starts (_PRONOUN_START, _DEMONSTRATIVE_START)
    "it", "this", "as", "such", "furthermore", "additionally", "moreover",
    "finally", "also", "in", "particular",
    # ambiguous-path suffix guard
    "tests", "test", "testing",
    # ctx-regex heads that would upgrade ambiguous hits
    "component", "layer", "subsystem",
}


@pytest.fixture(scope="module")
def vocab(spark):
    docs = SE._read(spark, SF, "documents")
    rows = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
        )
        .distinct()
        .collect()
    )
    return {r.w for r in rows}


def test_corpus_words_are_plain_lowercase(vocab):
    import re

    for w in vocab:
        assert re.fullmatch(r"[a-z0-9]+", w), f"non-plain corpus word {w!r}"


def test_no_guard_words_in_vocabulary(vocab):
    assert not (vocab & GUARD_WORDS), sorted(vocab & GUARD_WORDS)


def test_gazetteer_is_single_token_unambiguous():
    for g in SE._FLAGSHIP_GAZETTEER:
        assert g.isalnum() and g.islower(), g
        assert g not in _AMBIGUOUS_WORDS, f"{g} would take the ambiguous path"


def test_no_stem_compound_or_fuzzy_reachability(vocab):
    for g in SE._FLAGSHIP_GAZETTEER:
        # R_STEM requires len >= _STEM_MIN_PREFIX
        assert len(g) < _STEM_MIN_PREFIX, f"{g} could stem-match"
        # R_COMPOUND: corpus word strictly extending the name by > 2
        for w in vocab:
            assert not (
                len(g) >= 6 and w.startswith(g) and len(w) > len(g) + 2
            ), f"{w} compound-extends {g}"
        # corpus words that are stem variants of g would hit wn lookups
        for k in (1, 2):
            for suf in _STEM_SUFFIXES:
                assert g[:-k] + suf not in vocab or g[:-k] + suf == g
    # R_FUZZY: no 2-word window charset can equal a gazetteer charset
    # without containing the gazetteer token itself
    for g in SE._FLAGSHIP_GAZETTEER:
        if not (4 <= len(g) <= 6):
            continue
        gs = frozenset(g)
        for a, b in itertools.product(vocab, vocab):
            if g in (a, b):
                continue
            acc = a + b
            if (
                abs(len(acc) - len(g)) <= 1
                and acc[:1] == g[:1]
                and frozenset(acc) == gs
            ):
                pytest.fail(f"window {a}+{b} fuzzy-collides with {g}")


def test_reduction_matches_real_pipeline(spark):
    """Token-membership reduction == real RecognizerPipeline on sf0.001."""
    docs = SE._flat_to_spans_docs(SE._read(spark, SF, "documents"))
    real = SE._q_naer_triples(spark, SF)
    flat = SE._read(spark, SF, "documents")
    w = F.split(F.trim("text"), r"\s+")
    tok = flat.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.posexplode(w).alias("pos", "name"),
    ).select(
        "doc_id", "name", (F.floor(F.col("pos") / 8) + 1).cast("int").alias("sent_no")
    )
    occ = tok.filter(F.col("name").isin(list(SE._FLAGSHIP_GAZETTEER))).dropDuplicates()
    ent = occ.select("doc_id", "name").dropDuplicates()
    subj = F.concat_ws("#", "doc_id", "name")
    expected = (
        ent.select(subj.alias("subj"), F.lit("instanceOf").alias("pred"),
                   F.lit("COMPONENT").alias("obj"))
        .unionByName(ent.select(subj.alias("subj"), F.lit("hasName").alias("pred"),
                                F.col("name").alias("obj")))
        .unionByName(occ.select(
            subj.alias("subj"),
            F.lit("occursIn").alias("pred"),
            F.concat_ws(
                "#", "doc_id",
                F.concat(F.lit("s"), F.col("sent_no").cast("string")),
                F.lit("DIRECT"),
            ).alias("obj"),
        ))
    )
    assert real.exceptAll(expected).count() == 0
    assert expected.exceptAll(real).count() == 0
