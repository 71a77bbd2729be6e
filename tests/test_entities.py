"""Entity assembly, set semantics, canonical forms (A1-A5, P4-P5, F6-F7)."""

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.entities import (
    assemble_entities,
    change_name,
    clean_component_name,
    dedup_entities,
    flatten_occurrences,
    lowercase_all_names,
    occurrence_lines,
)
from named_architecture_entity_recognition_spark.operators.triples import to_triples
from named_architecture_entity_recognition_spark.schema import MENTIONS


@pytest.fixture(scope="module")
def mentions(spark):
    rows = [
        ("d1", "mention", "WebUI", 2, "DIRECT", "R_EXACT", None),
        ("d1", "mention", "WebUI", 1, "DIRECT", "R_EXACT", None),
        ("d1", "mention", "WebUI", 2, "DIRECT", "R_EXACT", None),  # dup
        ("d1", "mention", "WebUI", 3, "INDIRECT", "R_PRONOUN", None),
        ("d1", "mention", "Auth", 5, "DIRECT", "R_EXACT", None),
        ("d1", "alias", "WebUI", None, None, "R_ALIAS", "UI"),
        ("d2", "mention", "WebUI", 1, "DIRECT", "R_EXACT", None),
    ]
    return spark.createDataFrame(rows, MENTIONS)


def test_assemble_sorted_distinct_occurrences(mentions):
    e = {r.name: r for r in assemble_entities(mentions).filter(F.col("doc_id") == "d1").collect()}
    occ = [(o.sent_no, o.ref_type) for o in e["WebUI"].occurrences]
    assert occ == [(1, "DIRECT"), (2, "DIRECT"), (3, "INDIRECT")]
    assert e["WebUI"].alternative_names == ["UI"]
    assert e["Auth"].alternative_names == []
    assert e["WebUI"].entity_type == "COMPONENT"


def test_clean_component_name(spark):
    df = spark.createDataFrame(
        [("gui component",), ("The  Component Store",), ("plain",)], "name string"
    ).select(clean_component_name("name").alias("c"))
    assert [r.c for r in df.collect()] == ["gui", "The Store", "plain"]


def test_lowercase_all_names(spark):
    df = spark.createDataFrame(
        [("d1", "WebUI", "COMPONENT", ["UI", "ui"], [])],
        "doc_id string, name string, entity_type string, "
        "alternative_names array<string>, occurrences array<struct<sent_no:int,ref_type:string>>",
    )
    r = lowercase_all_names(df).head()
    assert r.name == "webui" and r.alternative_names == ["ui"]


def test_change_name_keeps_history(spark):
    df = spark.createDataFrame(
        [("d1", "WebUI", "COMPONENT", ["UI"], [])],
        "doc_id string, name string, entity_type string, "
        "alternative_names array<string>, occurrences array<struct<sent_no:int,ref_type:string>>",
    )
    r = change_name(df, F.lit("Frontend")).head()
    assert r.name == "Frontend" and r.alternative_names == ["UI", "WebUI"]


def test_dedup_entities(mentions):
    e = assemble_entities(mentions)
    doubled = e.unionByName(e)
    assert dedup_entities(doubled).count() == e.count()


def test_occurrence_lines_and_flatten(mentions):
    e = assemble_entities(mentions)
    lines = {
        r.name: r.occurrence_lines
        for r in occurrence_lines(e).filter(F.col("doc_id") == "d1").collect()
    }
    assert lines["WebUI"] == [1, 2, 3]
    flat = flatten_occurrences(e).filter(
        (F.col("doc_id") == "d1") & (F.col("name") == "WebUI")
    )
    assert sorted(r.sent_no for r in flat.collect()) == [1, 2, 3]


def test_triples_shape(mentions):
    t = to_triples(assemble_entities(mentions))
    preds = {r.pred for r in t.select("pred").distinct().collect()}
    assert preds == {"instanceOf", "hasName", "hasAlternativeName", "occursIn"}
    occ = t.filter(
        (F.col("pred") == "occursIn") & (F.col("subj") == "d1#webui")
    ).collect()
    assert {r.obj for r in occ} == {
        "d1#s1#DIRECT",
        "d1#s2#DIRECT",
        "d1#s3#INDIRECT",
    }
    assert t.filter(
        (F.col("pred") == "hasAlternativeName") & (F.col("subj") == "d1#webui")
    ).head().obj == "UI"


def test_fused_entities_equal_assembled(spark):
    """detect_entities_df (grouping fused into the detection worker)
    must equal assemble_entities(detect_mentions_df(...)) row for row."""
    from named_architecture_entity_recognition_spark.operators.mentions import (
        detect_entities_df,
        detect_mentions_df,
    )
    from named_architecture_entity_recognition_spark.synth import (
        synth_documents,
        synth_gazetteer,
    )

    docs = synth_documents(spark, 60, seed=3)
    gaz = synth_gazetteer(40)
    fused = detect_entities_df(docs, gaz, validate_format=True)
    assembled = assemble_entities(
        detect_mentions_df(docs, gaz, validate_format=True)
    )
    assert fused.exceptAll(assembled).count() == 0
    assert assembled.exceptAll(fused).count() == 0
    assert fused.count() > 0


def test_mention_kernel_emits_quarantine_and_alias_records(spark):
    """detect_mentions_df with validate_format: an F1-invalid doc
    yields exactly one 'quarantined' record (sent_no = its number of
    invalid lines) and nothing else; an acronym-defining doc yields its
    'alias' record next to its mentions."""
    from named_architecture_entity_recognition_spark.operators.mentions import (
        detect_mentions_df,
    )
    from named_architecture_entity_recognition_spark.schema import DOCUMENTS
    from named_architecture_entity_recognition_spark.sources.sad import doc_row

    docs = spark.createDataFrame(
        [
            doc_row("bad", ["Kurento runs", "", "Kurento streams video."]),
            doc_row(
                "acro",
                ["Kurento Media Server (KMS) streams video.", "KMS scales out."],
            ),
        ],
        DOCUMENTS,
    )
    mentions = detect_mentions_df(docs, ["Kurento"], validate_format=True)
    got = sorted((tuple(r) for r in mentions.collect()), key=repr)
    assert got == sorted(
        [
            ("bad", "quarantined", "", 2, None, "F1", None),
            ("acro", "mention", "Kurento", 1, "DIRECT", "R_EXACT", None),
            ("acro", "mention", "Kurento", 2, "DIRECT", "R_ALIAS", None),
            ("acro", "alias", "Kurento", None, None, "R_ALIAS", "KMS"),
        ],
        key=repr,
    )
