"""Join-based per-document gazetteer transport (the 100×-scale form).

The closure path (``detect_entities_df`` with ``{doc_id: names}``)
serializes EVERY doc's dictionary into EVERY task binary — fine for the
reference's per-project lists, O(all dictionaries) per task at 10^9
docs. ``detect_entities_df_joined`` replaces the closure with a
doc_id-local join against a (doc_id, name) dictionary TABLE; these
tests pin parity between the two transports and audit the plan.
"""

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.operators.mentions import (
    detect_entities_df,
    detect_entities_df_joined,
)
from named_architecture_entity_recognition_spark.schema import DOCUMENTS
from named_architecture_entity_recognition_spark.sources.sad import doc_row


def _docs(spark):
    return spark.createDataFrame(
        [
            doc_row(
                "d1",
                [
                    "The Billing Service handles payment.",
                    "It talks to the Audit Log.",
                    "The Audit Log stores events.",
                ],
            ),
            doc_row(
                "d2",
                [
                    "The Billing Service is unknown here.",
                    "The Query Planner optimizes requests.",
                ],
            ),
            doc_row("d3", ["Nothing relevant at all."]),
        ],
        DOCUMENTS,
    )


GAZ_MAP = {
    "d1": ["Billing Service", "Audit Log"],
    "d2": ["Query Planner"],
    # d3 deliberately absent: no dictionary -> no entities
}


def _rows(df):
    return sorted(
        (
            r.doc_id,
            r.name,
            r.entity_type,
            tuple(r.alternative_names),
            tuple((o.sent_no, o.ref_type) for o in r.occurrences),
        )
        for r in df.collect()
    )


def test_joined_path_matches_closure_path(spark):
    docs = _docs(spark)
    gaz_df = spark.createDataFrame(
        [(d, n) for d, names in GAZ_MAP.items() for n in names],
        "doc_id string, name string",
    )
    closure = detect_entities_df(docs, GAZ_MAP)
    joined = detect_entities_df_joined(docs, gaz_df)
    assert _rows(closure) == _rows(joined)
    # sanity on content: per-doc scoping respected (d2 must NOT link
    # Billing Service — it is only in d1's dictionary)
    got = {(r.doc_id, r.name) for r in joined.collect()}
    assert ("d1", "Billing Service") in got
    assert ("d2", "Query Planner") in got
    assert ("d2", "Billing Service") not in got
    assert not any(d == "d3" for d, _ in got)


def test_joined_path_typed_dictionary(spark):
    """entity_type column in the dictionary table types the entities
    (reference enum model/NamedEntityType.java:8); unknown types
    degrade to COMPONENT."""
    docs = _docs(spark)
    gaz_df = spark.createDataFrame(
        [
            ("d1", "Billing Service", "COMPONENT"),
            ("d1", "Audit Log", "INTERFACE"),
            ("d2", "Query Planner", "WEIRD"),
        ],
        "doc_id string, name string, entity_type string",
    )
    got = {
        (r.doc_id, r.name): r.entity_type
        for r in detect_entities_df_joined(docs, gaz_df).collect()
    }
    assert got[("d1", "Billing Service")] == "COMPONENT"
    assert got[("d1", "Audit Log")] == "INTERFACE"
    assert got[("d2", "Query Planner")] == "COMPONENT"


def test_joined_path_duplicate_dictionary_rows_are_idempotent(spark):
    docs = _docs(spark)
    gaz_df = spark.createDataFrame(
        [(d, n) for d, names in GAZ_MAP.items() for n in names] * 3,
        "doc_id string, name string",
    )
    dedup = detect_entities_df_joined(docs, gaz_df)
    assert _rows(dedup) == _rows(detect_entities_df(docs, GAZ_MAP))


def test_joined_path_plan_is_arrow_and_broadcastable(spark):
    """Plan audit (VERDICT r3 #6): no ArrowEvalPython/BatchEvalPython
    (the kernel is mapInArrow); with broadcast=True the documents side
    never shuffles — the ONLY hash exchange is the tiny dictionary
    pre-aggregation, and the join is a BroadcastHashJoin."""
    docs = _docs(spark)
    gaz_df = spark.createDataFrame(
        [(d, n) for d, names in GAZ_MAP.items() for n in names],
        "doc_id string, name string",
    )
    q = detect_entities_df_joined(docs, gaz_df, broadcast=True)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


@pytest.mark.parametrize("broadcast", [False, True])
def test_joined_path_broadcast_flag_is_result_invariant(spark, broadcast):
    docs = _docs(spark)
    gaz_df = spark.createDataFrame(
        [(d, n) for d, names in GAZ_MAP.items() for n in names],
        "doc_id string, name string",
    )
    got = _rows(detect_entities_df_joined(docs, gaz_df, broadcast=broadcast))
    assert got == _rows(detect_entities_df(docs, GAZ_MAP))


def test_compiled_gazetteer_cache_is_a_bounded_lru(monkeypatch):
    """The worker-level compiled-dictionary cache keeps at most 16
    entries and evicts the least recently used one; a hit returns the
    cached index without recompiling."""
    from named_architecture_entity_recognition_spark.operators import mentions

    compiles = []

    def fake_compile(names):
        compiles.append(tuple(names))
        return ("compiled", tuple(names))

    monkeypatch.setattr(mentions, "compile_gazetteer", fake_compile)
    mentions._compiled_gaz.cache_clear()
    try:
        dicts = [(f"Name{i}",) for i in range(17)]
        for d in dicts[:16]:
            assert mentions._compiled_gaz(d) == ("compiled", d)
        assert len(compiles) == 16
        # a hit: no recompile; dicts[0] becomes the most recently used
        assert mentions._compiled_gaz(dicts[0]) == ("compiled", dicts[0])
        assert len(compiles) == 16

        # the 17th dictionary evicts the least recently used, dicts[1]
        mentions._compiled_gaz(dicts[16])
        assert len(compiles) == 17
        assert mentions._compiled_gaz.cache_info().currsize == 16

        # the re-used dicts[0] and the newest survive: no recompile
        mentions._compiled_gaz(dicts[0])
        mentions._compiled_gaz(dicts[16])
        assert len(compiles) == 17
        # the evicted one compiles again
        mentions._compiled_gaz(dicts[1])
        assert compiles[-1] == dicts[1] and len(compiles) == 18
        assert mentions._compiled_gaz.cache_info().currsize == 16
    finally:
        # drop the fake results so no later caller in this process gets one
        mentions._compiled_gaz.cache_clear()


def test_dictionary_resolver_join_equals_closure_in_one_batch(spark):
    """One Arrow batch holding several dictionaries resolves each doc's
    own: typed JOIN rows equal the typed closure ({TYPE: names}, one run
    per doc) and untyped JOIN rows equal the {doc_id: names} closure,
    row for row. Covers a name listed under two types (ENTITY_TYPES
    precedence), an unknown and a null type (COMPONENT), a doc without a
    dictionary and an F1-invalid doc under validate_format."""
    docs = spark.createDataFrame(
        [
            doc_row(
                "d1",
                [
                    "The Billing Service handles payment.",
                    "It talks to the Audit Log.",
                    "The Audit Log stores events.",
                ],
            ),
            doc_row(
                "d2",
                [
                    "The Billing Service is unknown here.",
                    "The Query Planner optimizes requests.",
                ],
            ),
            doc_row("d3", ["Nothing relevant at all."]),
            doc_row("d4", ["The Billing Service runs", "The Audit Log stores."]),
            doc_row(
                "d5", ["The Audit Log (AL) records access.", "AL is append-only."]
            ),
        ],
        DOCUMENTS,
    ).coalesce(1)
    typed_rows = [
        ("d1", "Billing Service", "COMPONENT"),
        ("d1", "Audit Log", "CLASS"),
        ("d1", "Audit Log", "INTERFACE"),  # wins: INTERFACE precedes CLASS
        ("d2", "Query Planner", "WEIRD"),  # unknown type -> COMPONENT
        ("d2", "Billing Service", None),  # null type -> COMPONENT
        ("d4", "Billing Service", "COMPONENT"),  # F1-invalid doc
        ("d4", "Audit Log", "COMPONENT"),
        ("d5", "Audit Log", "CLASS"),
        ("d5", "Billing Service", "COMPONENT"),
    ]
    gaz_df = spark.createDataFrame(
        typed_rows, "doc_id string, name string, entity_type string"
    )
    typed = detect_entities_df_joined(
        docs, gaz_df, validate_format=True, broadcast=True
    )
    untyped = detect_entities_df_joined(
        docs, gaz_df.drop("entity_type"), validate_format=True, broadcast=True
    )
    # the documents side stays in one partition: one task, one batch
    assert typed.rdd.getNumPartitions() == 1
    assert untyped.rdd.getNumPartitions() == 1

    typed_closure = []
    for doc_id in ("d1", "d2", "d4", "d5"):
        by_type: dict = {}
        for d, name, etype in typed_rows:
            if d == doc_id:
                etype = etype if etype in ("INTERFACE", "CLASS") else "COMPONENT"
                by_type.setdefault(etype, []).append(name)
        typed_closure += _rows(
            detect_entities_df(
                docs.filter(F.col("doc_id") == doc_id),
                {t: sorted(n) for t, n in by_type.items()},
                validate_format=True,
            )
        )
    assert _rows(typed) == sorted(typed_closure)

    names_by_doc: dict = {}
    for d, name, _ in typed_rows:
        names_by_doc.setdefault(d, set()).add(name)
    untyped_closure = detect_entities_df(
        docs, {d: sorted(n) for d, n in names_by_doc.items()}, validate_format=True
    )
    assert _rows(untyped) == _rows(untyped_closure)

    # the comparison is not vacuous: every case above shows in the rows
    got = {(r[0], r[1]): r[2] for r in _rows(typed)}
    assert got == {
        ("d1", "Billing Service"): "COMPONENT",
        ("d1", "Audit Log"): "INTERFACE",
        ("d2", "Query Planner"): "COMPONENT",
        ("d2", "Billing Service"): "COMPONENT",
        ("d5", "Audit Log"): "CLASS",
    }
    assert {r[0] for r in _rows(untyped)} == {"d1", "d2", "d5"}
    d5 = ("d5", "Audit Log", "CLASS", ("AL",), ((1, "DIRECT"), (2, "DIRECT")))
    assert d5 in _rows(typed)
