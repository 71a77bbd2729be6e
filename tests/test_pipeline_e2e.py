"""End-to-end correctness: full pipeline over the 5 ArDoCo benchmark
SADs (converted to the interleaved documents shape with media-span
noise), evaluated against the reference gold standards with the
reference's own evaluation semantics (SURVEY §3 E3).

Thresholds are the measured capability of the deterministic extractor
(tools/tune_matcher.py) minus a small safety margin; the three projects
named by BASELINE.json's metric (teastore, mediastore, bigbluebutton)
carry the strictest bounds.
"""

import pytest
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.plans.evaluate import evaluate
from named_architecture_entity_recognition_spark.plans.pipeline import (
    RecognizerPipeline,
)
from named_architecture_entity_recognition_spark.schema import DOCUMENTS
from named_architecture_entity_recognition_spark.sources.sad import doc_row

from conftest import BENCHMARK_PROJECTS, load_benchmark_project, requires_corpus

# (precision_floor, recall_floor) per project — measured 2026-08:
# bbb 0.963/1.0, jabref 0.947/1.0, mediastore 0.967/1.0,
# teammates 0.942/0.961, teastore 1.0/1.0
# BASELINE.json metric: P/R >= 0.95 on teastore, mediastore, bigbluebutton.
#: all five reference projects at the (P>=0.95, R=1.0) bar since r2
#: (measured r2: bbb 0.963/1.0, jabref 1.0/1.0, mediastore 0.967/1.0,
#: teammates 0.962/1.0, teastore 1.0/1.0 — recall is exactly 1.0 on
#: every project, so the floor pins it; the 5 remaining FPs are
#: annotation judgment calls documented in BASELINE.md)
THRESHOLDS = {
    "bigbluebutton": (0.95, 1.0),
    "jabref": (0.95, 1.0),
    "mediastore": (0.95, 1.0),
    "teammates": (0.95, 1.0),
    "teastore": (0.95, 1.0),
}


@pytest.fixture(scope="module")
def results(spark):
    rows, gaz_by_doc, gold_rows = [], {}, []
    for proj in BENCHMARK_PROJECTS:
        lines, gaz, gold = load_benchmark_project(proj)
        rows.append(doc_row(proj, lines, media_every=4))
        gaz_by_doc[proj] = gaz
        gold_rows += [(proj, n, s) for n, s in gold]
    docs = spark.createDataFrame(rows, DOCUMENTS)
    # per-doc dictionaries, as the reference evaluation does
    # (recognize(sad, possibleEntities) per project)
    pipe = RecognizerPipeline(gaz_by_doc)
    entities = pipe.entities(docs)
    gold = spark.createDataFrame(
        gold_rows, "doc_id string, component_name string, sentence int"
    )
    metrics = {r.doc_id: r for r in evaluate(entities, gold).collect()}
    return entities, metrics


# parametrized over the floors, not the corpus listing: without the
# corpus each floor still shows up, as a skip that names the path
@requires_corpus
@pytest.mark.parametrize("proj", sorted(THRESHOLDS))
def test_project_precision_recall(results, proj):
    _, metrics = results
    m = metrics[proj]
    p_floor, r_floor = THRESHOLDS[proj]
    assert m.precision >= p_floor, (
        f"{proj}: precision {m.precision:.3f} < {p_floor} "
        f"(tp={m.tp} fp={m.fp} fn={m.fn})"
    )
    assert m.recall >= r_floor, (
        f"{proj}: recall {m.recall:.3f} < {r_floor} "
        f"(tp={m.tp} fp={m.fp} fn={m.fn})"
    )


def test_entities_are_deduplicated(results):
    entities, _ = results
    key = ["doc_id", "entity_type", "name", "alternative_names", "occurrences"]
    assert entities.count() == entities.dropDuplicates(key).count()


def test_occurrences_sorted(results):
    entities, _ = results
    bad = entities.filter(
        F.col("occurrences") != F.array_sort("occurrences")
    ).count()
    assert bad == 0


def test_results_invariant_under_partitioning(spark):
    """SURVEY §5: identical triples regardless of input partitioning —
    no operator may depend on row co-location or partition order."""
    from named_architecture_entity_recognition_spark.synth import (
        synth_documents,
        synth_gazetteer,
    )

    gaz = synth_gazetteer(40)
    pipe = RecognizerPipeline(gaz, validate=True)
    docs1 = synth_documents(spark, 80, seed=9, partitions=2)
    docs2 = synth_documents(spark, 80, seed=9, partitions=13)
    t1 = pipe.triples(docs1).select("subj", "pred", "obj")
    t2 = pipe.triples(docs2).select("subj", "pred", "obj")
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0
