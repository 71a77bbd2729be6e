"""Held-out generalization guard for the matcher (VERDICT r2 #6).

The matcher's rule set was tuned against the five ArDoCo benchmark gold
CSVs; several rules cite single benchmark lines as justification. This
suite evaluates the SAME rules on seeded synthetic SADs whose gazetteer
vocabulary is disjoint from all five benchmark texts, with gold derived
from the generator's templates (exact / normalized / induced-acronym /
short-name-typo / pronoun / head-noun transformations plus negative
templates). A benchmark-memorizing matcher fails here; a rule-general
matcher passes. Floors are deliberately below the benchmark floors
(0.9/0.9 vs 0.95/1.0) — held-out means no tuning against this data.
"""

from named_architecture_entity_recognition_spark.operators.matching import (
    MatcherConfig,
    compile_gazetteer,
    detect_mentions,
)
from named_architecture_entity_recognition_spark.synth import synth_holdout_sad

from conftest import requires_corpus

P_FLOOR = 0.9
R_FLOOR = 0.9
N_DOCS = 16


def _score(doc_range, seed=7):
    cfg = MatcherConfig()
    tp = fp = fn = 0
    misses = []
    for d in doc_range:
        lines, gaz, gold = synth_holdout_sad(d, seed=seed)
        mentions = detect_mentions(lines, compile_gazetteer(gaz, cfg))
        rec = {(n.lower(), s) for s, n, _, _ in mentions}
        tp += len(rec & gold)
        fp += len(rec - gold)
        fn += len(gold - rec)
        misses += [
            (d, k, lines[k[1] - 1]) for k in sorted((rec - gold) | (gold - rec))
        ]
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return p, r, misses


def test_holdout_precision_recall_floor():
    p, r, misses = _score(range(N_DOCS))
    assert p >= P_FLOOR, (p, misses)
    assert r >= R_FLOOR, (r, misses)


def test_holdout_second_seed():
    """A different generator seed reshuffles template order and verb
    choices — the floor must not depend on one lucky arrangement."""
    p, r, misses = _score(range(N_DOCS), seed=31)
    assert p >= P_FLOOR, (p, misses)
    assert r >= R_FLOOR, (r, misses)


def test_holdout_through_spark_pipeline(spark):
    """One held-out doc through the FULL Spark pipeline (documents ->
    entities -> evaluate), not just the raw matcher: the distributed
    plumbing must preserve matcher-level quality."""
    from named_architecture_entity_recognition_spark.plans.evaluate import (
        evaluate,
    )
    from named_architecture_entity_recognition_spark.plans.pipeline import (
        RecognizerPipeline,
    )
    from named_architecture_entity_recognition_spark.schema import DOCUMENTS
    from named_architecture_entity_recognition_spark.sources.sad import doc_row

    rows, gaz_by_doc, gold_rows = [], {}, []
    for d in range(3):
        lines, gaz, gold = synth_holdout_sad(d)
        doc = f"holdout{d}"
        rows.append(doc_row(doc, lines, media_every=4))
        gaz_by_doc[doc] = gaz
        gold_rows += [(doc, n, s) for n, s in gold]
    docs = spark.createDataFrame(rows, DOCUMENTS)
    entities = RecognizerPipeline(gaz_by_doc).entities(docs)
    gold = spark.createDataFrame(
        gold_rows, "doc_id string, component_name string, sentence int"
    )
    for m in evaluate(entities, gold).collect():
        assert m.precision >= P_FLOOR, (m.doc_id, m.precision)
        assert m.recall >= R_FLOOR, (m.doc_id, m.recall)


@requires_corpus
def test_ablation_full_config_dominates():
    """Ablation harness (tools/ablation.py — the engine's analogue of
    the reference's 13-config prompt-ablation methodology): the full
    MatcherConfig must score >= every single-rule ablation on combined
    F1 over the 5 benchmarks + held-out suite. If an ablation ever
    BEATS full, a rule is hurting and must be re-justified."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from ablation import main as ablation_main

    results = ablation_main()
    full_f1 = results["full"]["f1"]
    for name, m in results.items():
        assert m["f1"] <= full_f1 + 1e-9, (
            f"ablation {name} (F1={m['f1']}) beats full (F1={full_f1})"
        )
