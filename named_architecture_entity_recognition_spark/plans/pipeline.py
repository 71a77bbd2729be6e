"""End-to-end recognition pipeline (reference E1/E2 lifecycle, SURVEY §3).

    documents --(one fused mapInArrow pass: F1 validation, detection,
                 per-(doc_id, name) assembly)--> entities --> triples
              --(lakehouse.write_triples)--> (pred, bucket(subj)) sink

Shuffle inventory at 10^12-doc scale: ZERO up to triples (entities are
doc-local; triples are one narrow explode), then ONE rebalance Exchange
on (pred, subj_bucket), owned by write_triples, for one file per sink
partition directory. The gazetteer rides in the detection closure
(broadcast semantics); no similarity work ever crosses doc boundaries.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from named_architecture_entity_recognition_spark.operators.mentions import (
    detect_entities_df,
)
from named_architecture_entity_recognition_spark.operators.triples import to_triples


@dataclass
class RecognizerPipeline:
    """Spark-side equivalent of the reference's NamedEntityRecognizer
    (recognizer/NamedEntityRecognizer.java:57-81), gazetteer-assisted
    mode (ibid. :95-98)."""

    #: one corpus-wide list, or {doc_id: [names]} per-doc dictionaries
    gazetteer_names: object
    validate: bool = True

    def entities(self, docs: DataFrame) -> DataFrame:
        # F1 validation happens inside the detection pass itself
        # (validate_format), so the documents are scanned once. A1-A4
        # grouping is (doc_id, name)-local, so it runs fused inside the
        # detection workers: detect_entities_df runs the same Arrow
        # kernel and dictionary resolver as detect_mentions_df, with the
        # entity output builder instead of the mention one, and the
        # flagship needs NO shuffle at all. assemble_entities remains
        # the grouping operator for mention streams from other sources
        # (parsed LLM answers), and an equivalence test pins
        # detect_entities_df == assemble(detect_mentions_df).
        return detect_entities_df(
            docs, self.gazetteer_names, validate_format=self.validate
        )

    def triples(self, docs: DataFrame) -> DataFrame:
        """KG triples of the entities. Cross-document entity linking
        composes on the entities: sameas_triples(canonicalize_corpus(
        entities)) (operators/cc.py)."""
        return to_triples(self.entities(docs))
