"""Public API facade with the reference's shape.

Reference surface (recognizer/NamedEntityRecognizer.java:57-151):

    recognizer = new NamedEntityRecognizer.Builder()
        .chatModel(model).prompt(prompt).build();
    Set<NamedEntity> out = recognizer.recognize(sad);                 // E1
    Set<NamedEntity> out = recognizer.recognize(sad, possibleEntities); // E2

Our equivalent:

    recognizer = NamedEntityRecognizer.Builder().gazetteer(names).build()
    out = recognizer.recognize(docs)                     # E1
    out = recognizer.recognize(docs, possible_entities)  # E2

The detector stands where the reference's Prompt/ChatModel pair does:
the deterministic gazetteer scorer, which always runs under the
matcher's default configuration, so the dictionary is the Builder's one
setting. An LLM-backed detector slots in by emitting answer blobs in the
reference's JSON/structured-text formats and routing them through
``parsers.answers`` (same contract the reference's prompts define).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from named_architecture_entity_recognition_spark.plans.pipeline import (
    RecognizerPipeline,
)


@dataclass
class NamedEntityRecognizer:
    """recognize(docs[, possible_entities]) -> entities DataFrame."""

    default_gazetteer: object = ()

    class Builder:
        def __init__(self):
            self._gazetteer = ()

        def gazetteer(self, names):
            self._gazetteer = names
            return self

        def build(self) -> "NamedEntityRecognizer":
            return NamedEntityRecognizer(default_gazetteer=self._gazetteer)

    def recognize(
        self, docs: DataFrame, possible_entities=None
    ) -> DataFrame:
        """E1/E2: documents -> entities. ``possible_entities`` is the
        gazetteer (one list, or {doc_id: names}); when omitted, the
        recognizer falls back to the builder's default dictionary
        (the reference without a gazetteer relies on the LLM's open
        vocabulary — our deterministic engine is dictionary-scoped by
        design, so an empty dictionary yields no mentions)."""
        gaz = possible_entities if possible_entities is not None else self.default_gazetteer
        pipe = RecognizerPipeline(gaz)
        return pipe.entities(docs)

    def recognize_triples(self, docs: DataFrame, possible_entities=None) -> DataFrame:
        gaz = possible_entities if possible_entities is not None else self.default_gazetteer
        pipe = RecognizerPipeline(gaz)
        return pipe.triples(docs)
