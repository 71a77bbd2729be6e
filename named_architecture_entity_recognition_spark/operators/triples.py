"""KG triple materialization (north_star output shape).

entities rows -> (subj, pred, obj):
  (entity_id, 'instanceOf',          entity_type)
  (entity_id, 'hasName',             name)
  (entity_id, 'hasAlternativeName',  alias)            per alias
  (entity_id, 'occursIn',            doc#s<no>#<ref>)  per occurrence
with entity_id = '<doc_id>#<lower(name)>'.

Narrow per-row transforms and one explode; the S7 sink that writes
them by (pred, bucket(subj)) is ``sources/lakehouse.write_triples``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_id() -> "F.Column":
    return F.concat_ws("#", F.col("doc_id"), F.lower(F.col("name")))


def to_triples(entities: DataFrame) -> DataFrame:
    """Single-pass triple generation: per entity row, build the full
    (pred, obj) array and explode ONCE. A union of four projections
    would re-execute the upstream lineage (the fused mapInArrow
    detection) four times; this shape scans entities exactly once and
    stays narrow."""
    pairs = F.concat(
        F.array(
            F.struct(
                F.lit("instanceOf").alias("pred"),
                F.col("entity_type").alias("obj"),
            ),
            F.struct(F.lit("hasName").alias("pred"), F.col("name").alias("obj")),
        ),
        F.transform(
            "alternative_names",
            lambda a: F.struct(
                F.lit("hasAlternativeName").alias("pred"), a.alias("obj")
            ),
        ),
        F.transform(
            "occurrences",
            lambda o: F.struct(
                F.lit("occursIn").alias("pred"),
                F.concat_ws(
                    "#",
                    F.col("doc_id"),
                    F.concat(F.lit("s"), o["sent_no"].cast("string")),
                    o["ref_type"],
                ).alias("obj"),
            ),
        ),
    )
    return (
        entities.withColumn("subj", entity_id())
        .select("subj", F.explode(pairs).alias("po"))
        .select("subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"))
    )

