"""Resumable checkpointing with per-partition lineage + metrics
(north_rule requirement).

Every stage writes its output partitioned by ``doc_bucket =
pmod(xxhash64(doc_id), n_buckets)`` plus a manifest recording rows
in/out per bucket. A resumed run recomputes ONLY buckets missing from
the manifest (the anti-join happens on bucket ids, i.e. partition
pruning at the file level — no data read for completed buckets). A
stage written under another bucket count is recomputed whole.

At production scale the same protocol is Iceberg snapshots + hidden
bucket partitioning; parquet directories are the sandbox stand-in.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from named_architecture_entity_recognition_spark.sources.lakehouse import RAW_LOCAL_FS

MANIFEST = "_naer_manifest.json"


def with_bucket(df: DataFrame, n_buckets: int, key: str = "doc_id") -> DataFrame:
    return df.withColumn(
        "doc_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


class StageCheckpoint:
    """Checkpointed stage: compute-or-resume per doc bucket."""

    def __init__(self, root: str, stage: str, n_buckets: int = 8):
        self.root = Path(root)
        self.stage = stage
        self.n_buckets = n_buckets
        self.dir = self.root / stage
        self.manifest_path = self.dir / MANIFEST

    def _load_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"stage": self.stage, "n_buckets": self.n_buckets, "buckets": {}}

    def completed_buckets(self) -> set:
        return {int(b) for b in self._load_manifest()["buckets"]}

    def _recover(self, done: set) -> None:
        """Crash recovery: the commit protocol is (1) write all pending
        buckets to a staging dir, (2) atomically rename each complete
        ``doc_bucket=N`` dir into the stage dir, (3) atomically replace
        the manifest. A crash at any point leaves either stale staging
        output or published bucket dirs not yet recorded in the
        manifest; both are removed here so the resume recomputes them
        exactly once — no duplicate rows, ever."""
        staging = self.dir / "_staging"
        if staging.exists():
            shutil.rmtree(staging)
        if self.dir.exists():
            for p in self.dir.glob("doc_bucket=*"):
                try:
                    b = int(p.name.split("=", 1)[1])
                except ValueError:
                    continue
                if b not in done:
                    shutil.rmtree(p)

    def run(self, compute, inputs: DataFrame, key: str = "doc_id") -> DataFrame:
        """compute(bucketed_inputs) -> DataFrame with doc_bucket column.

        Processes only buckets not yet in the manifest; returns the full
        (old + new) stage output. Durable-commit ordering: bucket data
        becomes visible via atomic rename BEFORE the manifest marks it
        done, and orphaned (data-without-manifest) buckets are deleted
        on resume — so a crash anywhere cannot double-count rows.
        """
        spark = inputs.sparkSession
        manifest = self._load_manifest()
        if manifest["n_buckets"] != self.n_buckets:
            # under another bucket count every bucket id names other
            # docs: drop the manifest first, then _recover drops the data
            self.manifest_path.unlink()
            manifest = self._load_manifest()
        done = {int(b) for b in manifest["buckets"]}
        todo = sorted(set(range(self.n_buckets)) - done)
        bucketed = with_bucket(inputs, self.n_buckets, key)
        if todo:
            self.dir.mkdir(parents=True, exist_ok=True)
            self._recover(done)
            staging = self.dir / "_staging"
            pending = bucketed.filter(F.col("doc_bucket").isin(todo))
            out = compute(pending)
            if "doc_bucket" not in out.columns:
                out = with_bucket(out, self.n_buckets, key)
            rows_in = (
                pending.groupBy("doc_bucket").count().withColumnRenamed("count", "rows_in")
            )
            (
                out.write.mode("overwrite")
                .options(**RAW_LOCAL_FS)
                .partitionBy("doc_bucket")
                .parquet(str(staging))
            )
            # publish: per-bucket atomic rename (same filesystem). At
            # production scale this is the Iceberg snapshot commit; the
            # staging+rename protocol is its parquet-dir stand-in.
            published = []
            for p in sorted(staging.glob("doc_bucket=*")):
                target = self.dir / p.name
                os.replace(p, target)
                published.append(target)
            shutil.rmtree(staging, ignore_errors=True)
            if published:
                rows_out_rows = (
                    spark.read.option("basePath", str(self.dir))
                    .parquet(*[str(t) for t in published])
                    .groupBy("doc_bucket")
                    .count()
                    .withColumnRenamed("count", "rows_out")
                )
            else:
                rows_out_rows = None
            if rows_out_rows is not None:
                joined = rows_in.join(rows_out_rows, "doc_bucket", "full")
            else:
                joined = rows_in.withColumn("rows_out", F.lit(0))
            stats = {
                int(r["doc_bucket"]): {
                    "rows_in": int(r["rows_in"] or 0),
                    "rows_out": int(r["rows_out"] or 0),
                }
                for r in joined.collect()
            }
            for b in todo:
                manifest["buckets"][str(b)] = stats.get(
                    b, {"rows_in": 0, "rows_out": 0}
                )
            # atomic manifest commit (write-temp + rename)
            tmp = self.manifest_path.with_suffix(".json.tmp")
            tmp.write_text(json.dumps(manifest, indent=1))
            os.replace(tmp, self.manifest_path)
        return spark.read.parquet(str(self.dir))

    def metrics(self) -> dict:
        return self._load_manifest()


def checkpointed_pipeline(
    docs: DataFrame,
    gazetteer_names,
    root: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Full pipeline with per-stage checkpoints: mentions -> entities ->
    triples, each resumable per doc bucket. F1-invalid docs are
    quarantined in the mentions stage, as ``RecognizerPipeline`` does."""
    from named_architecture_entity_recognition_spark.operators.entities import (
        assemble_entities,
    )
    from named_architecture_entity_recognition_spark.operators.mentions import (
        detect_mentions_df,
    )
    from named_architecture_entity_recognition_spark.operators.triples import (
        to_triples,
    )

    st_mentions = StageCheckpoint(root, "mentions", n_buckets)
    mentions = st_mentions.run(
        lambda d: detect_mentions_df(
            d.drop("doc_bucket"), gazetteer_names, validate_format=True
        ),
        docs,
    )
    st_entities = StageCheckpoint(root, "entities", n_buckets)
    entities = st_entities.run(
        lambda m: assemble_entities(m.drop("doc_bucket")),
        mentions,
    )
    st_triples = StageCheckpoint(root, "triples", n_buckets)
    return st_triples.run(
        lambda e: to_triples(e.drop("doc_bucket")).withColumn(
            "doc_id", F.split("subj", "#")[0]
        ),
        entities,
    )
