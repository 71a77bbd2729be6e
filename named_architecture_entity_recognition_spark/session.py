"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and
spark-submit jobs share one configuration story. Designed for a
multi-executor cluster; in this sandbox it runs local[N].
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf
from pyspark.sql import SparkSession

#: knobs chosen for the 100TB design point and safe at local scale
_DEFAULTS = {
    # AQE re-plans shuffles at runtime: coalesces small partitions and
    # splits skewed ones (hot gazetteer terms / giant docs)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # all Python boundaries are Arrow-vectorized
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # docs are wide rows (span arrays); keep scan partitions moderate
    "spark.sql.files.maxPartitionBytes": "134217728",
    # prune unused nested struct fields through expressions so the
    # detection scan reads only spans.kind + spans.text (off by default)
    "spark.sql.optimizer.expression.nestedPruning.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # deterministic timezone for reproducible hashing
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # no carriage-return stage bars glued to result lines of a captured log
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "8g",
}


def ensure_parallelism(df, factor: int = 1):
    """Repartition ONLY when the input has fewer partitions than the
    cluster has cores (e.g. a small single-row-group parquet file that
    Spark cannot split). At production scale inputs arrive with
    thousands of partitions and this is a no-op — no shuffle added.

    Runs no job. Counting the RDD partitions of an input that AQE plans
    (one holding a shuffle) would run its map stage an extra time, so
    its plan states the count (0 if none, which repartitions). Counting
    any other input's partitions only lists its splits."""
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        n = plan.executedPlan().outputPartitioning().numPartitions()
    else:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "naer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` so the same
    entrypoint works under spark-submit on a real cluster (where master
    comes from the submit command and this argument stays None *and* an
    existing session is returned).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # Python workers unpickle the package's Arrow kernels by reference,
    # so they must import the package even when the driver starts
    # outside the repo root: put its parent directory first on their
    # PYTHONPATH, keeping any value already configured
    key = "spark.executorEnv.PYTHONPATH"
    existing = conf.get(key) or SparkConf().get(key, "")
    paths = [str(Path(__file__).resolve().parents[1]), *existing.split(os.pathsep)]
    conf[key] = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
