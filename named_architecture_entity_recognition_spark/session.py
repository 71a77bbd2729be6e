"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and
spark-submit jobs share one configuration story. Designed for a
multi-executor cluster; in this sandbox it runs local[N].
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

from pyspark import SparkConf
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_JVM_SRC = Path(__file__).resolve().parent / "jvm" / "NoForkLocalFileSystem.java"
_WORKER_DAEMON = "named_architecture_entity_recognition_spark.worker_daemon"

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


def nofork_fs_jar() -> str:
    """The jar holding ``jvm/NoForkLocalFileSystem.java``, the local
    filesystem the package's writers name in ``lakehouse.RAW_LOCAL_FS``.

    Compiled once with ``javac`` against the running Spark's Hadoop
    client API and cached in ``jvm/build/`` under the digest of the
    source. The jar is published with ``os.replace``, so concurrent
    builders race harmlessly and an edited source gets a new jar. Under
    spark-submit, a job that writes to ``file:`` paths ships this jar
    with ``--jars``; ``hdfs://`` and ``s3a://`` targets never load the
    ``file:`` implementation."""
    digest = hashlib.sha256(_JVM_SRC.read_bytes()).hexdigest()[:16]
    jar = _JVM_SRC.parent / "build" / f"nofork-fs-{digest}.jar"
    if jar.exists():
        return str(jar)
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(f"javac (JDK 17+) is needed to build {jar} from {_JVM_SRC}")
    api = sorted(Path(_find_spark_home(), "jars").glob("hadoop-client-api-*.jar"))
    if not api:
        raise RuntimeError(f"no hadoop-client-api jar under {_find_spark_home()}/jars")
    jar.parent.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=jar.parent) as tmp:
        classes = Path(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-cp", os.pathsep.join(map(str, api)),
             "-d", str(classes), str(_JVM_SRC)],
            check=True,
        )
        part = Path(tmp, jar.name)
        with zipfile.ZipFile(part, "w") as z:
            for c in sorted(classes.rglob("*.class")):
                z.write(c, c.relative_to(classes).as_posix())
        os.replace(part, jar)
    return str(jar)


def _prepend_path(conf: dict, key: str, entry: str) -> None:
    """Put ``entry`` first on the path-list setting ``key``, keeping any
    value already configured (in ``conf`` or the Spark defaults)."""
    existing = conf.get(key) or SparkConf().get(key, "")
    paths = [entry, *existing.split(os.pathsep)]
    conf[key] = os.pathsep.join(dict.fromkeys(p for p in paths if p))


def get_spark(
    app_name: str = "naer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when this
    call starts the JVM itself. Under spark-submit (the launcher sets
    ``PYSPARK_GATEWAY_PORT``) a ``None`` master keeps the one the submit
    command gave, so the same entrypoint runs on a real cluster.
    """
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    builder = SparkSession.builder.appName(app_name)
    if master is None and not submitted:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # Python workers unpickle the package's Arrow kernels by reference,
    # so they must import the package even when the driver starts
    # outside the repo root: put its parent directory first on their
    # PYTHONPATH
    _prepend_path(
        conf, "spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1])
    )
    # the package's local writers name the no-fork filesystem class, and
    # its worker daemon spares each Python task the zip directory reads.
    # A JVM that spark-submit started has its class path fixed already:
    # there the jar comes with --jars (tools/package.py builds it). Its
    # executors start their daemon before --py-files reaches them, so
    # there the daemon is named with --conf where they can import it
    if not submitted:
        _prepend_path(conf, "spark.driver.extraClassPath", nofork_fs_jar())
        conf.setdefault("spark.python.daemon.module", _WORKER_DAEMON)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
