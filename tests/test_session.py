"""session.get_spark: Python workers import the package wherever the
driver process starts, and no console progress bar is drawn."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_driver_outside_repo_root_runs_package_kernels(tmp_path):
    """A driver script started from another directory with PYTHONPATH
    unset puts the repo on its own sys.path only. The Python workers
    unpickle the detection kernel by reference, so they must still be
    able to import the package: the count comes back instead of a
    ModuleNotFoundError."""
    script = tmp_path / "driver.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys

            sys.path.insert(0, {str(REPO)!r})
            from named_architecture_entity_recognition_spark.operators.mentions import (
                detect_entities_df,
            )
            from named_architecture_entity_recognition_spark.schema import DOCUMENTS
            from named_architecture_entity_recognition_spark.session import get_spark
            from named_architecture_entity_recognition_spark.sources.sad import doc_row

            spark = get_spark(
                "driver-outside-repo",
                master="local[1]",
                shuffle_partitions=1,
                extra_conf={{"spark.driver.memory": "1g"}},
            )
            docs = spark.createDataFrame(
                [doc_row("d1", ["The Billing Service handles payment."])], DOCUMENTS
            )
            print("ROWS", detect_entities_df(docs, ["Billing Service"]).count())
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 1" in run.stdout.splitlines(), run.stderr[-3000:]


def test_console_progress_bar_off(spark):
    """The shared session draws no carriage-return stage bars on stderr,
    so a captured log keeps one result per line."""
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
    assert not spark.sparkContext._jsc.sc().progressBar().isDefined()


def test_ensure_parallelism_runs_no_job(spark, tmp_path):
    """The repartition decision runs no job: a shuffled input keeps the
    partition count its plan states (counting its RDD partitions would
    run the shuffle's map stage once more), and a one-file parquet scan
    is still spread over every core."""
    from pyspark.sql import functions as F

    from named_architecture_entity_recognition_spark.session import (
        ensure_parallelism,
    )

    sc = spark.sparkContext
    target = sc.defaultParallelism
    agg = spark.range(2000).groupBy((F.col("id") % 50).alias("k")).count()
    spark.range(2000).coalesce(1).write.parquet(str(tmp_path / "one"))
    scan = spark.read.parquet(str(tmp_path / "one"))
    assert scan.rdd.getNumPartitions() == 1
    sc.setJobGroup("ensure_parallelism", "ensure_parallelism")
    try:
        kept = ensure_parallelism(agg)
        spread = ensure_parallelism(scan)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("ensure_parallelism") == []
    assert kept is agg
    assert spread.rdd.getNumPartitions() == target
