"""session.get_spark: Python workers import the package wherever the
driver process starts, a spark-submit master is kept, no console
progress bar is drawn, and the package's local writers set file modes
without forking a process."""

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

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


def test_spark_submit_master_is_kept(tmp_path):
    """Under spark-submit, get_spark() without a master keeps the one the
    launcher was given instead of replacing it with local[*]."""
    import pyspark

    script = tmp_path / "job.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys

            sys.path.insert(0, {str(REPO)!r})
            from named_architecture_entity_recognition_spark.session import get_spark

            spark = get_spark("sub")
            print("MASTER", spark.sparkContext.master)
            spark.stop()
            """
        )
    )
    submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    env = {
        **os.environ,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    run = subprocess.run(
        [str(submit), "--master", "local[1]", "--driver-memory", "1g",
         str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "MASTER local[1]" in run.stdout.splitlines(), run.stderr[-3000:]


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


def test_package_writers_fork_no_chmod(tmp_path):
    """A `chmod` stub first on PATH logs every call the JVM makes. The
    sink, a lineage stage and prepare_corpus's stage tables log none and
    leave no .crc file, while a plain parquet write in the same process
    does fork (so the stub is live), and the sink's directory and file
    modes equal the plain write's. A driver class path given in
    extra_conf is kept next to the no-fork jar."""
    stub_dir = tmp_path / "bin"
    stub_dir.mkdir()
    stub = stub_dir / "chmod"
    stub.write_text(
        f'#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec {shutil.which("chmod")} "$@"\n'
    )
    stub.chmod(0o755)
    log = tmp_path / "chmod.log"
    out = tmp_path / "out"
    extra = str(tmp_path / "extra-classes")
    script = tmp_path / "driver.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            from pathlib import Path

            sys.path.insert(0, {str(REPO)!r})
            from named_architecture_entity_recognition_spark.operators.corpus import (
                prepare_corpus,
            )
            from named_architecture_entity_recognition_spark.plans.lineage import (
                StageCheckpoint,
            )
            from named_architecture_entity_recognition_spark.session import get_spark
            from named_architecture_entity_recognition_spark.sources.lakehouse import (
                write_triples,
            )

            log, out = Path({str(log)!r}), Path({str(out)!r})

            def forks():
                return len(log.read_text().splitlines()) if log.exists() else 0

            spark = get_spark(
                "no-fork-chmod",
                master="local[2]",
                shuffle_partitions=2,
                extra_conf={{
                    "spark.driver.memory": "1g",
                    "spark.driver.extraClassPath": {extra!r},
                }},
            )
            conf = spark.sparkContext.getConf()
            print("CLASSPATH", conf.get("spark.driver.extraClassPath"))
            rows = [(f"s{{i}}", p, f"o{{i}}") for i in range(40) for p in ("a", "b")]
            triples = spark.createDataFrame(rows, "subj string, pred string, obj string")
            write_triples(triples, str(out / "sink"), n_buckets=4)
            print("SINK", forks())
            docs = spark.createDataFrame(
                [(i, f"the document number {{i}} talks about the system") for i in range(20)],
                "doc_id int, text string",
            )
            StageCheckpoint(str(out / "lineage"), "docs", n_buckets=2).run(lambda d: d, docs)
            prepare_corpus(docs, materialize_dir=str(out / "stages")).count()
            print("PACKAGE", forks())
            triples.write.parquet(str(out / "plain"))
            print("PLAIN", forks())
            spark.stop()
            """
        )
    )
    env = {**os.environ, "PATH": f"{stub_dir}{os.pathsep}{os.environ['PATH']}",
           "CHMOD_LOG": str(log)}
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    got = dict(ln.split(" ", 1) for ln in run.stdout.splitlines() if " " in ln)
    assert "PLAIN" in got, run.stderr[-3000:]
    from named_architecture_entity_recognition_spark.session import nofork_fs_jar

    assert got["CLASSPATH"].split(os.pathsep) == [nofork_fs_jar(), extra]
    assert got["SINK"] == "0" and got["PACKAGE"] == "0", got
    assert int(got["PLAIN"]) > 0, got
    for table in ("sink", "lineage", "stages"):
        assert list((out / table).rglob("*.parquet")), table
        assert list((out / table).rglob("*.crc")) == [], table

    def modes(root):
        found = {"dirs": set(), "files": set()}
        for p in [root, *root.rglob("*")]:
            found["dirs" if p.is_dir() else "files"].add(stat.S_IMODE(p.stat().st_mode))
        return found

    plain = modes(out / "plain")
    assert plain["files"] and modes(out / "sink") == plain


def test_nofork_set_permission_matches_hadoop(spark, tmp_path):
    """NoForkLocalFileSystem.setPermission leaves the same st_mode as
    Hadoop's RawLocalFileSystem.setPermission (a forked chmod) on a twin,
    for every mode the grid names: the nine permission bits through
    one chmod(2), the sticky bit through Hadoop's own path."""
    jvm = spark._jvm
    hadoop = jvm.org.apache.hadoop.fs
    fast = jvm.named_architecture_entity_recognition_spark.jvm.NoForkLocalFileSystem()
    ref = hadoop.RawLocalFileSystem()
    for fs in (fast, ref):
        fs.initialize(jvm.java.net.URI.create("file:///"), spark._jsc.hadoopConfiguration())
    grid = [(m, False) for m in (0o600, 0o640, 0o644, 0o700, 0o755, 0o777, 0o000)]
    grid += [(0o755, True), (0o1777, True)]
    for mode, is_dir in grid:
        st = []
        for side, fs in (("fast", fast), ("ref", ref)):
            p = tmp_path / f"{side}-{'d' if is_dir else 'f'}{mode:o}"
            if is_dir:
                p.mkdir(mode=0o700)
            else:
                p.touch(mode=0o600)
            fs.setPermission(hadoop.Path(str(p)), hadoop.permission.FsPermission(mode))
            st.append(p.stat().st_mode)
        assert st[0] == st[1], (oct(mode), is_dir, oct(st[0]), oct(st[1]))
        assert stat.S_IMODE(st[0]) == mode, (oct(mode), oct(st[0]))


def test_nofork_fs_jar_built_once(tmp_path, monkeypatch):
    """The jar is compiled once per source digest: a second call returns
    the same file untouched and needs no javac; an edited source needs a
    new jar, and without javac that build fails naming it."""
    from named_architecture_entity_recognition_spark import session

    src = tmp_path / "jvm" / "NoForkLocalFileSystem.java"
    src.parent.mkdir()
    src.write_bytes(session._JVM_SRC.read_bytes())
    monkeypatch.setattr(session, "_JVM_SRC", src)
    jar = session.nofork_fs_jar()
    assert Path(jar).parent == tmp_path / "jvm" / "build"
    with zipfile.ZipFile(jar) as z:
        assert z.namelist() == [
            "named_architecture_entity_recognition_spark/jvm/NoForkLocalFileSystem.class"
        ]
    built = os.stat(jar).st_mtime_ns
    monkeypatch.setenv("PATH", str(tmp_path / "no-such-bin"))
    assert session.nofork_fs_jar() == jar
    assert os.stat(jar).st_mtime_ns == built
    src.write_text(src.read_text() + "// edited\n")
    with pytest.raises(RuntimeError, match="javac"):
        session.nofork_fs_jar()
    assert os.listdir(tmp_path / "jvm" / "build") == [Path(jar).name]
