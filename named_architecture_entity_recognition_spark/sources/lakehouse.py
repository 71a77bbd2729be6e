"""Iceberg-first table IO with parquet fallback (sandbox has no
Iceberg runtime jar; a real cluster configures an Iceberg catalog and
the same calls hit it).

Production layout (north_rule):
  documents: Iceberg table partitioned by bucket(1024, doc_id)
             -> partition pruning for resume/anti-join by bucket
  triples:   Iceberg table partitioned by (pred, bucket(subj))
             -> predicate-pruned per-predicate scans; subj bucket
                co-locates an entity's triples for downstream CC joins
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_SUBJ_BUCKETS = 256

#: writer options for local parquet output: Hadoop's checksum-free
#: RawLocalFileSystem (no `.crc` sibling per file, as on an object
#: store), kept out of the JVM-wide FileSystem cache so writers without
#: these options keep their checksums
RAW_LOCAL_FS = {
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_documents(spark: SparkSession, source: str) -> DataFrame:
    """Read the documents table: Iceberg catalog name (prod) or a
    parquet path (sandbox). Catalyst prunes columns/partitions either
    way; the detection stage's scan only materializes spans.kind+text
    (see operators/mentions.py)."""
    if "/" not in source and iceberg_available(spark):
        return spark.read.table(source)
    return spark.read.parquet(source)


def subj_bucket_col(n_buckets: int = N_SUBJ_BUCKETS):
    """The parquet-fallback bucket expression for subj. Readers prune
    with `filter(subj_bucket == pmod(xxhash64(s), n_buckets))`, this
    same expression, so writer and reader share one hash."""
    return F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).cast("int")


def write_triples(
    triples: DataFrame, target: str, n_buckets: int = N_SUBJ_BUCKETS
) -> None:
    """Write (subj, pred, obj) — the S7 sink (the reference returns its
    entity set to the caller, `recognizer/NamedEntityRecognizer.java:57-81`;
    at 10^12 docs the "caller" is a partitioned lakehouse table).

    Iceberg branch (jar present): `writeTo` with hidden partitioning
    `(pred, bucket(subj))`. Parquet fallback: directory partitioning on
    `(pred, subj_bucket)`, so a reader filtering on pred or on a
    subject's bucket touches only its directories (numFiles pruning
    tests in tests/test_sources.py). The fallback rebalances on
    (pred, subj_bucket) before the writer: ONE file per directory, not
    one per writer task. AQE still splits a skewed key. Iceberg's `hash`
    write distribution mode requests the same clustering.

    The fallback writes through Hadoop's checksum-free
    RawLocalFileSystem (RAW_LOCAL_FS), set on this writer and
    compact_table's alone. What is left is a per-file floor. Without
    the Hadoop native library every created file and directory forks a
    `chmod`, and every Parquet file's writer set-up scans the whole
    (~1,100-entry) Hadoop configuration. A 200-doc, 32-bucket build on
    4 vCPUs writes its 96 files in 1.5-1.8 CPU-s where the same rows as
    one file take 0.2-0.25 s: 13-16 CPU-ms per file, ~5 of them in the
    two forked chmods (its directory's and its own) and ~3 in the JVM's
    system time."""
    spark = triples.sparkSession
    if "/" not in target and iceberg_available(spark):
        (
            triples.writeTo(target)
            .partitionedBy(F.col("pred"), F.bucket(n_buckets, F.col("subj")))
            .createOrReplace()
        )
        return
    (
        triples.withColumn("subj_bucket", subj_bucket_col(n_buckets))
        .hint("rebalance", "pred", "subj_bucket")
        .write.mode("overwrite")
        .options(**RAW_LOCAL_FS)
        .partitionBy("pred", "subj_bucket")
        .parquet(target)
    )


def read_triples(spark: SparkSession, source: str) -> DataFrame:
    if "/" not in source and iceberg_available(spark):
        return spark.read.table(source)
    return spark.read.parquet(source)


def compact_table(
    spark: SparkSession,
    source: str,
    target: str,
    target_mb: int = 128,
) -> dict:
    """Rewrite a LOCAL parquet directory into ~``target_mb``-sized
    files — the lakehouse small-file maintenance job. This is the plain
    parquet form; on an Iceberg deployment the equivalent operation is
    the `rewrite_data_files` procedure (not dispatched here — the
    sandbox has no runtime jar, and Iceberg compaction is a catalog
    procedure call, not a DataFrame job). Input sizing uses local
    ``Path`` stats, so object-store/HDFS URIs are rejected explicitly
    rather than mis-reporting bytes_in=0.

    Why it exists here: long-running ingest jobs accumulate small
    files, and Spark's FilePartition packing then silently bins them
    into exactly one read task per core — ZERO wave slack, so one slow
    executor stalls every downstream job (this repo measured it:
    tools/scaling.py's 128 x 1.5 MB files collapsed to 32 tasks on
    local[32]). Compaction restores healthy task granularity at the
    source instead of every reader tuning maxPartitionBytes.

    A hive-partitioned source (``col=value`` directories, e.g. the
    triples sink's ``pred=*/subj_bucket=*``) keeps its partition
    directories: rows are clustered by the partition columns, so each
    directory is rewritten as ONE file and readers keep directory
    pruning. The rewrite goes through write_triples' checksum-free
    local filesystem (RAW_LOCAL_FS), so it writes no `.crc` files.

    Returns {"files_in", "bytes_in", "files_out", "n_rows"}.
    Row-preservation (count + content) is pytest-asserted; file count
    of an unpartitioned source = ceil(bytes / target_mb) bounded below
    by 1, of a partitioned one = its number of directories.
    """
    import math
    from pathlib import Path

    if "://" in source and not source.startswith("file://"):
        raise ValueError(
            f"compact_table sizes input via local filesystem stats; "
            f"got non-local URI {source!r}"
        )
    src = Path(source.removeprefix("file://"))
    data_files = sorted(src.rglob("*.parquet"))
    bytes_in = sum(p.stat().st_size for p in data_files)
    df = spark.read.parquet(source)
    n_files = max(1, math.ceil(bytes_in / (target_mb * 1024 * 1024)))
    # partition columns, outermost first, as Spark discovers them: each
    # directory's rows meet in one task and become one file. A flat
    # table has none, and repartition(n) round-robins its rows for even
    # file sizes (writers of sorted/clustered tables should use
    # repartitionByRange on their cluster key instead to keep
    # data-skipping stats tight)
    part_cols = [
        d.split("=", 1)[0] for d in data_files[0].relative_to(src).parts[:-1] if "=" in d
    ]
    (
        df.repartition(n_files, *part_cols)
        .write.mode("overwrite")
        .options(**RAW_LOCAL_FS)
        .partitionBy(*part_cols)
        .parquet(target)
    )
    out_files = [p for p in Path(target).rglob("*.parquet")]
    return {
        "files_in": len(data_files),
        "bytes_in": bytes_in,
        "files_out": len(out_files),
        "n_rows": spark.read.parquet(target).count(),
    }


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table BUCKETED (and sorted) by its join key — the
    co-located-join layout for tables that are repeatedly joined on the
    same key (facts x facts: events x sessions, triples x triples for
    CC, postings x postings). Two tables bucketed by the same key into
    the same bucket count join with ZERO Exchange: at 100 TB that
    deletes the single most expensive stage of every repeated join
    (proof: test_sources.py asserts the bucketed sort-merge join plans
    no Exchange while the identical unbucketed join plans one, and
    that an equality filter prunes the scan to one bucket). The
    partition-local Sort remains by default — Spark only trusts
    per-file sortBy order under
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` (SPARK-28595)
    — but it is shuffle-free and spills never cross tasks.

    Spark-native bucketing (works on the built-in catalog, no Hive):
    ``bucketBy(n, key).sortBy(key).saveAsTable``. On Iceberg the same
    layout is declared as a ``bucket(n, key)`` partition transform +
    write-ordering — the jar-gated branch of this module's sink."""
    # align writer partitions with buckets (same Murmur3 hash, same N):
    # each task then holds exactly one bucket -> ONE file per bucket,
    # which lets the scan trust the per-file sortBy order and the join
    # drop its Sort nodes too (multi-file buckets only guarantee
    # per-file order, so Spark would re-sort)
    w = (
        df.repartition(n_buckets, F.col(key))
        .write.format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .mode(mode)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
