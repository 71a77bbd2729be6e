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

#: writer options for the package's local parquet output: Hadoop's
#: checksum-free RawLocalFileSystem (no `.crc` sibling per file, as on
#: an object store) in the subclass jvm/NoForkLocalFileSystem.java,
#: which sets each new file's and directory's mode with one chmod(2)
#: call where Hadoop without its native library forks a `chmod`
#: process. session.get_spark puts its jar on the driver class path.
#: Kept out of the JVM-wide FileSystem cache so writers without these
#: options keep their checksums. Only `file:` paths load this class;
#: `hdfs://` and `s3a://` targets use their own filesystems.
RAW_LOCAL_FS = {
    "fs.file.impl": "named_architecture_entity_recognition_spark.jvm.NoForkLocalFileSystem",
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

    The fallback writes through RAW_LOCAL_FS, set on this writer alone:
    Hadoop's checksum-free local filesystem, setting each created file's
    and directory's mode with a chmod(2) call instead of the `chmod`
    process Hadoop forks without its native library. What is left is a
    per-file floor of ~7 CPU-ms. On 4 vCPUs (`local[2]`, median of 9
    writes of the 54,398 triples of a 200-doc build), the 96-file,
    32-bucket sink takes 1.34 JVM CPU-s where the same rows as one file
    take 0.69 s; with forked chmods it took 2.71 s, 0.61 s of them in
    the reaped children. Every Parquet file's writer set-up scans the
    whole (~1,100-entry) Hadoop configuration (~0.45 ms); the rest
    (task-attempt directories, the committer's renames, writer buffers)
    is not broken down."""
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
