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
    RawLocalFileSystem (RAW_LOCAL_FS), set on this writer alone. What
    is left is a per-file floor. Without
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
