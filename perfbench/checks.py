"""Output checks. Each returns a problem description, or None when the
output is correct; a timed operation whose check fails counts as failed
in ``passed_frac``."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

TRIPLE_COLS = ("subj", "pred", "obj")


def multiset_problem(got, want, cols=TRIPLE_COLS) -> str | None:
    """``got`` and ``want`` hold the same rows, duplicates included.
    One job computes both ``exceptAll`` directions: per distinct row,
    its count in ``got`` minus its count in ``want``."""
    got = got.select(*cols).withColumn("_n", F.lit(1))
    want = want.select(*cols).withColumn("_n", F.lit(-1))
    diff = (
        got.unionByName(want)
        .groupBy(*cols)
        .agg(F.sum("_n").alias("_d"))
        .agg(
            F.sum(F.when(F.col("_d") > 0, F.col("_d")).otherwise(0)).alias("extra"),
            F.sum(F.when(F.col("_d") < 0, -F.col("_d")).otherwise(0)).alias("missing"),
        )
        .first()
    )
    extra, missing = diff.extra or 0, diff.missing or 0
    if extra or missing:
        return f"{extra} unexpected and {missing} missing rows"
    return None


def sorted_triples(path):
    """The (subj, pred, obj) rows of a parquet table, flat or partitioned
    by directory (``pred=.../subj_bucket=...``), read with pyarrow and
    sorted: a canonical form of the multiset of rows. No Spark job, so
    checking a pass neither loads the cores nor warms the JVM."""
    import pyarrow.dataset as ds

    table = ds.dataset(str(path), format="parquet", partitioning="hive").to_table(
        columns=list(TRIPLE_COLS)
    )
    return table.to_pandas().sort_values(list(TRIPLE_COLS), ignore_index=True)


def sorted_problem(got, want) -> str | None:
    """Two ``sorted_triples`` frames hold the same rows, duplicates
    included (equal sorted rows <=> equal multisets)."""
    if got.equals(want):
        return None
    diff = Counter(map(tuple, got.itertuples(index=False)))
    diff.subtract(Counter(map(tuple, want.itertuples(index=False))))
    extra = sum(n for n in diff.values() if n > 0)
    missing = sum(-n for n in diff.values() if n < 0)
    return f"{extra} unexpected and {missing} missing rows"


def lookup_problem(rows, expected) -> str | None:
    """One subject lookup returned exactly that subject's triples."""
    got = Counter(tuple(r[c] for c in TRIPLE_COLS) for r in rows)
    if got != Counter(expected):
        return f"lookup returned {sum(got.values())} rows, expected {len(expected)}"
    return None


def resume_problem(resumed, reference, recomputed: int, removed: int) -> str | None:
    """The resumed output equals the uninterrupted run's output and the
    resume recomputed exactly the buckets the crash removed."""
    if recomputed != removed:
        return f"recomputed {recomputed} buckets, {removed} were removed"
    return multiset_problem(resumed, reference)


def clusters(stages) -> dict:
    """{doc_id: cluster_id} from the ``clusters`` stage table that
    ``prepare_corpus(materialize_dir=stages)`` wrote (read with pyarrow)."""
    import pyarrow.parquet as pq

    table = pq.read_table(str(stages / "clusters"), columns=["doc_id", "cluster_id"])
    return dict(zip(table.column("doc_id").to_pylist(), table.column("cluster_id").to_pylist()))


def corpus_problem(rows, input_ids, cluster_of: dict, expected=None) -> str | None:
    """``rows`` = (doc_id, status) pairs of one prepare_corpus output.
    Every input document appears exactly once, the representative of
    every near-duplicate's cluster is kept, and (given ``expected``, the
    rows of an earlier pass over the same input) the verdicts repeat."""
    seen = Counter(doc_id for doc_id, _ in rows)
    if seen != Counter(input_ids):
        return "output documents differ from the input documents"
    status = dict(rows)
    for doc_id, st in rows:
        if st == "near_dup" and status.get(cluster_of.get(doc_id)) != "kept":
            return f"near_dup {doc_id} has no kept representative"
    if expected is not None and sorted(rows) != sorted(expected):
        changed = len(set(rows) ^ set(expected)) // 2
        return f"{changed} verdicts differ from the first pass"
    return None
