"""Mergeable distinct-count sketches: KMV (k-minimum-values).

``kmv_*`` estimates the number of distinct values per group with
bounded state. It is deterministic and **engine-portable** — the hash
is md5-based (same trick as operators/corpus.py), so DuckDB computes
the bit-identical sketch and the driver value-oracles it
(q_kmv_distinct). Standard error ~ 1/sqrt(k). The sketch itself is a
sorted array column of the k smallest hashes — a value you can store
in a rollup table and merge later (`kmv_merge_expr`), which is the
whole point of a sketch at 100 TB: pre-aggregate once, re-aggregate
cheaply at read time (composes with operators/rollup.py, whose
docstring points here for distinct counts).

Scale notes: the KMV build is `distinct` on (group, hash) — a map-side
combinable hash aggregate, the same shuffle shape countDistinct uses —
followed by a per-group top-k window over *distinct hashes only*. State
per group is k doubles. No Python anywhere.

Reference parity: the reference engine has no approximate aggregates;
this extends the engine for corpus-scale cardinality work (e.g. distinct
users per event type, distinct shingles per shard).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 13 hex nibbles = 52 bits: every hash integer is exactly representable
# as a double, so Spark and DuckDB round identically.
_HASH_BITS = 13
_HASH_DENOM = float(16**_HASH_BITS)


def md5_hex_value(col: Column, salt: str, digits: int) -> Column:
    """The first ``digits`` hex digits of md5(salt || col) as a double,
    exact up to 13 digits; DuckDB reads the same integer as
    ``('0x' || substr(md5(salt || v), 1, digits))::UBIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, digits),
        16,
        10,
    ).cast("double")


def uniform_hash(col: Column, salt: str = "kmv-v1") -> Column:
    """Deterministic uniform hash of ``col`` in (0, 1], portable to
    DuckDB as ``(('0x' || substr(md5(salt || v), 1, 13))::UBIGINT + 1)
    / 16.0^13``."""
    h = md5_hex_value(col, salt, _HASH_BITS)
    return (h + F.lit(1.0)) / F.lit(_HASH_DENOM)


def kmv_sketch(
    df: DataFrame,
    keys: tuple[str, ...],
    col: str,
    k: int = 256,
    salt: str = "kmv-v1",
) -> DataFrame:
    """Per-``keys`` KMV sketch of distinct ``col`` values.

    Output: ``*keys, sketch array<double> (sorted, len <= k)``.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    key_cols = [F.col(c) for c in keys]
    d = df.select(*key_cols, uniform_hash(F.col(col), salt).alias("_h")).distinct()
    w = Window.partitionBy(*key_cols).orderBy("_h")
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("_h")).alias("sketch"))
    )


def kmv_estimate_expr(sketch: Column, k: int) -> Column:
    """Distinct-count estimate from a KMV sketch column: exact
    (= array length) while the sketch is not full, else the classic
    (k-1)/h_(k) estimator rounded to a long."""
    m = F.size(sketch)
    kth = F.element_at(sketch, k)  # 1-indexed; only read when m == k
    return F.when(m < k, m.cast("long")).otherwise(
        F.round(F.lit(float(k - 1)) / kth).cast("long")
    )


def kmv_merge_expr(sketches: Column, k: int) -> Column:
    """Merge an array of KMV sketches (e.g. from collect_list over a
    finer rollup level) into one: union distinct hashes, keep the k
    smallest. Pure Catalyst — usable inside any agg."""
    return F.slice(F.array_sort(F.array_distinct(F.flatten(sketches))), 1, k)


def kmv_distinct(
    df: DataFrame,
    keys: tuple[str, ...],
    col: str,
    k: int = 256,
    salt: str = "kmv-v1",
) -> DataFrame:
    """Convenience: ``*keys, est_distinct long`` via kmv_sketch."""
    sk = kmv_sketch(df, keys, col, k, salt)
    return sk.select(
        *[F.col(c) for c in keys],
        kmv_estimate_expr(F.col("sketch"), k).alias("est_distinct"),
    )


def heavy_hitters(values: DataFrame, col: str = "term", k: int = 64) -> DataFrame:
    """Approximate top-``k`` heavy hitters via mergeable Misra-Gries
    summaries: (term, count_lo, count_hi) with the MG guarantee
    ``count_lo <= true_count <= count_hi``; any term whose true count
    exceeds the published error ``count_hi - count_lo`` survives into
    the merged summary with ``count_lo >= true - err`` (and err <=
    N/(k+1)), so it ranks into the top-k unless k rarer-but-luckier
    terms all out-count it — the usual MG top-k caveat.

    This is the 100 TB complement to textstats.vocab_topk: the exact
    top-k needs a shuffle keyed on EVERY distinct term; here each
    partition keeps at most k counters (batched MG: merge each Arrow
    batch's value_counts, then on overflow subtract the (k+1)-th
    largest count from all and drop non-positives — Agarwal et al.'s
    mergeable-summaries compression), so the shuffle carries at most
    partitions x (k+1) rows no matter how many distinct terms exist.
    The per-partition decrement total rides along as a term=NULL row;
    its global sum is the error bound published as count_hi - count_lo.

    Python is Arrow-batched and vectorized (pandas value_counts +
    numpy partition); per-Python-call work is O(distinct terms in
    batch), never per-row. The final merge is a tiny aggregate; the
    single-partition window computing the global error bound sees only
    the summary rows. With ``k`` >= the true distinct count nothing is
    ever decremented and the result is exact — the driver oracle
    (q_heavy_hitters) runs in that regime so DuckDB can value-check it;
    the approximation guarantee itself is property-tested in pytest.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def mg(batches):
        from collections import Counter

        import numpy as np
        import pandas as pd

        counts: Counter = Counter()
        err = 0
        for pdf in batches:
            counts.update(pdf[col].dropna().value_counts().to_dict())
            if len(counts) > k:
                arr = np.fromiter(counts.values(), np.int64)
                thr = int(np.partition(arr, arr.size - k - 1)[arr.size - k - 1])
                if thr > 0:
                    err += thr
                    counts = Counter(
                        {t: c - thr for t, c in counts.items() if c > thr}
                    )
        terms = list(counts.keys())
        yield pd.DataFrame(
            {"term": terms + [None], "cnt": [counts[t] for t in terms] + [err]}
        )

    summaries = values.select(F.col(col).alias(col)).mapInPandas(
        mg, "term string, cnt long"
    )
    # global error bound: single-partition window over the tiny summary
    # rows only (<= partitions x (k+1)); raw data never sees it
    w = Window.partitionBy()
    s2 = summaries.withColumn(
        "_err",
        F.coalesce(
            F.sum(F.when(F.col("term").isNull(), F.col("cnt"))).over(w),
            F.lit(0),
        ),
    )
    return (
        s2.filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("cnt").alias("count_lo"), F.max("_err").alias("_e"))
        .select(
            "term",
            "count_lo",
            (F.col("count_lo") + F.col("_e")).alias("count_hi"),
        )
        .orderBy(F.desc("count_lo"), F.asc("term"))
        .limit(k)
    )


# ---------------------------------------------------------------- histogram


def hist_bin_expr(col: Column, lo: float, hi: float, bins: int) -> Column:
    """Bin index of ``col`` in a fixed [lo, hi) equi-width histogram;
    out-of-range values clamp to the edge bins (documented: the
    estimator's error bound assumes negligible clamped mass). Pure
    integer/double arithmetic — engine-portable (DuckDB recomputes the
    identical index)."""
    idx = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        / F.lit(float(hi) - float(lo))
        * F.lit(bins)
    ).cast("int")
    return F.least(F.lit(bins - 1), F.greatest(F.lit(0), idx))


def hist_sketch(
    df: DataFrame,
    keys: tuple[str, ...],
    col: str,
    lo: float,
    hi: float,
    bins: int = 32,
) -> DataFrame:
    """Mergeable equi-width histogram sketch per group: ONE map-side
    combinable hash aggregate producing an array of ``bins`` counts —
    the quantile member of the mergeable-summaries family (KMV/HLL for
    distinct counts, Misra-Gries for heavy hitters, this for rank
    statistics). Store it in a rollup table; re-aggregation of parts is
    element-wise array addition (``hist_merge_expr``), exactly equal to
    the sketch of the whole (integer counts — no approximation in the
    merge, pytest-asserted). Estimation error is bounded by one bin
    width regardless of data size; state per group is ``bins`` longs.

    Scale shape: no window, no sort, no Python — a single partial+final
    aggregate over one scan, the same shuffle countDistinct uses."""
    b = hist_bin_expr(F.col(col), lo, hi, bins)
    return df.groupBy(*keys).agg(
        F.array(
            *[
                F.sum(F.when(b == i, 1).otherwise(0)).alias(f"b{i}")
                for i in range(bins)
            ]
        ).alias("hist"),
        F.count(col).alias("n"),
    )


def hist_merge_expr(a: Column, b: Column) -> Column:
    """Merge two histogram count arrays (element-wise add)."""
    return F.zip_with(a, b, lambda x, y: x + y)


def hist_quantile_expr(
    hist: Column, q: float, lo: float, hi: float, bins: int
) -> Column:
    """Interpolated quantile estimate from a histogram count array:
    find the bin where the rank ``ceil(q*n)`` falls, then interpolate
    linearly inside it. |estimate - true quantile| <= bin width for
    in-range data (property-tested). Deterministic double arithmetic —
    the DuckDB oracle recomputes it bit-for-bit."""
    width = (float(hi) - float(lo)) / bins
    n = F.aggregate(hist, F.lit(0).cast("long"), lambda acc, x: acc + x)
    target = F.ceil(F.lit(q) * n.cast("double")).cast("long")
    # one pass over the bins: (cum, idx, inbin) — idx = first bin whose
    # cumulative count reaches target; inbin = rank position inside it
    state = F.aggregate(
        hist,
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(-1).alias("idx"),
            F.lit(0).cast("long").alias("inbin"),
            F.lit(0).alias("pos"),
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x).alias("cum"),
            F.when(
                (acc["idx"] < 0) & (acc["cum"] + x >= target), acc["pos"]
            ).otherwise(acc["idx"]).alias("idx"),
            F.when(
                (acc["idx"] < 0) & (acc["cum"] + x >= target),
                target - acc["cum"],
            ).otherwise(acc["inbin"]).alias("inbin"),
            (acc["pos"] + 1).alias("pos"),
        ),
    )
    cnt_at = F.element_at(hist, state["idx"] + 1).cast("double")
    est = (
        F.lit(float(lo))
        + (
            state["idx"].cast("double")
            + state["inbin"].cast("double") / F.greatest(cnt_at, F.lit(1.0))
        )
        * F.lit(width)
    )
    return F.when(n > 0, est)
