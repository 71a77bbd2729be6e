"""As-of (point-in-time) join: for each left row, attach the LATEST
right row with the same key and ``right.ts <= left.ts``.

Spark has no native as-of join (pandas-on-Spark merge_asof exists but
round-trips through pandas). The classic scale-correct formulation is
UNION + WINDOW, not a range join:

    tag right rows side=0 and left rows side=1, union them, sort each
    key's rows by (ts, side), and carry the last non-null right payload
    forward with ``last(..., ignorenulls=True)``; left rows then read
    their as-of match off the running value. Equal timestamps match
    (right sorts before left at the same ts, mirroring ``l.ts >= r.ts``).

Why this shape at 100 TB:

- ONE shuffle, on the join key — identical cost to any keyed join. A
  theta/range join (``l.key = r.key AND r.ts <= l.ts``) degenerates to
  a per-key cross product: a key with n left and m right rows costs
  n*m comparisons; union-window costs (n+m) log(n+m) sort.
- No state beyond the sort: whole-stage codegen window, no Python.
- Hot keys skew the single window partition; mitigate upstream by
  bucketing time (run the as-of per day-bucket with the previous
  bucket's last right row unioned in as a seed) — same trick as
  plans/lineage.py's doc buckets.

DuckDB implements ASOF JOIN natively, which is the oracle for
q_asof_join (driver-checked value parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts: str = "ts",
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: every left row, plus the latest right row with
    the same ``on`` key and ``right.ts <= left.ts`` (left-join
    semantics — unmatched left rows keep nulls).

    Right payload columns (everything except ``on``) are appended with
    ``suffix``.

    Ties: a right row AT the left row's timestamp matches. If the right
    side has duplicate (key, ts) rows the one with the GREATEST payload
    struct wins (the window orders ties by the payload struct, so the
    winner is deterministic — field-by-field natural struct ordering,
    which requires the right payload columns to be orderable types).
    Dedupe upstream (max_by per (key, ts)) when a different tie rule is
    wanted.
    """
    rpay_cols = [c for c in right.columns if c != on]
    lpay_cols = list(left.columns)
    rpay = F.struct(*[F.col(c) for c in rpay_cols])
    r2 = right.select(
        F.col(on).alias("_k"),
        F.col(ts).alias("_ats"),
        F.lit(0).alias("_side"),
        rpay.alias("_rpay"),
        F.lit(None).cast(
            left.select(F.struct(*lpay_cols).alias("s")).schema["s"].dataType
        ).alias("_lpay"),
    )
    l2 = left.select(
        F.col(on).alias("_k"),
        F.col(ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(
            right.select(rpay.alias("s")).schema["s"].dataType
        ).alias("_rpay"),
        F.struct(*lpay_cols).alias("_lpay"),
    )
    # _rpay as the final sort key: among duplicate right (key, ts) rows
    # the running last() then deterministically picks the max payload
    # (left rows all carry null _rpay and never compete — same _side)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ats", "_side", F.col("_rpay").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("_rpay", ignorenulls=True).over(w)
    rows = (
        r2.unionByName(l2)
        .withColumn("_m", matched)
        .filter(F.col("_side") == 1)
    )
    out_cols = [F.col("_lpay")[c].alias(c) for c in lpay_cols] + [
        F.col("_m")[c].alias(c + suffix) for c in rpay_cols
    ]
    return rows.select(*out_cols)
