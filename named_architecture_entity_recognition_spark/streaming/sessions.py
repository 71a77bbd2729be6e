"""Per-user session windows over an events table (SURVEY §2.6 — the
reference is batch-only).

A session = a maximal run of one user's events with gaps < ``gap_minutes``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """events(ts, user_id, value) -> (user_id, session_start,
    session_end, n_events, sum_value) with window functions: session id
    = running count of gap-exceeding boundaries per user (expressible
    in plain SQL, so the DuckDB oracle mirrors it)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gapped = events.withColumn(
        "is_new",
        (
            F.coalesce(
                (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
                >= gap_minutes * 60,
                F.lit(True),
            )
        ).cast("int"),
    ).withColumn("session_no", F.sum("is_new").over(w))
    return (
        gapped.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .drop("session_no")
    )
