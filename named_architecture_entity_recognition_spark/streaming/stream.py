"""Event-time windowed aggregation over an events table.

The reference is batch-only (SURVEY §2.6). ``windowed_event_counts`` is
written in the Structured Streaming shape (a watermark plus an
event-time ``window`` grouping), so the same function applies to a
streaming DataFrame; here it runs on batch input, where Spark treats
``window`` as an ordinary grouping expression and the watermark has no
effect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time windows over (event_type):
    per window start/end and event type, the event count and the value
    sum rounded to 4 places. ``watermark`` bounds the state a streaming
    input would keep for late data; a batch input ignores it.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
