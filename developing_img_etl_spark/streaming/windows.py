"""Event-time windows with late-data handling (SURVEY.md §2.9 ST4-ST5).

The batch queries q11a/q11e (queries/streaming_batch.py) run these
same functions on the events table — on a batch frame the optimizer
drops the watermark — and st1-st3 run them on the readStream forms,
all against the same oracles.
The reference's weekly `minggu` grouping (/root/reference/test.py:130)
is a hand-rolled tumbling window; late rows there were silently
processed "next run" — here the watermark makes the contract explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries._det import davg, dsum


def tumbling_counts(events: DataFrame, *, window: str = "7 days",
                    watermark: str = "1 day") -> DataFrame:
    """ST4/ST5: tumbling event-time aggregation; rows later than the
    watermark are dropped, windows finalize (append mode) once the
    watermark passes their end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            davg("value").alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def session_counts(events: DataFrame, *, gap: str = "1 hour",
                   watermark: str = "1 day") -> DataFrame:
    """ST4: session windows per user (gap-based)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
