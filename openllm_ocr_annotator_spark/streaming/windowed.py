"""Watermarked event-time windowed aggregation (Structured Streaming).

The reference is strictly batch (SURVEY §2.10) — this is engine capability
beyond it, for the monitoring side of a 100 TB pipeline: extraction/
annotation event streams rolled up into tumbling event-time windows with
bounded state.

Design points (the parts that matter at scale):
- ONE aggregation definition shared by batch and stream
  (``windowed_event_counts``) — the batch twin is the oracle for the
  streamed result, so the two cannot drift (same pattern as
  streaming/incremental.py).
- ``withWatermark`` bounds state: a window's state is dropped once the
  watermark (max event time − delay) passes its end; events arriving later
  than the delay are DROPPED, which is the documented trade-off every
  watermarked aggregation makes (the alternative is unbounded state).
- append output mode emits each window exactly once, when it finalizes —
  the right contract for a downstream parquet/Iceberg sink at scale
  (update mode would rewrite rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time rollup: (window_start, window_end, event_type) →
    count + value sum. Works identically on a batch or streaming frame
    (withWatermark is a no-op marker on batch frames)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-user session windows (inactivity gap): merging variable-length
    event-time windows via the built-in ``session_window`` — Spark's
    stateful session aggregation, identical on batch and stream. Session
    end = last event + gap; an event at exactly last+gap still MERGES
    (inclusive boundary — pinned by the exact-gap pytest and the strict
    ``>`` in the gaps-and-islands oracle of driver query ``sessionize``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "total_value",
        )
    )


def start_sessionization(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
):
    """Streaming sessionization: sessions finalize (append emission) once
    the watermark passes their end — in-flight sessions keep merging state
    until then, which is exactly the bounded-state trade-off of
    ``start_windowed_aggregation``."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    agg = session_event_counts(stream, gap, watermark)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_windowed_aggregation(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
):
    """readStream(parquet events) → watermarked rollup → append parquet sink.

    ``maxFilesPerTrigger=1`` makes each input file a micro-batch, so the
    watermark advances between files and windows finalize incrementally —
    the same progression a continuously-running job sees; ``availableNow``
    drains everything then stops (test/backfill mode)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
    )
    agg = windowed_event_counts(stream, window, watermark)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
