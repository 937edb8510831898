"""Streaming event analytics: file-stream source, watermarked windows,
session windows.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keenwa_spark.sources.readers import nanos_columns

#: events schema when ts is parquet TIMESTAMP(NANOS) (driver testdata):
#: read as long under the session's nanosAsLong, converted below —
#: same shim as the batch Catalog
EVENTS_SCHEMA_NANOS = (
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)
#: events schema for normal (micros/INT96) timestamp files, e.g. files
#: this engine wrote itself
EVENTS_SCHEMA_TS = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def read_event_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    """Unbounded file-stream over the events layout: every new parquet
    file under ``path`` becomes a micro-batch. Schema is declared (file
    streams cannot infer); TIMESTAMP(NANOS) files (the driver testdata)
    get the nanos->micros shim, normal timestamp files pass through.
    Extra ``options`` go to the reader (e.g. ``maxFilesPerTrigger=1``
    to pin micro-batch granularity)."""
    if "ts" in nanos_columns(path):
        return (
            spark.readStream.schema(EVENTS_SCHEMA_NANOS)
            .options(**options)
            .parquet(path)
            .withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
        )
    return (
        spark.readStream.schema(EVENTS_SCHEMA_TS).options(**options).parquet(path)
    )


def windowed_type_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-window, per-type event counts + value sums. The watermark
    bounds aggregation state: windows older than (max event time -
    watermark) finalize and are evicted — the knob that keeps state
    finite on an unbounded stream.

    ``total_value`` is emitted as DECIMAL(18,6) — exact at any scale,
    so downstream grains can re-aggregate the partials exactly (cast to
    double only at final presentation). Routing through double here
    would silently cap exactness at ~15-16 significant digits."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def approx_distinct_stream(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 hours",
    rsd: float = 0.05,
) -> DataFrame:
    """Per-window, per-type APPROXIMATE distinct users — the streaming
    face of pipeline/sketches.py: exact COUNT(DISTINCT) is not
    executable under incremental streaming (it would buffer every
    distinct value per open window), but HLL++ is a mergeable
    fixed-size aggregate, so the same watermark-evicted windowed state
    carries a constant-size register array per (window, type). This is
    THE pattern for distinct-cardinality dashboards over unbounded
    streams."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.approx_count_distinct("user_id", rsd).alias("approx_users"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "approx_users",
        )
    )


def session_stats_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via ``session_window`` — the native
    stateful twin of the batch lag->flag->cumsum chain in
    queries/events.py (identical session boundaries for a 30-minute
    gap). State is per (user, open session) and evicted past the
    watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def run_available_now(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink and
    return the finite result — the bridge that makes streaming results
    assertable against their batch twins in tests."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within
    the watermark horizon (at-least-once sources re-send; downstream
    wants effectively-once). ``dropDuplicatesWithinWatermark`` keeps
    one state entry per key and EVICTS it once the watermark passes —
    bounded state, unlike a plain dropDuplicates on a stream, whose
    key set grows forever. The streaming twin of the batch
    pipeline/dedup.py exact path."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    within: str = "30 minutes",
    watermark: str = "2 hours",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Stream-STREAM interval join: pairs of events from two live
    streams with the same key whose timestamps fall within ``within``
    of each other (right.ts in [left.ts - within, left.ts + within]) —
    the correlation primitive (impression x click, order x payment).

    Both sides are watermarked and the join condition bounds event-time
    distance, so Spark can size the join STATE: a buffered row is
    evicted once the other side's watermark passes its eligibility
    window. Without the time-range condition a stream-stream join's
    state grows forever — the condition is a correctness requirement,
    not an optimization (the same reason the batch twin, the
    operators/range_join.py bin trick, never materializes unbounded
    pairs). Output columns are prefixed to keep both sides' ids/ts."""
    lw = left.withWatermark("ts", watermark)
    rw = right.withWatermark("ts", watermark)
    lsel = lw.select(
        F.col(on),
        F.col("event_id").alias(f"{left_prefix}_event_id"),
        F.col("ts").alias(f"{left_prefix}_ts"),
    )
    rsel = rw.select(
        F.col(on).alias(f"__r_{on}"),
        F.col("event_id").alias(f"{right_prefix}_event_id"),
        F.col("ts").alias(f"{right_prefix}_ts"),
    )
    cond = (
        (F.col(on) == F.col(f"__r_{on}"))
        & (
            F.col(f"{right_prefix}_ts")
            >= F.col(f"{left_prefix}_ts") - F.expr(f"INTERVAL {within}")
        )
        & (
            F.col(f"{right_prefix}_ts")
            <= F.col(f"{left_prefix}_ts") + F.expr(f"INTERVAL {within}")
        )
    )
    return lsel.join(rsel, cond, "inner").drop(f"__r_{on}")


def enrich_stream(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch against
    a static dimension. The dim side is forced to broadcast whatever
    its size estimate: AQE does not re-plan streaming micro-batches, so
    the planner's fallback for a dim over the threshold would be a
    sort-merge join that re-partitions the stream every batch. The
    cost is the dim's size: it must fit in executor memory, or the
    query fails. The static side is re-read per batch, so slowly-
    changing dims pick up updates for free."""
    return events.join(F.broadcast(dim), on, "left")


def ohlc_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming OHLC bars: the candlestick downsampler
    (operators/hyperfunctions.ohlc_bars) as a watermarked tumbling
    window — open/close ride min_by/max_by over (epoch, event_id)
    inside the streaming aggregate, so the state per (type, window) is
    five scalars + two picked rows, never the raw events. Watermark
    eviction finalizes bars exactly like every other windowed mirror;
    NULL values are excluded (matching the batch operator)."""
    order = F.struct(
        F.unix_micros(F.col("ts")).alias("e"), F.col("event_id").alias("i")
    )
    v = F.col("value")
    return (
        events.where(v.isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(v.cast("decimal(18,6)")).cast("double").alias("volume"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type", "open", "high", "low", "close", "n", "volume",
        )
    )
