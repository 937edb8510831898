"""Streaming micro-bench support (r14): per-operator sec/batch and
state-store size on the synthetic event stream, at a controlled
micro-batch rate.

The 15 ``st_*`` registry queries drain with ``Trigger.AvailableNow``
over a ONE-file source (one mega-batch), which proves correctness but
measures nothing about steady-state streaming cost. This module stages
the same events parquet as N time-ordered chunk files and replays each
operator with ``maxFilesPerTrigger=1`` so it runs N real micro-batches;
per-batch trigger durations and the state operator's
``numRowsTotal``/``memoryUsedBytes`` come from the query's progress
events. Nothing here is on any timed bench path — ``bench.py`` is
batch-only and unchanged; this exists so streaming optimization claims
are checkable (VERDICT r13 item 4).

State-size bounds asserted per operator (tests/test_stream_state_bounds.py):
every stateful operator's final ``numRowsTotal`` must be within its
analytic bound computed from the batch relation — windows x types for
watermarked window aggregates, session count for session windows,
distinct keys for dedup/per-key state machines, the fixed sketch
geometry for CMS/Bloom, input rows for the interval-join buffer. The
foreachBatch maintenance operators (rollup_refresh, upsert_state) hold
no Spark streaming state; their persisted STORE row count is bounded
instead.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid
from statistics import median

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHUNK_STAGE_PREFIX = "keenwa_stream_mb_"


def stage_chunks(sf_dir: str, n_chunks: int) -> str:
    """Split events.parquet into ``n_chunks`` time-ordered parquet
    files (NULL ts first — they arrive, are dropped by event-time
    operators, and must not break the replay). pyarrow preserves the
    physical ts type exactly (the NANOS testdata shim keeps working).
    Idempotent per (sf_dir, n_chunks)."""
    import hashlib

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tag = hashlib.md5(f"{sf_dir}|{n_chunks}".encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"{CHUNK_STAGE_PREFIX}{tag}")
    done = os.path.join(stage, "_STAGED")
    if os.path.exists(done):
        return stage
    os.makedirs(stage, exist_ok=True)
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    order = pc.sort_indices(
        table, sort_keys=[("ts", "ascending")], null_placement="at_start"
    )
    table = table.take(order)
    n = table.num_rows
    per = (n + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        piece = table.slice(i * per, per)
        if piece.num_rows == 0:
            break
        pq.write_table(piece, os.path.join(stage, f"chunk-{i:03d}.parquet"))
    with open(done, "w") as f:
        f.write(f"{n} rows / {n_chunks} chunks\n")
    return stage


def _drain_memory(stream_df: DataFrame, output_mode: str):
    name = f"mb_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("micro-bench stream did not drain in 600s")
    return q


def _progress_metrics(q) -> dict:
    """Per-batch trigger durations + final state-operator totals from
    the query's progress events (batches with zero input are the
    AvailableNow commit/no-data ticks — excluded from sec/batch)."""
    progress = [json.loads(p.json) for p in q.recentProgress]
    fed = [p for p in progress if p.get("numInputRows", 0) > 0]
    durs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in fed]
    last_state = None
    for p in reversed(progress):
        if p.get("stateOperators"):
            last_state = p["stateOperators"]
            break
    return {
        "n_batches": len(fed),
        "rows_per_batch": (
            round(sum(p["numInputRows"] for p in fed) / len(fed)) if fed else 0
        ),
        "sec_per_batch_median": round(median(durs), 4) if durs else None,
        "sec_per_batch_max": round(max(durs), 4) if durs else None,
        "state_rows": (
            sum(op["numRowsTotal"] for op in last_state) if last_state else 0
        ),
        "state_mem_bytes": (
            sum(op["memoryUsedBytes"] for op in last_state) if last_state else 0
        ),
        "n_state_operators": len(last_state) if last_state else 0,
    }


def state_bounds(spark: SparkSession, sf_dir: str) -> dict:
    """Analytic state bounds from the batch relation (exact, cheap)."""
    from keenwa_spark.queries import ensure_views

    ensure_views(spark, sf_dir)
    ev = spark.table("events")
    tsed = ev.where(F.col("ts").isNotNull())
    day_type = tsed.select(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).distinct().count()
    hour_type = tsed.select(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).distinct().count()
    sessions = (
        tsed.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        ).count().count()
    )
    users = ev.select("user_id").distinct().count()
    event_ids = ev.select("event_id").distinct().count()
    pc_rows = ev.where(
        F.col("event_type").isin("purchase", "click") & F.col("ts").isNotNull()
    ).count()
    return {
        "day_type": day_type,
        "hour_type": hour_type,
        "sessions": sessions,
        "users": users,
        "event_ids": event_ids,
        "purchase_click_rows": pc_rows,
        "cms_cells": 4 * 256,
        "bloom_words": 4096 // 32,
    }


def run_operator(
    spark: SparkSession, name: str, sf_dir: str, n_chunks: int
) -> dict:
    """Replay one st_* operator's stream over the chunked source with
    maxFilesPerTrigger=1 and return its progress metrics + the bound
    key its state is checked against (None = must hold NO state)."""
    from keenwa_spark.pipeline.bloom import bloom_build
    from keenwa_spark.pipeline.hashing import spark_hash64
    from keenwa_spark.pipeline.sketches import cms_build
    from keenwa_spark.queries import ensure_views
    from keenwa_spark.session import session_scratch_dir
    from keenwa_spark.sources.readers import read_parquet
    from keenwa_spark.streaming import (
        asof_stream,
        dedup_stream,
        enrich_stream,
        interval_join_streams,
        ohlc_stream,
        read_event_stream,
        session_stats_stream,
        stream_zscore_anomaly,
        windowed_type_counts,
    )
    from keenwa_spark.streaming.events import approx_distinct_stream
    from keenwa_spark.streaming.rollup import rollup_refresh_stream
    from keenwa_spark.streaming.stateful import user_activity_tracker
    from keenwa_spark.streaming.upsert import upsert_state_stream

    stage = stage_chunks(sf_dir, n_chunks)

    def src() -> DataFrame:
        return read_event_stream(spark, stage, maxFilesPerTrigger=1)

    if name == "st_window_counts":
        q = _drain_memory(windowed_type_counts(src(), window="1 day"), "complete")
        bound = "day_type"
    elif name == "st_session_stats":
        q = _drain_memory(session_stats_stream(src(), gap="30 minutes"), "complete")
        bound = "sessions"
    elif name == "st_dedup":
        q = _drain_memory(dedup_stream(src().union(src())), "append")
        bound = "event_ids"
    elif name == "st_enrich":
        ensure_views(spark, sf_dir)
        dim = (
            spark.table("customer")
            .select("c_custkey", "c_name", "c_mktsegment")
            .withColumnRenamed("c_custkey", "user_id")
        )
        q = _drain_memory(enrich_stream(src(), dim), "append")
        bound = None  # stream-static broadcast join: NO state operator
    elif name == "st_interval_join":
        q = _drain_memory(
            interval_join_streams(
                src().filter("event_type = 'purchase'"),
                src().filter("event_type = 'click'"),
                within="30 minutes",
            ),
            "append",
        )
        bound = "purchase_click_rows"
    elif name == "st_rollup_day":
        q = _drain_memory(windowed_type_counts(src(), window="1 hour"), "complete")
        bound = "hour_type"
    elif name == "st_user_state":
        q = _drain_memory(user_activity_tracker(src()), "update")
        bound = "users"
    elif name == "st_sketch_distinct":
        q = _drain_memory(approx_distinct_stream(src()), "complete")
        bound = "day_type"
    elif name == "st_anomaly":
        q = _drain_memory(stream_zscore_anomaly(src()), "update")
        bound = "users"
    elif name == "st_ohlc":
        q = _drain_memory(ohlc_stream(src()), "complete")
        bound = "hour_type"
    elif name == "st_asof":
        q = _drain_memory(asof_stream(src()), "update")
        bound = "users"
    elif name == "st_cms_counts":
        hashed = (
            src()
            .where(F.col("event_type").isNotNull())
            .select(F.expr(spark_hash64("event_type")).alias("h"))
        )
        q = _drain_memory(cms_build(hashed, "h", d=4, w=256), "complete")
        bound = "cms_cells"
    elif name == "st_bloom_filter":
        key = "concat(event_type, '|', CAST(user_id AS STRING))"
        hashed = (
            src()
            .where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
            .select(F.expr(spark_hash64(key)).alias("h"))
        )
        q = _drain_memory(bloom_build(hashed, m_bits=4096, k=4), "complete")
        bound = "bloom_words"
    elif name == "st_rollup_refresh":
        work = session_scratch_dir("mb_rollup_")
        q = rollup_refresh_stream(
            src(), store_path=f"{work}/store",
            checkpoint_path=f"{work}/ckpt", grain="day",
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("micro-bench stream did not drain in 600s")
        m = _progress_metrics(q)
        m["store_rows"] = read_parquet(spark, f"{work}/store").count()
        m["bound_key"] = "day_type"
        m["bound_on"] = "store_rows"
        return m
    elif name == "st_upsert_state":
        work = session_scratch_dir("mb_upsert_")
        q = upsert_state_stream(
            src(), store_path=f"{work}/store", checkpoint_path=f"{work}/ckpt"
        )
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("micro-bench stream did not drain in 600s")
        m = _progress_metrics(q)
        m["store_rows"] = read_parquet(spark, f"{work}/store").count()
        m["bound_key"] = "users"
        m["bound_on"] = "store_rows"
        return m
    else:
        raise KeyError(f"unknown streaming operator {name!r}")

    m = _progress_metrics(q)
    m["bound_key"] = bound
    m["bound_on"] = "state_rows"
    return m


ALL_OPERATORS = (
    "st_window_counts",
    "st_session_stats",
    "st_dedup",
    "st_enrich",
    "st_interval_join",
    "st_rollup_day",
    "st_user_state",
    "st_rollup_refresh",
    "st_sketch_distinct",
    "st_anomaly",
    "st_ohlc",
    "st_upsert_state",
    "st_asof",
    "st_cms_counts",
    "st_bloom_filter",
)


def check_bound(metrics: dict, bounds: dict) -> tuple[bool, int | None]:
    """(ok, bound_value). bound_key None => operator must hold NO
    streaming state at all."""
    key = metrics.get("bound_key")
    if key is None:
        return metrics["n_state_operators"] == 0, None
    limit = bounds[key]
    return metrics[metrics["bound_on"]] <= limit, limit
