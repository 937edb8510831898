"""Streaming keyed-state maintenance: apply each micro-batch onto a
stored state table with ``merge_upsert`` — the CDC-apply face of
``operators/cdc.py``, structured exactly like the rollup refresh
(``streaming/rollup.py``): idempotent ``foreachBatch``, batch-id
marker swapped atomically WITH the data, O(batch + touched keys) per
trigger, history never rescanned.

The same storage caveats as the rollup store apply verbatim (single-
writer directory swap; bind the store to its checkpoint lineage; use
a transactional table format at production scale). The merge logic —
this module's contribution — is unchanged in either storage.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keenwa_spark.operators.cdc import merge_upsert
from keenwa_spark.sources.readers import read_parquet


def user_state_partials(batch_df: DataFrame) -> DataFrame:
    """One micro-batch reduced to per-user mergeable partials:
    event count, decimal-exact value total, last active day."""
    return (
        batch_df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
            F.date_format(F.max(F.to_date("ts")), "yyyy-MM-dd").alias(
                "last_day"
            ),
        )
    )


def upsert_state_stream(
    stream_df: DataFrame,
    store_path: str,
    checkpoint_path: str,
):
    """Start (availableNow) a stream that merge-upserts each
    micro-batch's per-user partials into the parquet state table at
    ``store_path``: counts and totals combine additively, last_day by
    greatest. Returns the query; the caller awaits termination and
    reads the store — which at any moment equals a batch recompute
    over everything delivered so far (the oracle-checked claim)."""

    old_path = f"{store_path}.old"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # crash recovery: a previous swap may have renamed the live
        # store aside and died before installing its replacement — the
        # .old copy is then the newest complete state (ADVICE r05)
        if not os.path.exists(store_path) and os.path.exists(old_path):
            os.rename(old_path, store_path)
        marker = os.path.join(store_path, "_last_batch")
        if os.path.exists(marker):
            with open(marker) as f:
                if batch_id <= int(f.read().strip()):
                    return  # replayed batch: already merged
        delta = user_state_partials(batch_df)
        if os.path.exists(store_path):
            base = read_parquet(spark, store_path)
            merged = merge_upsert(
                base,
                delta,
                keys=["user_id"],
                combine={
                    "n_events": "sum",
                    "total_value": "sum",
                    "last_day": "greatest",
                },
            )
        else:
            merged = delta
        tmp = f"{store_path}.tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_last_batch"), "w") as f:
            f.write(str(batch_id))
        # three-step swap so a crash at any point leaves a complete
        # store under either the live or the .old name, never neither
        if os.path.exists(old_path):
            shutil.rmtree(old_path)
        if os.path.exists(store_path):
            os.rename(store_path, old_path)
        os.rename(tmp, store_path)
        shutil.rmtree(old_path, ignore_errors=True)

    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
