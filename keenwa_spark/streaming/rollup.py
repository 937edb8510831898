"""Streaming continuous-aggregate maintenance: keep a stored rollup
partials table fresh from an event stream, one micro-batch at a time.

The streaming face of ``operators/rollup.py``'s incremental refresh:
each micro-batch's rows reduce to day/hour partials
(``rollup_partials``) and merge into the persisted partials
(``rollup_merge``) inside ``foreachBatch`` — so the continuous
aggregate is maintained at O(batch + touched buckets) cost and NEVER
recomputes history, while any reader can ``finalize_rollup`` the
stored partials into presented rows at any moment.

Exactly-once: ``foreachBatch`` is AT-LEAST-once — after a failure a
micro-batch can be REPLAYED with the same batch_id, and a naive merge
would double-count its rows. The refresh therefore records the last
merged batch_id INSIDE the store directory (swapped atomically with
the data, so no crash window separates them) and SKIPS any batch_id
it has already committed (the standard idempotent-foreachBatch
recipe).
batch_ids are only meaningful WITHIN one checkpoint lineage, so a
store is bound to its checkpointLocation for its lifetime: pointing a
fresh checkpoint at an existing store re-delivers old data under
restarted batch_ids (which the marker happens to skip while ids stay
at-or-below it, but NEW data arriving under small ids would be
wrongly skipped too). Rebuild store and checkpoint together.

Storage caveat, stated honestly: the swap below is
write-new-directory-then-rename — atomic enough for a single-writer
demo and tests, NOT transactional under concurrent readers/writers.
At production scale the stored partials belong in a transactional
table format (or are partitioned by bucket so refreshes only rewrite
touched partitions); the MERGE LOGIC — the part this module owns — is
unchanged in either case.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from keenwa_spark.operators.rollup import rollup_merge, rollup_partials
from keenwa_spark.sources.readers import read_parquet


def rollup_refresh_stream(
    stream_df: DataFrame,
    store_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    value_col: str = "value",
    grain: str = "day",
):
    """Start (availableNow) a stream that folds each micro-batch into
    the parquet partials table at ``store_path``. Returns the query;
    caller awaits termination then reads/finalizes the store."""
    key_cols = key_cols if key_cols is not None else ["event_type"]

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # idempotence: a replayed micro-batch (same batch_id after a
        # failure) must not merge twice. The marker lives INSIDE the
        # store directory (underscore-prefixed files are invisible to
        # the parquet reader) so data and marker move in the SAME
        # directory swap — there is no crash window where the data is
        # committed but the marker is not.
        marker = os.path.join(store_path, "_last_batch")
        if os.path.exists(marker):
            with open(marker) as f:
                if batch_id <= int(f.read().strip()):
                    return
        delta = rollup_partials(
            batch_df, ts_col=ts_col, key_cols=key_cols,
            value_col=value_col, grain=grain,
        )
        if os.path.exists(store_path):
            stored = read_parquet(spark, store_path)
            merged = rollup_merge(stored, delta)
        else:
            merged = delta
        tmp = f"{store_path}.tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_last_batch"), "w") as f:
            f.write(str(batch_id))
        if os.path.exists(store_path):
            shutil.rmtree(store_path)
        os.rename(tmp, store_path)

    return (
        stream_df.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
