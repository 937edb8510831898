"""Writers shaped for 100 TB outputs.

The two failure modes at scale are (a) one giant file per partition
(coalesce(1) folklore) and (b) millions of tiny files (over-partitioned
writes). ``write_parquet`` targets a file size by repartitioning on the
partition columns plus a salt sized from an (estimated or measured)
byte count, which is how production lakehouse writers behave.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keenwa_spark.sources.readers import read_parquet

#: target output file size — parquet sweet spot for scan parallelism
TARGET_FILE_BYTES = 256 << 20


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    est_bytes: int | None = None,
    mode: str = "error",
) -> None:
    """Write parquet with sane file sizing.

    ``est_bytes``: estimated total output size; files are targeted at
    ~256 MB each. Without an estimate the writer trusts the current
    partitioning (AQE has usually coalesced it sensibly).
    """
    writer = df.write.mode(mode)
    if est_bytes:
        n_files = max(1, math.ceil(est_bytes / TARGET_FILE_BYTES))
        if partition_by:
            # salt within partition dirs so each dir gets ~n_files/dirs
            df = df.withColumn(
                "__salt", (F.rand(seed=42) * n_files).cast("int")
            )
            df = df.repartition(n_files, *partition_by, F.col("__salt"))
            df = df.drop("__salt")
            writer = df.write.mode(mode)
        else:
            writer = df.repartition(n_files).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def zorder_key_expr(
    cols: list[tuple[str, float, float]], bits: int = 16
) -> F.Column:
    """Z-order (Morton) key over 2+ numeric columns: each value is
    normalized into ``[0, 2^bits)`` using the caller-supplied
    ``(col, min, max)`` domain, then the columns' bits are interleaved.

    Sorting by this key clusters rows so that ANY of the participating
    columns has narrow min/max spans per file/row-group — which is what
    makes multi-predicate scans skip data. One linear expression, all
    codegen.
    """
    if len(cols) < 2:
        raise ValueError("z-order needs at least 2 columns")
    if not 1 <= bits <= 20:
        raise ValueError(f"bits must be in [1, 20], got {bits}")
    n = len(cols)
    if n * bits > 62:
        raise ValueError(
            f"{n} cols x {bits} bits = {n * bits} key bits > 62 (long overflow)"
        )
    scaled = []
    for c, lo, hi in cols:
        if not hi > lo:
            raise ValueError(f"bad domain for {c}: [{lo}, {hi}]")
        span = float(hi) - float(lo)
        scaled.append(
            F.least(
                F.lit((1 << bits) - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col(c).cast("double") - float(lo))
                        / span
                        * ((1 << bits) - 1)
                    ).cast("bigint"),
                ),
            )
        )
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, s in enumerate(scaled):
            key = key.bitwiseOR(
                s.bitwiseAND(F.lit(1 << i)).cast("bigint")
                * F.lit(1 << (i * (n - 1) + j))
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[tuple[str, float, float]],
    n_files: int = 8,
    bits: int = 16,
    mode: str = "error",
) -> None:
    """Write parquet clustered by the z-order key of ``cols``:
    range-repartition on the key (contiguous key ranges per file, one
    shuffle), sort within partitions, drop the key. Every participating
    column gets narrow per-file min/max statistics, so single- OR
    multi-column range predicates skip most files/row-groups at scan
    time — the lakehouse layout trick (Delta/Iceberg OPTIMIZE ZORDER)
    in plain Spark operators."""
    key = zorder_key_expr(cols, bits=bits)
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(n_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Idempotent partition backfill: overwrite ONLY the partition
    directories present in ``df``, leaving every other partition
    untouched (``partitionOverwriteMode=dynamic``) — the recompute/
    replay primitive for date-partitioned tables. A plain
    ``mode=overwrite`` would truncate the WHOLE table; appending a
    corrected day would double it. Re-running the same backfill is a
    no-op state-wise, which is what makes failed-job retries safe at
    100 TB.

    The overwrite-mode conf is set for this write and restored after
    (it is session-wide in Spark; leaving it dynamic would silently
    change the semantics of every later overwrite in the session).
    """
    if not partition_by:
        raise ValueError("backfill_partitions requires partition columns")
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> tuple[int, int]:
    """Small-file compaction for a parquet directory: rewrite ``path``
    so each output file targets ``target_file_bytes`` — the table
    maintenance every long-running ingest needs (streaming sinks and
    per-batch backfills accrete thousands of KB-scale files whose
    open/footer overhead eventually dominates scans; at 100 TB the
    same accretion breaks the driver's file listing).

    Returns (files_before, files_after). Content is preserved exactly
    (read -> repartition -> rewrite, no row transformation). The swap
    is the crash-safe three-step used by the streaming state store
    (streaming/upsert.py): write to ``.tmp``, rename the live dir
    aside, install, drop the old copy — a crash at any point leaves a
    complete directory under the live or ``.old`` name; call
    ``recover_compaction`` at startup to heal an interrupted swap.

    Driver cost: one file listing (sizes), bounded by file count — the
    quantity compaction exists to keep bounded.

    Concurrency: compaction requires a QUIESCED table — no concurrent
    writer (streaming sink, upsert store, backfill) may append while
    it runs, or the appended files would be silently dropped with the
    ``.old`` copy (ADVICE r06 item 5). The swap is guarded: the
    parquet listing is re-taken just before the install and, if any
    file appeared or vanished since the read, the compaction ABORTS
    (tmp output removed, live dir untouched) with a RuntimeError
    instead of losing the concurrent write. The check is
    listing-based, so a writer that lands between the re-check and
    the rename can still race — the guard converts the silent data
    loss into a near-certain loud failure, not a lock; pause writers
    for a correctness guarantee.
    """
    import os
    import shutil

    def _listing() -> dict[str, int]:
        return {
            os.path.join(r, f): os.path.getsize(os.path.join(r, f))
            for r, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        }

    before = _listing()
    files_before = len(before)
    if files_before == 0:
        return 0, 0
    n_out = max(1, math.ceil(sum(before.values()) / target_file_bytes))
    df = read_parquet(spark, path)
    tmp, old = f"{path}.tmp-compact", f"{path}.old"
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    if _listing() != before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compact_parquet aborted: {path} changed during compaction "
            "(concurrent writer detected) — quiesce writers and retry"
        )
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    files_after = len(
        [
            f
            for r, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        ]
    )
    return files_before, files_after


def recover_compaction(path: str) -> bool:
    """Heal an interrupted ``compact_parquet`` swap: if the live dir is
    missing but ``.old`` survives, restore it. Returns True when a
    recovery happened."""
    import os

    old = f"{path}.old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False
