"""Deterministic training-shard export with a verifiable manifest.

The last mile of every training-data pipeline: write the curated
corpus as N balanced shards whose ASSIGNMENT is a pure function of a
stable key (content-hash sharding — re-running the export reproduces
byte-identical shard membership, unlike round-robin repartition, whose
assignment depends on scheduling), plus a manifest recording per-shard
row counts and an order-independent content checksum so a consumer
(or a retry) can verify integrity WITHOUT re-reading the producer's
lineage.

Scale shape: one hash exchange on the shard id (each shard lands in
exactly one task → exactly one file per shard directory), one
map-side-partial aggregation for the manifest. The checksum is the
SUM of a portable md5-derived row hash — commutative, so it is
independent of row order and partitioning, and the same arithmetic
runs on DuckDB (pipeline/hashing.py portable-hash recipe), which is
what makes the manifest oracle-checkable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keenwa_spark.pipeline.hashing import spark_hash64
from keenwa_spark.sources.readers import read_parquet

MANIFEST_NAME = "_manifest.json"


def shard_id_expr(key_col: str, n_shards: int) -> str:
    """Spark SQL for the deterministic shard id: portable md5-derived
    int64 of the key, mod ``n_shards`` (non-negative by construction —
    the 32-bit hash value range is positive)."""
    return f"{spark_hash64(f'CAST({key_col} AS STRING)')} % {n_shards}"


def shard_manifest(
    df: DataFrame,
    key_col: str,
    content_cols: list[str],
    n_shards: int,
) -> DataFrame:
    """(shard, n_rows, checksum) per shard — the integrity record.
    ``checksum`` sums the portable row hash of the concatenated
    content columns: order-independent (commutative sum), so any
    partitioning/ordering of a correct export verifies equal."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if not content_cols:
        raise ValueError("content_cols must be non-empty")
    concat = ", '\\u0001', ".join(
        f"coalesce(CAST({c} AS STRING), '')" for c in content_cols
    )
    row_hash = spark_hash64(f"concat({concat})")
    return (
        df.withColumn("shard", F.expr(shard_id_expr(key_col, n_shards)))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.expr(row_hash)).cast("bigint").alias("checksum"),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    content_cols: list[str],
    n_shards: int = 32,
) -> dict:
    """Write ``df`` as ``n_shards`` hash-sharded parquet directories
    (``shard=K/``, exactly one data file each) plus a ``_manifest.json``
    recording per-shard rows/checksum/bytes. Returns the manifest
    dict. Underscore-prefixed manifest is invisible to parquet
    readers, so ``spark.read.parquet(path)`` sees only data."""
    sharded = df.withColumn("shard", F.expr(shard_id_expr(key_col, n_shards)))
    (
        sharded.repartition(n_shards, F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    stats = {
        int(r["shard"]): {"n_rows": int(r["n_rows"]), "checksum": int(r["checksum"])}
        for r in shard_manifest(df, key_col, content_cols, n_shards).collect()
    }
    manifest = {"n_shards": n_shards, "key_col": key_col,
                "content_cols": list(content_cols), "shards": {}}
    for shard in sorted(stats):
        d = os.path.join(path, f"shard={shard}")
        files = [
            f for f in os.listdir(d) if f.endswith(".parquet")
        ] if os.path.isdir(d) else []
        manifest["shards"][str(shard)] = {
            **stats[shard],
            "n_files": len(files),
            "bytes": sum(os.path.getsize(os.path.join(d, f)) for f in files),
        }
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_shards(spark: SparkSession, path: str) -> tuple[bool, list[str]]:
    """Recompute rows+checksum from the WRITTEN files and diff against
    the manifest — the consumer-side integrity gate (detects partial
    writes, manual tampering, lost shard directories). Returns
    (ok, problems)."""
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    got = {
        int(r["shard"]): (int(r["n_rows"]), int(r["checksum"]))
        for r in shard_manifest(
            read_parquet(spark, path),
            manifest["key_col"],
            manifest["content_cols"],
            manifest["n_shards"],
        ).collect()
    }
    problems = []
    for shard, rec in manifest["shards"].items():
        actual = got.pop(int(shard), None)
        if actual is None:
            problems.append(f"shard {shard}: missing from data")
        elif actual != (rec["n_rows"], rec["checksum"]):
            problems.append(
                f"shard {shard}: rows/checksum {actual} != manifest "
                f"({rec['n_rows']}, {rec['checksum']})"
            )
    for shard in got:
        problems.append(f"shard {shard}: present in data, not in manifest")
    return not problems, problems
