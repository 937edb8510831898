"""Skew-aware join: explicit salting for keys too hot for AQE.

AQE's skew-join handling splits oversized SHUFFLE partitions, which
covers most skew. What it cannot fix: a single join KEY whose rows
exceed one executor's memory on the build side, or skew through a
broadcast-ineligible many-to-many join. The classic remedy is salting:
replicate the small side R times, scatter the big side's hot keys
across R sub-keys, join on (key, salt), and the hot key's work spreads
over R tasks.

Cost model (why this is opt-in, not default): the small side is
materialized R times and every big-side row grows a salt column —
pure overhead when keys are uniform. Use when key-frequency stats say
a key exceeds ~1 task's capacity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salts: int = 16,
) -> DataFrame:
    """Equi-join ``big`` with ``small`` on column ``on``, scattering
    each big-side key across ``salts`` sub-partitions.

    The big side gets a deterministic salt (hash of its row identity
    mod R — deterministic so retries/speculation see stable data); the
    small side is exploded to all R salt values. Join key becomes
    (on, salt). Output columns match a plain join (salt dropped).
    """
    if salts < 2:
        raise ValueError("salts must be >= 2 (use a plain join otherwise)")
    if how not in ("inner", "left", "left_semi", "left_anti"):
        # The small side is replicated once per salt value, so for
        # right/full outer joins every small-side row whose (key, salt)
        # finds no big-side partner would be null-extended once PER SALT
        # — silently diverging from a plain join (ADVICE r02). Those
        # variants need a post-join dedup of the replicated side; until
        # someone needs them, reject loudly rather than corrupt.
        raise ValueError(
            f"salted_join supports how in ('inner','left','left_semi','left_anti'); "
            f"got {how!r} — right/full would duplicate unmatched small-side rows "
            f"once per salt"
        )
    big_salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salts))
    )
    small_salted = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    joined = big_salted.join(
        small_salted,
        on=[big_salted[on] == small_salted[on], big_salted["__salt"] == small_salted["__salt"]],
        how=how,
    )
    # drop the duplicate key + salt columns from the small side
    return joined.drop(small_salted[on]).drop(small_salted["__salt"]).drop(
        big_salted["__salt"]
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Join/agg-key skew diagnostics: per-key count distribution plus
    the heavy hitters — the measurement that decides WHEN salted_join
    (above) or AQE skew-join is needed, instead of guessing.

    Output: one row per top-k heaviest key, each carrying the
    distribution summary alongside (n_keys, max/p50/p99 per-key
    counts, the max/median ratio, and the key's share of all rows).
    A max_over_p50 in the tens+ means the hottest shuffle partition
    does that many times the median partition's work — the signal to
    salt. Cost: one count aggregate on the key + a tiny all-key
    summary, both map-side combinable; the per-key counts are never
    collected. The count-distribution percentiles ride the
    distributed two-pass order statistics (operators/ordered.py,
    bit-identical to the percentile aggregate) — at a billion keys
    the aggregate would collect every per-key count into one
    aggregator.
    """
    counts = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("key_count")
    ).localCheckpoint(eager=False)
    from keenwa_spark.operators.ordered import exact_interpolated_percentiles

    qs = exact_interpolated_percentiles(counts, "key_count", [0.5, 0.99])
    p50, p99 = (qs[0], qs[1]) if qs else (None, None)
    summary = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("key_count").alias("n_rows"),
        F.max("key_count").alias("max_count"),
        F.lit(p50).cast("double").alias("p50_count"),
        F.lit(p99).cast("double").alias("p99_count"),
    )
    # distributed top-k (TakeOrderedAndProject) FIRST, so the global
    # rank window only ever sees top_k rows — never all n_keys counts
    # funneled through one partition
    top = counts.orderBy(
        F.col("key_count").desc(), F.col(key_col).asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("key_count").desc(), F.col(key_col).asc())
    top = top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    return (
        top.crossJoin(summary)
        .select(
            "rnk",
            F.col(key_col).alias("key"),
            "key_count",
            (F.col("key_count") / F.col("n_rows")).alias("share"),
            "n_keys",
            "max_count",
            "p50_count",
            "p99_count",
            (F.col("max_count") / F.col("p50_count")).alias("max_over_p50"),
        )
        .orderBy("rnk")
    )
