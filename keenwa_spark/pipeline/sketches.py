"""Sketch aggregates: approximate distinct counts, mergeable HLL
sketches, approximate quantiles — WITH their error contracts made
executable.

At 100 TB these are the primitives that replace exact aggregations
whose state grows with the data: a distinct count over billions of
user ids is a fixed-size HLL register array with map-side partials and
lossless merge, an approximate quantile is a bounded Greenwald-Khanna
/ KLL summary — both stream through executors at constant memory where
COUNT(DISTINCT) shuffles every distinct value and an exact percentile
buffers them.

Verification model (what makes these oracle-checkable): approximate
answers differ across engines, so the registry rows output the EXACT
answer alongside a BOUND-CHECK of the approximation — "estimate within
the published error of exact" is the sketch's actual contract, it is
deterministic for a fixed input (no RNG in HLL++/GK), and the DuckDB
oracle recomputes the exact side plus the expected TRUE flags. A
regression that degrades the sketch past its bound flips a flag and
fails the value-hash compare.

Reference parity note: the reference optimizer carries no sketch
functions; this family belongs to the beyond-reference pipeline
mandate (same tier as dedup/ANN: SURVEY §2's "beyond" block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keenwa_spark.litdf import local_df


def approx_distinct_bounds(
    df: DataFrame,
    col: str,
    keys: list[str],
    rsd: float = 0.05,
    tolerance_mult: float = 3.0,
) -> DataFrame:
    """Per-key exact distinct count + HLL++ estimate + bound check.

    Output: keys..., ``n_exact`` (bigint), ``approx_ok`` (boolean —
    |estimate - exact| <= tolerance_mult * rsd * exact, the standard
    3-sigma band on HLL++'s relative standard deviation). The exact
    side exists for the oracle; production callers drop it and keep
    the one-pass constant-state estimate."""
    est = F.approx_count_distinct(col, rsd).alias("__est")
    exact = F.count_distinct(F.col(col)).alias("n_exact")
    out = df.groupBy(*keys).agg(exact, est)
    bound = F.lit(tolerance_mult * rsd) * F.col("n_exact").cast("double")
    return out.select(
        *keys,
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("__est").cast("double") - F.col("n_exact").cast("double"))
            <= F.greatest(bound, F.lit(1.0))
        ).alias("approx_ok"),
    )


def hll_merge_equivalence(
    df: DataFrame,
    col: str,
    split_col,
    lg_k: int = 12,
    tolerance: float = 0.03,
) -> DataFrame:
    """The MERGEABILITY contract of the Datasketches HLL functions
    (Spark 4 ``hll_sketch_agg`` / ``hll_union`` /
    ``hll_sketch_estimate``): sketching disjoint splits and unioning
    the binary sketches must land within ``tolerance`` of BOTH the
    whole-input sketch's estimate and the exact distinct count.

    Exact estimate equality (merged == whole) is deliberately NOT the
    contract: it holds only when union and direct sketch take the same
    internal mode. Below ~lg_k distinct values the sketches sit in
    sparse/coupon mode, and hll_union_agg's promotion through the
    HLL_8 union gadget can land a slightly different estimate than
    the whole-input sketch that stayed sparse — measured on the sf0.1
    events table: merged 1488 vs whole 1499 vs exact 1500 at lg_k=12
    (sf0.01's 150 users agreed exactly, masking it; found by the
    multi-SF sweep).

    One row: ``n_exact`` (bigint), ``merged_within_bound`` /
    ``whole_within_bound`` (each estimate vs exact) and
    ``merge_drift_ok`` (|merged - whole| <= tolerance * n_exact).
    This is the distributed-correctness statement that lets a 100 TB
    distinct count be computed as per-partition sketches + one tiny
    merge instead of a distinct-value shuffle."""
    half = df.select(F.col(col).alias("__v"), split_col.alias("__h"))
    parts = half.groupBy("__h").agg(
        F.hll_sketch_agg("__v", F.lit(lg_k)).alias("__sk")
    )
    merged = parts.agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est_merged")
    )
    whole = half.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("__v", F.lit(lg_k))
        ).alias("__est_whole"),
        F.count_distinct(F.col("__v")).alias("n_exact"),
    )
    tol = F.lit(tolerance) * F.col("n_exact").cast("double")
    return whole.crossJoin(merged).select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("__est_merged").cast("double") - F.col("n_exact"))
            <= tol
        ).alias("merged_within_bound"),
        (
            F.abs(F.col("__est_whole").cast("double") - F.col("n_exact"))
            <= tol
        ).alias("whole_within_bound"),
        (
            F.abs(
                F.col("__est_merged").cast("double")
                - F.col("__est_whole").cast("double")
            )
            <= tol
        ).alias("merge_drift_ok"),
    )


def approx_quantile_bounds(
    df: DataFrame,
    col: str,
    probs: list[float],
    relative_error: float = 0.01,
) -> DataFrame:
    """Approximate percentiles with their RANK-error contract checked:
    ``approx_percentile(col, p, accuracy)`` must return a value whose
    exact rank lies within ``relative_error * n`` of ``p * n`` (the
    Greenwald-Khanna guarantee — value-space closeness is NOT promised
    and not checked, and interpolated exact values are deliberately
    NOT output: their last-ulp varies across engines). One row per
    probability: ``prob``, ``n_values`` (bigint, the exact non-null
    count), ``rank_ok`` (boolean).

    The approx aggregate is one constant-state pass; the rank check
    needs each returned value's exact rank, computed with one
    conditional-aggregation pass — oracle scaffolding, not part of the
    production call."""
    if not probs:
        raise ValueError("probs must be non-empty")
    accuracy = int(1.0 / relative_error) * 100
    prob_arr = ", ".join(str(float(p)) for p in probs)
    picked = df.agg(
        F.count(F.col(col)).alias("__n"),
        F.expr(
            f"approx_percentile({col}, array({prob_arr}), {accuracy})"
        ).alias("__ap"),
    ).collect()[0]
    n = picked["__n"]
    ap_vals = list(picked["__ap"] or [])
    if n == 0 or not ap_vals:
        # empty input: approx_percentile returns NULL; the rank
        # contract is vacuously satisfied (no value can violate it)
        rows = [(float(p), 0, True) for p in probs]
        return local_df(
            df.sparkSession, rows, "prob DOUBLE, n_values BIGINT, rank_ok BOOLEAN"
        )
    # exact rank of each returned value: count of rows <= it, all
    # probabilities in ONE conditional-aggregation pass
    le = df.agg(
        *[
            F.sum(
                F.when(F.col(col) <= F.lit(float(ap_vals[i])), 1).otherwise(0)
            ).alias(f"__le{i}")
            for i in range(len(probs))
        ]
    ).collect()[0]
    out_rows = []
    for i, p in enumerate(probs):
        # GK guarantee: the returned value's rank is within eps*n of
        # the target rank p*n (+1 slack for the discrete boundary)
        ok = abs(le[f"__le{i}"] - p * n) <= relative_error * n + 1
        out_rows.append((float(p), int(n), bool(ok)))
    return local_df(
        df.sparkSession, out_rows, "prob double, n_values bigint, rank_ok boolean"
    )


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

#: depth of the default CMS (one row per frozen hash function used)
CMS_D = 4


def _cms_pos(h: str, j: int, w: int) -> str:
    """Row-j counter index of hash ``h`` — shared Spark/DuckDB dialect
    (same frozen affine family as MinHash/Bloom; a_j < 2^30 keeps
    a*h < 2^62, no overflow in either engine)."""
    from keenwa_spark.pipeline.hashing import MINHASH_AB, MINHASH_P

    a, b = MINHASH_AB[j]
    return f"((({a} * {h} + {b}) % {MINHASH_P}) % {w})"


def cms_build(
    df: DataFrame, hash_col: str = "h", d: int = CMS_D, w: int = 512
) -> DataFrame:
    """Count-min sketch of a stream of item hashes: ``(j, pos, cnt)``
    rows, at most d*w of them regardless of input size.

    The sketch is MERGEABLE (counters are sums): partial aggregation
    happens map-side, daily sketches merge by summing ``cnt`` on
    (j, pos) — constant state where an exact per-item count would
    shuffle every distinct item. Estimates are one-sided: the min over
    the d counters never undercounts, and overshoots by <= 3N/w with
    high probability (the classic e/w bound, integer-rounded here so
    both engines compute it identically)."""
    from keenwa_spark.pipeline.hashing import MINHASH_AB

    if d > len(MINHASH_AB):  # the frozen hash family bounds the depth
        raise ValueError(f"d={d} exceeds the frozen hash family")
    arms = ", ".join(
        f"named_struct('j', {j}, 'pos', {_cms_pos(hash_col, j, w)})"
        for j in range(d)
    )
    return (
        df.select(F.explode(F.expr(f"array({arms})")).alias("jp"))
        .select(F.col("jp.j").alias("j"), F.col("jp.pos").alias("pos"))
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    items: DataFrame,
    sketch: DataFrame,
    hash_col: str = "h",
    key_cols: tuple[str, ...] = ("tok",),
    d: int = CMS_D,
    w: int = 512,
) -> DataFrame:
    """Point-query the sketch for each item row: adds ``est_cnt`` =
    min over the d counters (0 if any counter row is absent). The
    sketch side is tiny (<= d*w rows), so the planner broadcasts it;
    the item side is never shuffled beyond the fold-back groupBy."""
    arms = ", ".join(
        f"named_struct('j', {j}, 'pos', {_cms_pos(hash_col, j, w)})"
        for j in range(d)
    )
    exploded = items.select(
        *key_cols, F.explode(F.expr(f"array({arms})")).alias("jp")
    ).select(*key_cols, F.col("jp.j").alias("j"), F.col("jp.pos").alias("pos"))
    return (
        exploded.join(sketch, ["j", "pos"], "left")
        .groupBy(*key_cols)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )
