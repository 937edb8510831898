"""Two-pass exact global-order computations — rank, cumulative sums,
prefix-min — WITHOUT a single-partition window.

A partitionless Spark window (``Window.orderBy(...)`` with no
``partitionBy``) funnels the whole input through ONE task: fine over a
provably bounded domain, a scale-killer over anything that grows with
the data (VERDICT r05 items 1-4). This module replaces that plan shape
with the classic two-pass range-bucket scheme every distributed sort
uses (TeraSort lineage):

1. **Fit** ``B - 1`` approximate quantile cuts of the numeric bucket
   column (one ``approxQuantile`` pass — distributed Greenwald-Khanna
   partials, bounded driver result: a ≤ B-length double array — the
   same sanctioned bounded-model-state pattern as the IVF centroid
   fit, pipeline/ivf.py).
2. **Count** per-bucket stats (row counts / column sums / mins) with
   an ordinary map-side-partial groupBy, collect the ≤ B stat rows,
   and fold them into DENSE exclusive-prefix arrays on the driver.
3. **Finish** with a per-BUCKET window (hash-partitioned by bucket —
   parallelism = B) plus a literal-array offset lookup
   (``element_at(offsets, bucket + 1)`` — pure codegen, no join):
   global rank = bucket offset + local rank, global cumsum = bucket
   prefix + local cumsum, global prefix-min = min(bucket prefix-min,
   local prev-min).

Exactness does NOT depend on the cuts: any monotone bucketing gives
the right answer because offsets come from exact per-bucket stats —
cut quality only balances the buckets. Bucket assignment is the same
pure-codegen array-filter used by the equi-depth histogram
(pipeline/quality.py ``quantile_bin_of``); ties share a bucket, so a
bucket boundary can never split rows that compare equal on the
bucket column — which also makes both passes see identical bucket
assignments (literal cuts, deterministic expression).

Preconditions: the bucket column must be numeric and MONOTONE in the
primary order column (identical is typical; a double shadow of a
decimal/date key also qualifies), and the full ``order_by`` should be
a total order (include a tie-break key) wherever per-row outputs like
rank must be deterministic. NULLs in the bucket column land in the
terminal bucket that matches Spark's NULLS FIRST (asc) / NULLS LAST
(desc) default ordering. NaN is NOT supported in the bucket column
(Spark orders NaN after every double but the cut filter would bucket
it first — filter NaNs out or map them to a sentinel first).

Scale: two extra column-pruned passes (fit + count) buy the removal
of the single-task sort; the only full-data shuffle is the per-bucket
window's hash exchange. ``n_buckets`` defaults to
``spark.sql.shuffle.partitions`` so window parallelism matches the
cluster; at 100 TB set buckets ~ cores. By default the input
projection is ``localCheckpoint``-materialized so an expensive
upstream (tokenization, aggregation) computes ONCE instead of once
per pass — the same executor-local materialization the connected-
components loop uses (pipeline/clustering.py; tradeoff: lineage is
not replayable on executor loss — pass ``materialize=False`` to keep
pure lineage and recompute per pass).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BKT = "__kw_bkt"


def fit_bucket_cuts(
    df: DataFrame,
    bucket_col: str,
    n_buckets: int | None = None,
    relative_error: float = 0.001,
) -> list[float]:
    """≤ ``n_buckets - 1`` sorted distinct cut points of ``bucket_col``
    (approximate quantiles; collapses under heavy ties — fewer, still
    monotone, buckets)."""
    spark = df.sparkSession
    if not _is_numeric(df, bucket_col):
        raise ValueError(
            f"bucket column {bucket_col!r} must be numeric for the "
            f"quantile fit, got {df.schema[bucket_col].dataType.simpleString()} "
            "— add a monotone double shadow (cast, unix_micros, ...) "
            "and bucket on that"
        )
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if n_buckets == 1:
        return []
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.approxQuantile(bucket_col, probs, relative_error)
    return sorted(set(cuts))


def bucket_of(
    value: Column,
    cuts: list[float],
    descending: bool = False,
) -> Column:
    """Bucket index of ``value`` against literal ``cuts``, increasing
    along the global order (count of cuts <= value — value on a cut
    goes above, the ``quantile_bin_of`` rule; mirrored when the
    primary order is descending). NULL values: the filter drops every
    cut / no WHEN term fires, so NULL gets asc bucket 0 / desc bucket
    ``len(cuts)`` — matching Spark's NULLS FIRST / NULLS LAST
    defaults.

    A higher-order ``filter`` over a literal array: it compiles
    instantly, and it was 3x faster than an unrolled sum of WHEN terms
    on a 1M-row mega-tie pass (that form's wide ``CASE WHEN`` Project
    ran outside whole-stage codegen)."""
    if not cuts:
        return F.lit(0)
    v = value.cast("double")
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    asc = F.size(F.filter(arr, lambda c: c <= v))
    return (F.lit(len(cuts)) - asc) if descending else asc


def _order_exprs(order_by: list, descending_first: bool) -> list[Column]:
    out: list[Column] = []
    for i, c in enumerate(order_by):
        col = F.col(c) if isinstance(c, str) else c
        out.append(col.desc() if (descending_first and i == 0) else col)
    return out


#: internal per-bucket row count carried alongside the caller's stats
_CNT = "__kw_cnt"


def _offset_lookup(values: list, dtype) -> Column:
    """A literal array of per-bucket offsets indexed by ``_BKT`` —
    pure codegen, no join, so no constraint-inference hazards from
    joining on an aliased expression."""
    lits = [
        (F.lit(v) if v is not None else F.lit(None)).cast(dtype) for v in values
    ]
    return F.element_at(F.array(*lits), F.col(_BKT) + 1)


#: dtypes safe to hand to approxQuantile for (re)fitting cuts
_NUMERIC_TYPES = {"byte", "short", "integer", "long", "float", "double"}


def _is_numeric(df: DataFrame, col: str) -> bool:
    return df.schema[col].dataType.typeName() in _NUMERIC_TYPES


def _py_bucket_of(v: float, cuts: list[float], descending: bool) -> int:
    """Driver-side mirror of ``bucket_of`` for a known value."""
    asc = sum(1 for c in cuts if c <= v)
    return (len(cuts) - asc) if descending else asc


def _bucketed(
    df: DataFrame,
    bucket_col: str,
    tie_bucket_col: str | None,
    descending: bool,
    n_buckets: int | None,
    aggs: list[Column] = (),
    heavy_factor: float = 4.0,
    max_heavy: int = 16,
) -> tuple[DataFrame, int, dict]:
    """Assign the final bucket ordinal (column ``_BKT``) so adversarial
    skew can't re-create a near-single-partition window.

    The quantile fit already bounds NON-tie skew: each cut's rank is
    within ±relative_error·n of its target, so every bucket holds
    ~n/B ± 0.2% of the rows — EXCEPT when one VALUE alone exceeds a
    bucket (a mega-tie: quantile cuts collapse onto it and cannot
    split it). So the only refinement needed is per heavy value: find
    values owning > ``heavy_factor``·(n/B) rows (one distributed
    count-agg + top-k, ≤ ``max_heavy`` collected) and give each its
    own block of sub-buckets split by quantile cuts of
    ``tie_bucket_col`` — safe, because the tied rows compare equal on
    the primary, so any tie-monotone split preserves the total order.
    The surrounding non-tied rows of the same base bucket get ordinals
    below/above the block according to the sort direction, keeping the
    final ordinal monotone along the global order.

    Returns (df with ``_BKT``, number of final buckets, per-bucket
    stats: ordinal -> collected Row holding the caller's ``aggs`` plus
    the internal count ``_CNT``). Folding the caller's offset-stats
    pass INTO bucketing is what makes heavy detection free in the
    common balanced case (VERDICT r07 item 1 — the r7 shape ran an
    unconditional value-count pass + 2 collect jobs per call even when
    no heavy value existed, regressing ev_spend_gini 1.49×): the
    detection signal — max bucket count vs ``heavy_factor``·avg — falls
    out of the same ≤B-row collect the offsets need, so a no-skew input
    pays ZERO jobs beyond fit + stats. Only a genuinely heavy bucket
    triggers the refinement passes (value-count restricted to the heavy
    buckets, grid fit, re-stats), which is sound because a heavy
    VALUE's rows all share one bucket (same value ⇒ same ordinal), so
    value count ≤ its bucket count and no heavy value can hide in a
    balanced bucket; the fit's ±relative_error rank bound keeps false
    positives from non-tie skew negligible. Exactness is unaffected —
    offsets come from exact stats over the FINAL assignment; refinement
    only balances partitions. Limits (documented): a NULL mega-tie and
    a non-numeric tie column don't split (callers order NULLs to a
    terminal bucket anyway)."""
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cuts = fit_bucket_cuts(df, bucket_col, n_buckets)
    n_base = len(cuts) + 1
    all_aggs = list(aggs) + [F.count(F.lit(1)).cast("bigint").alias(_CNT)]
    plain = df.withColumn(_BKT, bucket_of(F.col(bucket_col), cuts, descending))
    stats = {r[_BKT]: r for r in plain.groupBy(_BKT).agg(*all_aggs).collect()}
    if tie_bucket_col is None or not _is_numeric(df, tie_bucket_col):
        return plain, n_base, stats
    total = sum(r[_CNT] for r in stats.values())
    avg = max(total / max(n_buckets, 1), 1.0)
    heavy_bkts = [k for k, r in stats.items() if r[_CNT] > heavy_factor * avg]
    if not heavy_bkts:
        return plain, n_base, stats
    heavy_rows = (
        plain.where(F.col(_BKT).isin(heavy_bkts))
        .groupBy(bucket_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        .where(F.col("__c") > heavy_factor * avg)
        .where(F.col(bucket_col).isNotNull())
        .orderBy(F.col("__c").desc(), F.col(bucket_col).asc())
        .limit(max_heavy)
        .collect()
    )
    if not heavy_rows:
        return plain, n_base, stats
    # NATIVE heavy values: a float() shadow would merge two distinct
    # bigints beyond 2^53 into one tie block and break bucket
    # monotonicity (ADVICE r06 item 2) — the double cast is used ONLY
    # for base-bucket placement, whose semantics are double-typed by
    # construction (bucket_of casts to double against double cuts).
    counts = {r[bucket_col]: r["__c"] for r in heavy_rows}
    # heavy values sorted along the GLOBAL order direction
    hvs = sorted(counts, reverse=descending)
    # Fit ALL tie-break cuts in ONE conditional-aggregation pass: a
    # shared (n_buckets - 1)-point percentile_approx grid per heavy
    # value over only the heavy rows, sub-sampled per value to its
    # target cut count. Replaces r6's ≤ max_heavy separate filtered
    # approxQuantile scans; cut quality only balances buckets, so the
    # nearest-grid-point sub-sample keeps exactness untouched.
    grid = [i / n_buckets for i in range(1, n_buckets)]
    grids: dict = {}
    if grid:
        for r in (
            df.where(F.col(bucket_col).isin(list(counts)))
            .groupBy(bucket_col)
            .agg(
                F.percentile_approx(
                    F.col(tie_bucket_col).cast("double"), grid
                ).alias("__q")
            )
            .collect()
        ):
            grids[r[bucket_col]] = r["__q"] or []
    tie_cuts: dict = {}
    for hv in hvs:
        target = min(int(counts[hv] / avg) + 1, n_buckets)
        qs = grids.get(hv) or []
        picked = (
            [qs[round(j * n_buckets / target) - 1] for j in range(1, target)]
            if qs
            else []
        )
        tie_cuts[hv] = sorted({c for c in picked if c is not None})
    # ordinal layout per base bucket: seg0 | hv0-block | seg1 | ... | segN
    from collections import defaultdict

    by_base = defaultdict(list)
    for hv in hvs:
        by_base[_py_bucket_of(float(hv), cuts, descending)].append(hv)
    base_start, blocks, run = [], [], 0
    for k in range(n_base):
        base_start.append(run)
        cur = run
        for hv in by_base.get(k, []):
            cur += 1  # the non-tied segment preceding this value
            blocks.append((k, hv, cur, len(tie_cuts[hv]) + 1))
            cur += len(tie_cuts[hv]) + 1
        run = cur + 1
    n_final = run
    # all value comparisons below are NATIVE-typed (no double shadow):
    # equality picks out exactly the heavy value's rows, and the
    # before/after test keeps the ordinal monotone even for a distinct
    # neighbor value that collides with hv at double precision
    v = F.col(bucket_col)
    base_b = bucket_of(F.col(bucket_col), cuts, descending)
    # non-tied rows: segment ordinal = bucket start + width of every
    # heavy-value block (and its preceding segment) that sorts BEFORE v
    expr = F.element_at(F.array(*[F.lit(s) for s in base_start]), base_b + 1)
    for k, hv, _start, width in blocks:
        after_hv = (v < F.lit(hv)) if descending else (v > F.lit(hv))
        expr = expr + F.when(
            (base_b == F.lit(k)) & after_hv, F.lit(1 + width)
        ).otherwise(F.lit(0))
    # tied rows: their own block, sub-split by the tie column (always
    # ascending — only order_by[0] may be descending)
    for _k, hv, start, _width in blocks:
        expr = F.when(
            v == F.lit(hv),
            F.lit(start)
            + bucket_of(F.col(tie_bucket_col), tie_cuts[hv], False),
        ).otherwise(expr)
    # the sub-split ordinal is a WHEN-chain over the heavy values —
    # recomputing it in the re-stats pass and the window exchange is
    # cheaper than a materializing checkpoint at every scale probed
    # (1M/10M rows)
    refined = df.withColumn(_BKT, expr)
    stats = {r[_BKT]: r for r in refined.groupBy(_BKT).agg(*all_aggs).collect()}
    return refined, n_final, stats


def with_global_row_number(
    df: DataFrame,
    order_by: list,
    bucket_col: str,
    out_col: str = "i",
    descending: bool = False,
    n_buckets: int | None = None,
    materialize: bool = True,
    tie_bucket_col: str | None = None,
) -> DataFrame:
    """``ROW_NUMBER() OVER (ORDER BY order_by)`` as bigint ``out_col``
    — two-pass, never a single-partition sort. Pass a numeric
    ``tie_bucket_col`` (monotone in the tie-break order) to let heavy
    mega-tie buckets sub-split instead of becoming stragglers."""
    if materialize:
        df = df.localCheckpoint(eager=False)
    b, n_final, stats = _bucketed(
        df, bucket_col, tie_bucket_col, descending, n_buckets
    )
    offs, running = [], 0
    for k in range(n_final):
        offs.append(running)
        if k in stats:
            running += stats[k][_CNT]
    w = Window.partitionBy(_BKT).orderBy(*_order_exprs(order_by, descending))
    return (
        b.withColumn(
            out_col,
            (
                F.row_number().over(w).cast("bigint")
                + _offset_lookup(offs, "bigint")
            ).cast("bigint"),
        )
        .drop(_BKT)
    )


def with_global_cumsum(
    df: DataFrame,
    order_by: list,
    bucket_col: str,
    sums: dict[str, str],
    descending: bool = False,
    n_buckets: int | None = None,
    materialize: bool = True,
    tie_bucket_col: str | None = None,
) -> DataFrame:
    """Running ``SUM(in) OVER (ORDER BY order_by ROWS UNBOUNDED
    PRECEDING)`` for each ``out_col -> in_col`` in ``sums`` —
    inclusive of the current row, exact for integer/decimal inputs
    (bucket prefixes are exact per-bucket sums). ``tie_bucket_col``
    is only exact when the cumsum consumer treats tied full-order
    rows atomically or the order is total — same rule as the window
    it replaces."""
    if materialize:
        df = df.localCheckpoint(eager=False)
    stats_df_aggs = [F.sum(src).alias(out) for out, src in sums.items()]
    # schema analysis only (no job): grouped and global sums share a
    # result type, so the offset-cast dtypes come from a lazy plan
    dtypes = {f.name: f.dataType for f in df.select(*stats_df_aggs).schema.fields}
    b, n_final, stats = _bucketed(
        df, bucket_col, tie_bucket_col, descending, n_buckets,
        aggs=stats_df_aggs,
    )
    w = (
        Window.partitionBy(_BKT)
        .orderBy(*_order_exprs(order_by, descending))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    res = b
    for out_col, src in sums.items():
        # offsets stay NULL until the first bucket with a non-null sum,
        # so the window semantics survive nullable inputs (ADVICE r06
        # item 3): a row whose LOCAL prefix is all-NULL but whose
        # global prefix has values in earlier buckets takes the bucket
        # offset (coalescing the NULL local sum to 0), while a row with
        # no non-null value anywhere before it stays NULL — exactly
        # SUM(...) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING).
        offs, running = [], None
        for k in range(n_final):
            offs.append(running)
            v = stats[k][out_col] if k in stats else None
            if v is not None:
                running = v if running is None else running + v
        off = _offset_lookup(offs, dtypes[out_col])
        local = F.sum(src).over(w)
        res = res.withColumn(
            out_col,
            F.when(off.isNull(), local).otherwise(
                F.coalesce(local, F.lit(0).cast(dtypes[out_col])) + off
            ),
        )
    return res.drop(_BKT)


def with_global_prev_min(
    df: DataFrame,
    order_by: list,
    bucket_col: str,
    min_of: str,
    out_col: str,
    descending: bool = True,
    n_buckets: int | None = None,
    materialize: bool = True,
    tie_bucket_col: str | None = None,
) -> DataFrame:
    """``MIN(min_of) OVER (ORDER BY order_by ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` — the running minimum of everything
    STRICTLY BEFORE the row (NULL for the global first row), the
    sort-filter skyline's dominance witness."""
    if materialize:
        df = df.localCheckpoint(eager=False)
    dtype = df.schema[min_of].dataType
    b, n_final, stats = _bucketed(
        df, bucket_col, tie_bucket_col, descending, n_buckets,
        aggs=[F.min(min_of).alias("m")],
    )
    offs, running = [], None
    for k in range(n_final):
        offs.append(running)
        v = stats[k]["m"] if k in stats else None
        if v is not None:
            running = v if running is None else min(running, v)
    w = (
        Window.partitionBy(_BKT)
        .orderBy(*_order_exprs(order_by, descending))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # least() skips NULLs: NULL bucket-prefix (first bucket) or NULL
    # local prev (first row in bucket) falls back to the other side
    return (
        b.withColumn(
            out_col, F.least(F.min(min_of).over(w), _offset_lookup(offs, dtype))
        )
        .drop(_BKT)
    )


def exact_interpolated_percentiles(
    df: DataFrame,
    col: str,
    probs: list[float],
    n_buckets: int | None = None,
) -> list[float]:
    """EXACT linear-interpolated percentiles of non-null ``col`` —
    bit-identical to Spark's ``percentile`` aggregate (verified: the
    interpolation is ``(h - x)·v[l] + (x - l)·v[h]`` at 0-based
    position ``x = p·(n-1)``, the exact expression Spark evaluates) —
    WITHOUT collecting the value array anywhere: the aggregate-based
    exact percentile holds every group value in one aggregator's
    memory, which is the first OOM on a 100 TB column. Here the two
    needed order statistics per prob come from the two-pass
    range-bucket rank, so memory is bounded by a bucket partition and
    driver state by ≤ 2·len(probs) rows + the cut array."""
    import math

    vals = (
        df.select(F.col(col).alias("__v"))
        .where(F.col("__v").isNotNull())
        # double shadow for the quantile bucketing (monotone; keeps
        # decimal/integer columns usable — ordering stays on __v)
        .withColumn("__vd", F.col("__v").cast("double"))
    )
    n = vals.count()
    if n == 0:
        return []
    pos = {p: p * (n - 1) for p in probs}
    need = sorted(
        {int(math.floor(x)) for x in pos.values()}
        | {int(math.ceil(x)) for x in pos.values()}
    )
    ranked = with_global_row_number(
        vals, ["__v"], "__vd", out_col="__rn", n_buckets=n_buckets
    )
    at = {
        r["__rn"] - 1: r["__v"]
        for r in ranked.where(
            F.col("__rn").isin([k + 1 for k in need])
        ).collect()
    }
    out = []
    for p in probs:
        x = pos[p]
        lo, hi = math.floor(x), math.ceil(x)
        if lo == hi:
            out.append(float(at[lo]))
        else:
            out.append((hi - x) * float(at[lo]) + (x - lo) * float(at[hi]))
    return out


#: distinct-value count up to which ``with_global_rank`` broadcasts
#: its ranks side (two longs a row: 500k rows is about 8 MB)
_RANK_BROADCAST_ROWS = 500_000


def with_global_rank(
    df: DataFrame,
    col: str,
    out_col: str = "rk",
    descending: bool = False,
    dense: bool = False,
    n_buckets: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """``RANK()`` (gaps) or ``DENSE_RANK()`` ``OVER (ORDER BY col)`` as
    bigint ``out_col`` — two-pass, no single-partition window, and no
    mega-tie straggler either: every row of a tie group shares one
    rank, so ranks are computed over the DISTINCT values (rank = 1 +
    exclusive running count of rows on earlier values, dense rank =
    the value's ordinal — both via the range-bucket machinery over
    the grouped counts) and joined back on the value. A value owning
    90% of the corpus costs one grouped count and one join probe, not
    a 90%-of-the-data window partition. Single-key order only (rank
    over a composite order has no tie groups to exploit — use
    ``with_global_row_number``).

    The join-back is NULL-SAFE (``<=>``): ``RANK() OVER (ORDER BY
    col)`` ranks NULL rows too (NULLS FIRST asc / LAST desc), so a
    null-unsafe equi-join would silently drop them (ADVICE r06 item
    1). The planner's size estimate for the ranks side (checkpointed
    range-bucket passes) is no smaller than ``df``'s, so unhinted it
    builds the join on ``df`` and adds a shuffle. When the distinct
    domain is at most ``_RANK_BROADCAST_ROWS`` (counted exactly by the
    grouped-count pass) the ranks side is broadcast instead; above
    that the planner chooses the join."""
    if materialize:
        df = df.localCheckpoint(eager=False)
    counts = (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        .localCheckpoint(eager=False)
    )
    n_distinct = counts.count()
    if dense:
        vals = with_global_row_number(
            counts,
            [col],
            col,
            out_col=out_col,
            descending=descending,
            n_buckets=n_buckets,
            materialize=False,
        )
    else:
        vals = (
            with_global_cumsum(
                counts,
                [col],
                col,
                {"__cum": "__c"},
                descending=descending,
                n_buckets=n_buckets,
                materialize=False,
            )
            .withColumn(
                out_col, (F.col("__cum") - F.col("__c") + 1).cast("bigint")
            )
            .drop("__cum")
        )
    ranks = vals.select(F.col(col).alias("__kw_rk_v"), out_col)
    if n_distinct <= _RANK_BROADCAST_ROWS:
        ranks = F.broadcast(ranks)
    return df.join(ranks, F.col(col).eqNullSafe(F.col("__kw_rk_v"))).drop(
        "__kw_rk_v"
    )


def grouped_exact_percentiles(
    df: DataFrame,
    col: str,
    keys: list[str],
    probs: list[float],
    out_prefix: str = "__q",
) -> DataFrame:
    """PER-GROUP exact linear-interpolated percentiles — bit-identical
    to a grouped ``percentile`` aggregate, WITHOUT its per-group value
    array (the aggregate buffers every value of the group in one
    aggregator; group sizes grow with the data, so that's the same
    scale cliff the global fit had). One row per key combination with
    ``out_prefix{i}`` (double) per probability.

    Plan: a per-group rank window (PARTITIONED by the keys — spillable
    sort, never a value buffer) + per-group count, filter to the ≤ 2
    order statistics each probability needs, one grouped max-pick, and
    the exact interpolation ``(h-x)·lo + (x-l)·hi`` evaluated from the
    group's own n. NULL values excluded (percentile semantics); empty
    groups simply don't appear."""
    from functools import reduce
    from operator import or_

    if not probs:
        raise ValueError("probs must be non-empty")
    vals = df.where(F.col(col).isNotNull()).select(*keys, col)
    w = Window.partitionBy(*keys).orderBy(F.col(col))
    ranked = vals.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )

    def _pos(p: float):
        x = F.lit(float(p)) * (F.col("__n") - 1).cast("double")
        return x, F.floor(x), F.ceil(x)

    conds, aggs = [], []
    for i, p in enumerate(probs):
        _, lo, hi = _pos(p)
        idx = (F.col("__rn") - 1).cast("bigint")
        is_lo, is_hi = idx == lo.cast("bigint"), idx == hi.cast("bigint")
        conds.append(is_lo | is_hi)
        aggs.append(
            F.max(F.when(is_lo, F.col(col))).alias(f"{out_prefix}{i}_lo")
        )
        aggs.append(
            F.max(F.when(is_hi, F.col(col))).alias(f"{out_prefix}{i}_hi")
        )
    picked = ranked.where(reduce(or_, conds))
    stats = picked.groupBy(*keys).agg(
        *aggs, F.max("__n").cast("bigint").alias("__n")
    )
    outs = []
    for i, p in enumerate(probs):
        x, lo, hi = _pos(p)
        vlo = F.col(f"{out_prefix}{i}_lo").cast("double")
        vhi = F.col(f"{out_prefix}{i}_hi").cast("double")
        outs.append(
            F.when(lo == hi, vlo)
            .otherwise((hi - x) * vlo + (x - lo) * vhi)
            .alias(f"{out_prefix}{i}")
        )
    return stats.select(*keys, *outs)
