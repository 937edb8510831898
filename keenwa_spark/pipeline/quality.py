"""Document quality gates — the filter bank a corpus build runs
before dedup (Gopher/C4-style heuristics).

Signals beyond text_stats' basics: URL/email density, digit ratio,
word-repetition (distinct-word fraction), alpha-word fraction, and
longest-word length. Each is a regex/array expression in whole-stage
codegen — the same no-Python rule as pipeline/text.py, because these
run over EVERY document of the corpus exactly once.

``quality_gates`` combines the signals into named boolean gates with
explicit thresholds and a single ``keep`` conjunction. Thresholds are
arguments, not magic: real deployments tune per-source; the defaults
are the published Gopher-ish ranges. The gate table (not just the
filtered corpus) is the output — audits need to know WHY a document
was dropped, and the per-gate booleans aggregate into drop-reason
stats for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from keenwa_spark.litdf import local_df
from keenwa_spark.pipeline.dedup import normalized_text

#: simplified URL/email detectors. Anchored to token shape, not RFC
#: grammar — quality signals need density, not validation.
URL_RE = "https?://[^ ]+"
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\\\.[a-z]{2,}"


def quality_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality signal columns (all DOUBLE/BIGINT):

    n_words, distinct_word_ratio, url_hits, email_hits, digit_ratio,
    alpha_word_ratio, max_word_len. Single projection over the scan.
    """
    norm = normalized_text(text_col)
    words = f"split({norm}, ' ')"
    return df.select(
        F.col(id_col),
        F.expr(f"CAST(size({words}) AS BIGINT)").alias("n_words"),
        F.expr(
            f"CAST(size(array_distinct({words})) AS DOUBLE) / size({words})"
        ).alias("distinct_word_ratio"),
        F.expr(
            f"CAST(size(regexp_extract_all(lower({text_col}), '{URL_RE}', 0)) AS BIGINT)"
        ).alias("url_hits"),
        F.expr(
            f"CAST(size(regexp_extract_all(lower({text_col}), '{EMAIL_RE}', 0)) AS BIGINT)"
        ).alias("email_hits"),
        F.expr(
            f"CAST(char_length(regexp_replace({norm}, '[^0-9]', '')) AS DOUBLE)"
            f" / char_length(replace({norm}, ' ', ''))"
        ).alias("digit_ratio"),
        F.expr(
            f"CAST(size(filter({words}, w -> w rlike '[a-z]')) AS DOUBLE)"
            f" / size({words})"
        ).alias("alpha_word_ratio"),
        F.expr(
            f"CAST(array_max(transform({words}, w -> char_length(w))) AS BIGINT)"
        ).alias("max_word_len"),
    )


def quality_gates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
    min_distinct_ratio: float = 0.2,
    max_digit_ratio: float = 0.3,
    min_alpha_ratio: float = 0.7,
    max_word_len: int = 40,
    max_url_hits: int = 5,
) -> DataFrame:
    """Signals + named boolean gates + the ``keep`` conjunction.

    Gates: g_len (word-count window), g_repetition (distinct-word
    floor — boilerplate/spam repeats itself), g_digits (tables/logs),
    g_alpha (code/markup), g_word_len (unbroken junk tokens),
    g_urls (link farms)."""
    s = quality_signals(df, text_col, id_col)
    return (
        s.withColumn(
            "g_len", (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        )
        .withColumn("g_repetition", F.col("distinct_word_ratio") >= min_distinct_ratio)
        .withColumn("g_digits", F.col("digit_ratio") <= max_digit_ratio)
        .withColumn("g_alpha", F.col("alpha_word_ratio") >= min_alpha_ratio)
        .withColumn("g_word_len", F.col("max_word_len") <= max_word_len)
        .withColumn("g_urls", F.col("url_hits") <= max_url_hits)
        .withColumn(
            "keep",
            F.col("g_len")
            & F.col("g_repetition")
            & F.col("g_digits")
            & F.col("g_alpha")
            & F.col("g_word_len")
            & F.col("g_urls"),
        )
    )


def drop_reason_stats(gates: DataFrame) -> DataFrame:
    """Corpus-level audit: per-gate failure counts + total kept.
    One partial-aggregated global aggregation (a handful of longs per
    partition — no data movement beyond the final combine)."""
    g_cols = [c for c in gates.columns if c.startswith("g_")]
    aggs = [
        F.sum(F.when(~F.col(c), 1).otherwise(0)).cast("bigint").alias(f"fail_{c}")
        for c in g_cols
    ]
    aggs.append(F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("kept"))
    aggs.append(F.count("*").alias("total"))
    return gates.agg(*aggs)


def select_top_k_per_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the k best rows per group by score — the curation step that
    turns a scored corpus into a budgeted one (e.g. best documents per
    source/domain under a per-domain quota).

    One window shuffle keyed by the group column; the id column breaks
    score ties so the selection is deterministic and engine-reproducible.
    At 100 TB the shuffle is keyed by domain — if one domain dominates,
    pre-aggregate with a per-partition top-k first (TakeOrdered-style)
    before the window; for the typical thousands-of-domains case the
    plain window is the right single-pass plan.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(score_col).desc(), F.col(id_col))
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Column profile for numeric columns: null count, exact distinct
    count, min, max — one row per column.

    One aggregation pass over the scan computes every metric (Spark
    expands multi-column COUNT(DISTINCT) into an Expand + partial
    aggregate — still a single scan); the per-column rows come from
    unpivoting the 1-row aggregate with ``stack``, which is driver-free.
    The exact distinct count is the honest profile at dimension scale;
    for 100 TB fact columns swap in approx_count_distinct (HLL++, see
    tests/test_approx_twins.py for its measured accuracy).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    # temp aliases are INDEXED (not name-derived) and the emitted
    # col_name is a quote-escaped literal, so names with dashes,
    # spaces, dots, or quotes survive the selectExpr round-trip
    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"__nn_{i}"),
            F.countDistinct(F.col(c)).cast("bigint").alias(f"__nd_{i}"),
            F.min(F.col(c).cast("double")).alias(f"__mn_{i}"),
            F.max(F.col(c).cast("double")).alias(f"__mx_{i}"),
        ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"""'{c.replace("'", "''")}', __nn_{i}, __nd_{i}, __mn_{i}, __mx_{i}"""
        for i, c in enumerate(cols)
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(col_name, n_nulls, n_distinct, min_value, max_value)"
    )


def value_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Equi-width histogram of a numeric column over [lo, hi): one
    row PER BIN — empty bins emitted with n=0 (a groupBy alone cannot
    produce absent groups; the bin spine comes from sequence+explode).
    Values outside [lo, hi) and NULLs are dropped and reported by the
    caller via profile_columns; hi itself lands in the last bin
    (right-edge inclusion, the numpy.histogram convention).

    One partial-aggregated shuffle keyed by bin id (n_bins groups) +
    a broadcast-sized spine join. Bin ids derive from exact double
    arithmetic ((v - lo) / width) identical across engines.
    """
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    width = (float(hi) - float(lo)) / n_bins
    binned = (
        df.select(F.col(col).cast("double").alias("__v"))
        .where(F.col("__v").isNotNull())
        .where((F.col("__v") >= lo) & (F.col("__v") <= hi))
        .select(
            F.least(
                F.lit(n_bins - 1),
                F.floor((F.col("__v") - float(lo)) / width).cast("bigint"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    spine = df.sparkSession.range(0, n_bins).select(
        F.col("id").alias("bin")
    )
    return (
        spine.join(binned, "bin", "left")
        .select(
            "bin",
            (F.lit(float(lo)) + F.col("bin") * width).alias("bin_lo"),
            (F.lit(float(lo)) + (F.col("bin") + 1) * width).alias("bin_hi"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
        .orderBy("bin")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
) -> DataFrame:
    """Clamp ``value_col`` to its per-group [lower_q, upper_q] exact
    quantiles — the standard outlier treatment before a numeric
    feature feeds training or a quality score feeds sampling weights
    (one corrupt 1e12 'value' otherwise dominates any mean-based
    downstream).

    Adds ``<value_col>_w`` (clamped), ``q_lo``, ``q_hi``. Quantiles
    are exact linear-interpolated percentiles (bit-equal to DuckDB
    quantile_cont — the cross-engine-verified pair). The UNGROUPED
    case uses the distributed two-pass order statistics
    (operators/ordered.py — the percentile aggregate would collect
    the whole column into one aggregator); grouped fits use the
    per-group rank path (``grouped_exact_percentiles`` — a
    partitioned, spillable window instead of a per-group value
    buffer, since group SIZES grow with the data even when group
    counts are catalog-scale). Both are bit-identical to the
    aggregate.
    """
    if not 0.0 <= lower_q < upper_q <= 1.0:
        raise ValueError(f"need 0 <= lower_q < upper_q <= 1, got {lower_q}, {upper_q}")
    v = F.col(value_col).cast("double")
    if group_col is None:
        from keenwa_spark.operators.ordered import exact_interpolated_percentiles

        qs = exact_interpolated_percentiles(df, value_col, [lower_q, upper_q])
        lo, hi = (qs[0], qs[1]) if qs else (None, None)
        joined = df.withColumn(
            "q_lo", F.lit(lo).cast("double")
        ).withColumn("q_hi", F.lit(hi).cast("double"))
    else:
        from keenwa_spark.operators.ordered import grouped_exact_percentiles

        stats = grouped_exact_percentiles(
            df, value_col, [group_col], [lower_q, upper_q]
        ).select(
            group_col,
            F.col("__q0").alias("q_lo"),
            F.col("__q1").alias("q_hi"),
        )
        joined = df.join(stats, group_col)
    return joined.withColumn(
        f"{value_col}_w", F.least(F.greatest(v, F.col("q_lo")), F.col("q_hi"))
    )


def zscore_scale(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Standardize ``value_col`` per group: z = (v - mean) / stddev,
    adding ``<value_col>_z``, ``mean``, ``stddev``.

    Moments are EXACT decimal sums (SUM(x), SUM(x*x)) finalized in
    double — the built-in stddev's streaming double accumulation is
    partition-order-dependent and cannot be hash-verified
    cross-engine; this form is order-independent at any partitioning
    (same discipline as agg_stats_moments). One group aggregate +
    broadcast join-back, the same plan shape as winsorize. Groups of
    size 1 (or zero variance) yield NULL z rather than a division
    blow-up.

    The decimal sums cross into double via a SPLIT cast — integer
    part, plus the scale-12 fraction as an exact BIGINT divided by
    1e12 — because a direct high-scale decimal->double CAST is
    engine-implementation-rounded (measured: Spark and DuckDB differ
    in the last ulp on SUM(x*x) at scale 12). Every piece of the
    split is exactly representable, so both engines produce the
    identical double (the oracle uses the same split)."""
    x = F.col(value_col).cast("decimal(18,6)")
    aggs = [
        F.count(value_col).alias("__n"),
        F.sum(x).alias("__s1d"),
        F.sum(x * x).alias("__s2d"),
    ]
    split6 = (
        "(CAST(FLOOR(__s1d) AS DOUBLE)"
        " + CAST((__s1d - FLOOR(__s1d)) * 1000000 AS BIGINT)"
        " / CAST(1000000 AS DOUBLE))"
    )
    split12 = (
        "(CAST(FLOOR(__s2d) AS DOUBLE)"
        " + CAST((__s2d - FLOOR(__s2d)) * 1000000000000 AS BIGINT)"
        " / CAST(1000000000000 AS DOUBLE))"
    )
    if group_col is None:
        stats = df.agg(*aggs)
    else:
        stats = df.groupBy(group_col).agg(*aggs)
    stats = stats.select(
        *([group_col] if group_col else []),
        F.col("__n"),
        F.expr(split6).alias("__s1"),
        F.expr(split12).alias("__s2"),
    )
    if group_col is None:
        joined = df.crossJoin(stats)
    else:
        joined = df.join(stats, group_col)
    mean = F.col("__s1") / F.col("__n")
    # n > 1 guard: for a singleton group the 0/0 divide is NULL on
    # Spark but NaN on IEEE-strict engines (DuckDB) — the explicit
    # CASE makes stddev NULL on BOTH, keeping the oracle hash-equal
    var = F.when(
        F.col("__n") > 1,
        (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__n"))
        / (F.col("__n") - 1),
    )
    std = F.sqrt(var)
    return (
        joined.withColumn("mean", mean)
        .withColumn("stddev", std)
        .withColumn(
            f"{value_col}_z",
            F.when(
                std > 0, (F.col(value_col).cast("double") - F.col("mean")) / F.col("stddev")
            ),
        )
        .drop("__n", "__s1", "__s2")
    )


def fit_quantile_cuts(df: DataFrame, col: str, n_bins: int) -> DataFrame:
    """Shared equi-depth core: the 1-row ``__cuts`` array of exact
    inner quantiles of non-null ``col``. Consumers cross join it onto
    their scan and bin with ``quantile_bin_of`` — keeping the fit and
    the value-on-a-cut-goes-above rule in one place for both the
    histogram (here) and the feature bucketizer (features.py).

    The fit is the DISTRIBUTED exact path (operators/ordered.py
    ``exact_interpolated_percentiles``: two-pass range-bucket order
    statistics, bit-identical to the ``percentile`` aggregate this
    used to call) — the aggregate collects every value into one
    aggregator's memory, which was this module's documented 100 TB
    caveat; now the exact cuts scale like any groupBy and the caveat
    is gone. The cuts come back as a one-row sized LocalRelation in one
    partition: the planner broadcasts it, and with broadcasting off the
    CartesianProduct keeps the scan's partition count (a
    ``spark.range(1)`` frame would multiply it by
    ``defaultParallelism`` at each chained bucketizer)."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    from keenwa_spark.operators.ordered import exact_interpolated_percentiles

    probs = [i / n_bins for i in range(1, n_bins)]
    cuts = exact_interpolated_percentiles(df, col, probs)
    # empty input: the old aggregate returned a NULL array
    row = ([float(c) for c in cuts] if cuts else None,)
    return local_df(df.sparkSession, [row], "__cuts ARRAY<DOUBLE>")


def quantile_bin_of(value: Column) -> Column:
    """0-based bin of ``value`` against the in-scope ``__cuts`` array:
    the count of cuts <= value (a value equal to a cut goes ABOVE it)."""
    return F.size(F.filter("__cuts", lambda c: c <= value))


def quantile_histogram(df: DataFrame, col: str, n_bins: int) -> DataFrame:
    """Equi-DEPTH histogram: bin edges at exact value quantiles so every
    bin holds ~1/n_bins of the rows (the height-balanced histogram CBO
    stats engines keep — robust to skew where equi-width collapses).

    One row per bin: ``bin`` (0-based), ``lo``/``hi`` (quantile edges;
    NULL for the unbounded first/last edge), ``n`` (rows with
    lo < value <= ... — a value equal to a cut goes to the bin ABOVE
    it). Empty bins (possible under heavy ties) are emitted with n=0.

    Scale shape: the cuts come from the DISTRIBUTED exact fit
    (fit_quantile_cuts -> operators/ordered.py — bounded memory at any
    scale; the old "swap in approx_percentile at 100 TB" caveat is
    retired); the cut array broadcasts onto the scan and bin
    assignment is a pure-codegen array filter — no per-row shuffle.
    The final count is an n_bins-cardinality groupBy; the bin spine
    joins back so absent bins still appear. NULL values are excluded
    (profile them with validate_expectations).
    """
    vals = df.select(F.col(col).alias("__v")).where(F.col("__v").isNotNull())
    cuts = fit_quantile_cuts(df, col, n_bins)

    binned = (
        vals.crossJoin(cuts)
        .select(quantile_bin_of(F.col("__v")).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    spine = (
        cuts.select(
            F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
            "__cuts",
        )
    )
    return (
        spine.join(binned, on="bin", how="left")
        .select(
            "bin",
            F.when(F.col("bin") == 0, F.lit(None).cast("double"))
            .otherwise(F.element_at("__cuts", F.col("bin")))
            .alias("lo"),
            F.when(F.col("bin") == n_bins - 1, F.lit(None).cast("double"))
            .otherwise(F.element_at("__cuts", F.col("bin") + 1))
            .alias("hi"),
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n"),
        )
        .orderBy("bin")
    )
