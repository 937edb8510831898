"""ML feature-engineering operators: quantile binning, robust scaling,
target encoding.

Beyond-reference surface (keenwa optimizes queries; it has no feature
layer). The three encoders every tabular training pipeline applies
before the model sees the data, each as a fit-broadcast-transform plan:
the "fit" statistics are one aggregation pass, the "transform" joins
them back — broadcast when group cardinality is bounded (the normal
case), shuffle otherwise, AQE decides.

Cross-engine exactness (the repo-wide oracle discipline): percentile
cuts are Spark's exact linear interpolation (bit-equal to DuckDB's
quantile_cont — measured, see queries/analytics.py); sums ride
DECIMAL; every per-row formula is a fixed sequence of correctly-
rounded IEEE ops, so even the leave-one-out encodings hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantile_bucketize(
    df: DataFrame, col: str, n_bins: int, out_col: str | None = None
) -> DataFrame:
    """Add ``out_col`` (default ``<col>_bin``): the 0-based equi-depth
    bin of ``col`` under exact corpus quantile cuts — the fit/transform
    twin of ``quality.quantile_histogram`` (same cuts, same a-value-on-
    a-cut-goes-above rule). NULL values get NULL bins.

    Plan: one percentile pass fits ALL cuts, the 1-row cut array
    broadcasts onto the scan, binning is a codegen array filter — the
    transform adds zero shuffles.
    """
    from keenwa_spark.pipeline.quality import fit_quantile_cuts, quantile_bin_of

    out_col = out_col or f"{col}_bin"
    cuts = fit_quantile_cuts(df, col, n_bins)
    return (
        df.crossJoin(cuts)
        .withColumn(
            out_col,
            F.when(F.col(col).isNotNull(), quantile_bin_of(F.col(col))),
        )
        .drop("__cuts")
    )


def robust_scale(
    df: DataFrame, col: str, keys: list[str], out_col: str | None = None
) -> DataFrame:
    """Add ``out_col`` (default ``<col>_robust``): per-group
    (value - median) / IQR — the outlier-resistant cousin of z-score
    standardization (``quality.zscore_scale``): one wild value shifts a
    mean/stddev arbitrarily but moves the median/IQR at most one rank.
    NULL when the group's IQR is 0 (constant-ish group) or the value is
    NULL.

    Plan: the per-group rank path fits (p25, p50, p75) per group
    (operators/ordered.py ``grouped_exact_percentiles`` — a
    partitioned, spillable window rather than the percentile
    aggregate's per-group value buffer, which grows with group size;
    bit-identical results), joined back on the keys — broadcast under
    bounded group cardinality.
    """
    out_col = out_col or f"{col}_robust"
    from keenwa_spark.operators.ordered import grouped_exact_percentiles

    stats = grouped_exact_percentiles(
        df, col, list(keys), [0.25, 0.5, 0.75]
    ).select(
        *keys,
        F.col("__q0").alias("__p25"),
        F.col("__q1").alias("__p50"),
        F.col("__q2").alias("__p75"),
    )
    iqr = F.col("__p75") - F.col("__p25")
    return (
        df.join(stats, on=keys, how="left")
        .withColumn(
            out_col,
            F.when(iqr > 0, (F.col(col) - F.col("__p50")) / iqr),
        )
        .drop("__p25", "__p50", "__p75")
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    out_col: str | None = None,
    leave_one_out: bool = True,
    target_scale: int = 6,
) -> DataFrame:
    """Add ``out_col`` (default ``<cat>_te``): the category's mean
    target. ``leave_one_out=True`` (default) excludes the row's OWN
    target from its encoding — (sum - y) / (n - 1) — the standard
    guard against the target leaking into its own feature; singleton
    categories then encode NULL. Rows with NULL target get the plain
    category mean (they leak nothing).

    The category sums ride DECIMAL at ``target_scale`` so the fit is
    partition-order-independent; the per-row LOO adjustment is two
    IEEE ops on the exact totals.

    Plan: one groupBy fit, one join back — broadcast while the
    category table (vocabulary-bounded) is under the threshold, a
    sort-merge join above it.
    """
    out_col = out_col or f"{cat_col}_te"
    dec = F.col(target_col).cast(f"decimal(18,{target_scale})")
    stats = df.groupBy(cat_col).agg(
        F.count(target_col).cast("bigint").alias("__n"),
        F.sum(dec).cast("double").alias("__sum"),
    )
    joined = df.join(stats, on=cat_col, how="left")
    y = F.col(target_col)
    if leave_one_out:
        enc = F.when(
            y.isNull(), F.col("__sum") / F.col("__n")
        ).when(
            F.col("__n") > 1, (F.col("__sum") - y) / (F.col("__n") - 1)
        )
    else:
        enc = F.col("__sum") / F.col("__n")
    return joined.withColumn(out_col, enc).drop("__n", "__sum")


def feature_hash_vectors(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick bag-of-words vectors (Weinberger et al. 2009):
    each token lands in bucket ``h % dim`` with sign from the next
    hash bit — a fixed-width feature vector with no vocabulary table
    at all, the classic trick when the vocab is unbounded (URLs,
    code identifiers, multilingual text).

    Output: (id, fvec array<double> of length ``dim``), exact signed
    integer counts cast to double so the vector plugs straight into
    the similarity/ANN stack. Pure per-row projection — the token
    hashes are staged ONCE per row (the _shingles outer-bind trick)
    and each dimension is a codegen fold over them; ZERO shuffles,
    no vocabulary state, embarrassingly scan-parallel at any corpus
    size. Docs with no tokens get the all-zero vector.

    The sign bit makes bucket collisions cancel in expectation
    (unbiased inner products) rather than accumulate — that is what
    distinguishes the hashing trick from plain modulo binning."""
    from keenwa_spark.pipeline.dedup import normalized_text
    from keenwa_spark.pipeline.hashing import spark_hash64

    toks = f"filter(split({normalized_text(text_col)}, ' '), t -> t <> '')"
    hashes = f"transform({toks}, t -> {spark_hash64('t')})"
    signed = (
        f"CASE WHEN (h div {dim}) % 2 = 0 THEN 1L ELSE -1L END"
    )
    fold = (
        f"aggregate(hs, 0L, (acc, h) -> acc + "
        f"(CASE WHEN h % {dim} = d THEN {signed} ELSE 0L END))"
    )
    vec = (
        f"transform(array({hashes}), hs -> "
        f"transform(sequence(0, {dim} - 1), d -> CAST({fold} AS DOUBLE)))[0]"
    )
    return docs.select(F.col(id_col), F.expr(vec).alias("fvec"))
