"""Hashed n-gram importance weighting for domain-targeted data
selection — the DSIR recipe (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling"), Spark-first.

Given a corpus and a TARGET-domain predicate (the in-domain sample you
want more of — a language, a source, a quality tier), estimate each
document's importance weight p_target(x)/p_source(x) under hashed
bag-of-words models: every token hashes into one of ``n_buckets``
feature buckets, each side's bucket distribution is estimated with
add-λ smoothing, and a document is weighted by how much more likely
its token bag is under the target distribution than the source one.
High-weight out-of-domain documents are the ones to up-sample when
building a domain-targeted training mix.

Cross-engine exactness (the repo's standard policy, see
``lm_transition_score``): the textbook weight is a product of
per-token probability ratios — a sum of ln() terms, and ln differs in
last-ulp between engines while double sums are summation-order-
dependent, either of which breaks bit-exact oracle checks. So the
score here is the RATIONAL mean-likelihood-ratio form: with integer
λ = 1, a document with n tokens and exact integer bucket-count masses

    t_mass = Σ_tokens c_target(bucket(token))
    s_mass = Σ_tokens c_source(bucket(token))

gets  weight = ((t_mass + n) · (S + B)) / ((s_mass + n) · (T + B))

— the ratio of per-token MEAN smoothed likelihoods (T/S = total
target/source token counts, B = n_buckets). Every operand is an
exactly-aggregated BIGINT; the single final double expression is
per-row arithmetic, bit-identical on any engine. The product-form
log-weight is a one-line swap (sum ln((c_t+1)/(T+B)) - ...) where
cross-engine hashing isn't required; mean and product forms rank
identically on uniform-length corpora and nearly so elsewhere.

Scale shape (100 TB source corpus):
- tokens come from ONE codegen explode; the stream feeds both the
  model fit and the scoring pass (persisted, same policy knob as
  lm_transition_score).
- the model is a ``n_buckets``-row table (≤ 4096): groupBy(bucket) is
  map-side combinable into at most B rows per task, and the planner
  broadcasts the fitted model and its one-row totals — the vocabulary
  never shuffles, the corpus shuffles only doc-keyed integer partials.
- hashing is the engine-portable md5 bucket (pipeline/hashing.py), so
  yesterday's weights reproduce today on any engine.

Reference parity: the reference has no data-selection surface — this
is part of the beyond-reference training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from keenwa_spark.pipeline.dedup import normalized_text
from keenwa_spark.pipeline.hashing import spark_hash64


def dsir_weights(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    persist_tokens: bool = True,
    form: str = "mean",
) -> DataFrame:
    """Per-document hashed-n-gram importance weights vs the documents
    matching ``target`` (a boolean Column over ``df``'s rows).

    Output: (id_col, n_tokens, t_mass, s_mass, weight), one row per
    distinct id; docs with NULL text get n_tokens NULL and NULL weight
    (no tokens to weigh). ``weight`` > 1 means the document's token
    bag looks more target-like than source-like under the smoothed
    hashed models; the target sample itself is scored too (its docs
    should land high — a useful sanity signal).

    ``form``: ``"mean"`` (default) is the rational mean-likelihood-
    ratio of the module docstring — pure integer masses + one per-row
    double expression, bit-exact cross-engine. ``"log"`` is the
    textbook DSIR product-form LOG-weight: weight = Σ_tokens
    [ln(c_t(b)+1) - ln(c_s(b)+1)] + n·[ln(S+B) - ln(T+B)] (> 0 means
    target-like); the per-token terms are folded in SORTED order so
    the value is deterministic within Spark, but ln() differs in
    last-ulp between ENGINES, so this form is verified by tolerance
    (tests/test_pipeline_extras.py) rather than the bit-exact oracle
    gate. On uniform-length corpora both forms rank identically; on
    length-skewed corpora they can diverge — the log form weighs every
    token equally while the mean form compares per-token AVERAGE
    masses, damping long diluted documents less (pinned side-by-side
    in the length-skew test).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if form not in ("mean", "log"):
        raise ValueError(f"form must be 'mean' or 'log', got {form!r}")
    norm = normalized_text(text_col)
    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            target.cast("boolean").alias("__tgt"),
            F.explode(F.expr(f"split({norm}, ' ')")).alias("__tok"),
        )
        .withColumn(
            "__b", F.expr(f"{spark_hash64('__tok')} % {n_buckets}")
        )
        .drop("__tok")
    )
    if persist_tokens:
        # two consumers (model fit, scoring join) — tokenize once;
        # at 100 TB stage the token stream to parquet instead
        toks = toks.persist()
    model = toks.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_t"),
        F.sum(F.when(F.col("__tgt"), 0).otherwise(1))
        .cast("bigint")
        .alias("c_s"),
    )
    totals = model.agg(
        F.sum("c_t").cast("bigint").alias("tot_t"),
        F.sum("c_s").cast("bigint").alias("tot_s"),
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("c_t").cast("bigint").alias("t_mass"),
        F.sum("c_s").cast("bigint").alias("s_mass"),
    ]
    if form == "log":
        # per-token ln ratio, folded in sorted order (deterministic
        # within Spark; per-doc array bounded by document length — for
        # corpora with multi-million-token documents use form="mean",
        # whose state is three BIGINTs)
        aggs.append(
            F.expr(
                "aggregate(array_sort(collect_list("
                "ln(c_t + 1) - ln(c_s + 1))), "
                "CAST(0 AS DOUBLE), (acc, z) -> acc + z)"
            ).alias("__lsum")
        )
    masses = toks.join(model, "__b").groupBy(id_col).agg(*aggs)
    spine = df.select(F.col(id_col)).distinct()
    b = F.lit(n_buckets).cast("bigint")
    if form == "log":
        weight = (
            F.col("__lsum")
            + F.col("n_tokens").cast("double")
            * (
                F.log((F.col("tot_s") + b).cast("double"))
                - F.log((F.col("tot_t") + b).cast("double"))
            )
        ).alias("weight")
    else:
        weight = (
            (
                (F.col("t_mass") + F.col("n_tokens")).cast("double")
                * (F.col("tot_s") + b).cast("double")
            )
            / (
                (F.col("s_mass") + F.col("n_tokens")).cast("double")
                * (F.col("tot_t") + b).cast("double")
            )
        ).alias("weight")
    return (
        spine.join(masses, id_col, "left")
        .crossJoin(totals)
        .select(F.col(id_col), "n_tokens", "t_mass", "s_mass", weight)
    )


def dsir_select(
    df: DataFrame,
    target: Column,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    form: str = "mean",
) -> DataFrame:
    """Top-``k`` NON-target documents by importance weight (weight
    desc, id asc tie-break) — the selection step: the target sample is
    what you already have; the pick is the most target-like slice of
    the rest. A global top-k is a TakeOrderedAndProject (bounded
    k-row heap per partition + k-row driver merge), never a full
    sort. ``form`` as in dsir_weights (both forms rank identically on
    uniform-length corpora)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = dsir_weights(df, target, id_col, text_col, n_buckets, form=form)
    flags = df.select(F.col(id_col), target.cast("boolean").alias("__tgt"))
    return (
        w.join(flags, id_col)
        .where(~F.col("__tgt") & F.col("weight").isNotNull())
        .drop("__tgt")
        .orderBy(F.col("weight").desc(), F.col(id_col))
        .limit(k)
    )
