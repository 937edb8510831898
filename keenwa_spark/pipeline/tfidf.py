"""TF-IDF term weighting over a document corpus.

The standard relevance/keyword-extraction primitive a training-data
pipeline needs for topic filtering, near-topic dedup, and quality
heuristics. Plan shape (all codegen, no Python):

  docs --explode words--> (doc, term) --groupBy--> tf   [shuffle 1]
  tf --groupBy term--> df_t                              [shuffle 2]
  tf join df_t on term                                   [shuffle 2's
     output reused; at corpus scale this is a shuffle join on term —
     vocab is Zipf-skewed, which AQE skew-join handles, and the fat
     head terms are exactly the ones a min-df filter drops first]
  score + per-doc top-k window                           [shuffle 3]

Determinism / oracle note: idf uses the BM25-style RATIONAL form
  idf_r = (N - df + 0.5) / (df + 0.5)
instead of ln() of it — measured: Spark's ln() and DuckDB's ln()
disagree in the last ulp on ~5% of inputs (JVM vs libm), which would
break bit-exact cross-engine verification. The rational form is exact
double arithmetic on integers (+0.5), bit-identical everywhere. It is
a monotone transform of classic BM25 idf, so per-TERM orderings agree;
tf * idf_r rank-k per doc is what we define and verify. Swap in
``ln(...)`` at the marked line if classic weights are needed and
rows-only verification is acceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keenwa_spark.pipeline.dedup import normalized_text


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf): whitespace terms of the normalized text,
    counted per document. One explode + one partial-aggregated
    groupBy."""
    words = f"split({normalized_text(text_col)}, ' ')"
    return (
        df.select(F.col(id_col), F.explode(F.expr(words)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def tfidf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """(doc_id, term, tf, df_t, score) for every (doc, term) pair with
    document frequency >= min_df. score = tf * (N - df_t + .5)/(df_t + .5)
    (rational idf — module docstring). Scores go NEGATIVE for terms in
    more than half the corpus — deliberate here: top_terms then ranks
    such ubiquitous terms last, which is the desired 'characteristic
    term' behavior (search_topk, by contrast, clamps at 0 so matching
    a common query term can never subtract relevance)."""
    tf = term_frequencies(df, text_col, id_col)
    df_t = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    n_row = df.agg(F.countDistinct(id_col).alias("n_docs"))
    return (
        tf.join(df_t, "term")
        .filter(F.col("df_t") >= min_df)
        .crossJoin(n_row)
        # idf_r: exact double arithmetic — bit-identical cross-engine;
        # replace with ln((n_docs - df_t + 0.5) / (df_t + 0.5)) for
        # classic BM25 idf (breaks bit-exact oracle compare).
        .withColumn(
            "score",
            F.expr("tf * (CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5)"),
        )
        .select(id_col, "term", "tf", "df_t", "score")
    )


def top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf score, with a
    total (score desc, term asc) ordering so the result is unique."""
    scored = tfidf(df, text_col, id_col, min_df)
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "score", F.col("rnk").cast("bigint").alias("rnk"))
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranking: top-k documents for a keyword query with the full
    Okapi scoring — clamped rational idf (module docstring) times the
    tf-saturation / length-normalization term
    ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``. Unlike
    ``search_topk`` (plain tf*idf_r), long documents no longer win by
    repetition: tf saturates toward k1+1 and above-average-length
    documents are penalized via dl/avgdl.

    The saturation term is RATIONAL, so the whole score stays exact
    double arithmetic — bit-identical cross-engine, no ln() anywhere
    (constants 1.2/0.75 parse to the same doubles in every IEEE
    engine; the expression shape is mirrored verbatim in the oracle).

    Scale shape (same as search_topk): pairs filtered to the query's
    terms right after the explode, so the corpus vocabulary is never
    shuffled; per-doc dl rides through the explode (max within the
    (doc, term) group — no extra join); corpus stats (n_docs, sum_dl,
    n_rows) are ONE tiny aggregate broadcast as a 1-row table. avgdl
    is computed as CAST(sum_dl AS DOUBLE)/n_rows — explicitly, not
    AVG(), so the division order is pinned cross-engine. NULL text
    contributes no terms and a NULL dl (excluded from sum_dl, counted
    in n_rows — the documented denominator convention). Per-doc
    relevance folds term scores in sorted order (order-stable sum).
    """
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("query must contain at least one term")
    words = f"split({normalized_text(text_col)}, ' ')"
    dl_expr = F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
        F.expr(f"size({words})")
    ).cast("bigint")
    tf = (
        df.select(
            F.col(id_col),
            dl_expr.alias("dl"),
            F.explode(F.expr(words)).alias("term"),
        )
        .filter(F.col("term") != "")
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    stats = df.agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.sum(dl_expr).alias("sum_dl"),
        F.count("*").alias("n_rows"),
    )
    scored = (
        tf.join(df_t, "term")
        .crossJoin(stats)
        .withColumn(
            "score",
            F.expr(
                "GREATEST((CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5),"
                " CAST(0 AS DOUBLE))"
                f" * (tf * ({k1!r} + 1.0))"
                f" / (tf + {k1!r} * (1.0 - {b!r} + {b!r} * dl"
                " / (CAST(sum_dl AS DOUBLE) / n_rows)))"
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.expr(
            "aggregate(sort_array(collect_list(score)), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("relevance"),
        F.countDistinct("term").cast("bigint").alias("n_terms_matched"),
    )
    return per_doc.orderBy(F.col("relevance").desc(), F.col(id_col)).limit(k)


def search_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical search: top-k documents for a keyword query, scored by
    summed tf*idf_r over the matched query terms (idf_r = the module's
    rational BM25-style idf; no length normalization — documented
    simplification).

    idf_r is clamped at 0 (GREATEST) before weighting: the raw
    rational form goes NEGATIVE for terms appearing in more than half
    the corpus, and an un-clamped negative idf would make matching a
    stopword-like query term SUBTRACT relevance (the standard BM25
    negative-idf fix; exact max() of exact doubles, so cross-engine
    bit-exactness is preserved).

    Scale shape — and why search is CHEAP here: the (doc, term) pairs
    are filtered to the query's terms immediately after the explode,
    so the corpus-wide vocabulary is never shuffled; df_t computed
    from the filtered pairs is still exact for those terms (every doc
    containing a query term survives the filter). What remains is a
    few-term aggregate + a broadcast of a |query|-row df_t table + one
    doc-keyed top-k. Relevance sums fold per-doc scores in SORTED
    order (bit-identical cross-engine, any partitioning).
    """
    terms = sorted(
        {t for t in query.lower().split() if t}
    )
    if not terms:
        raise ValueError("query must contain at least one term")
    tf = term_frequencies(df, text_col, id_col).filter(F.col("term").isin(terms))
    df_t = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    n_row = df.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(n_row)
        .withColumn(
            "score",
            F.expr(
                "tf * GREATEST((CAST(n_docs AS DOUBLE) - df_t + 0.5)"
                " / (df_t + 0.5), CAST(0 AS DOUBLE))"
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.expr(
            "aggregate(sort_array(collect_list(score)), CAST(0 AS DOUBLE), "
            "(acc, x) -> acc + x)"
        ).alias("relevance"),
        F.countDistinct("term").cast("bigint").alias("n_terms_matched"),
    )
    return (
        per_doc.orderBy(F.col("relevance").desc(), F.col(id_col))
        .limit(k)
    )
