"""Sketch-aggregate registry rows (pipeline/sketches.py): approximate
distinct / mergeable HLL / approximate quantiles, each with its error
CONTRACT in the output so the DuckDB oracle can check it exactly
(approximate values themselves differ across engines; the flags and
exact companions do not — see pipeline/sketches.py docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keenwa_spark.queries import df_query


@df_query(
    "pl_sketch_distinct_bounds",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
    doc="Per-type approximate distinct users (HLL++, rsd=0.05) with "
    "the 3-sigma bound checked against the exact count "
    "(pipeline/sketches.py approx_distinct_bounds). At scale the "
    "estimate is one constant-state pass with map-side partials; the "
    "exact side exists for the oracle.",
    tags=("pipeline", "sketch"),
)
def pl_sketch_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.pipeline.sketches import approx_distinct_bounds

    return approx_distinct_bounds(
        spark.table("events"), "user_id", ["event_type"]
    ).orderBy("event_type")


@df_query(
    "pl_sketch_hll_merge",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS merged_within_bound,
           TRUE AS whole_within_bound,
           TRUE AS merge_drift_ok
    FROM events
    """,
    doc="Datasketches HLL mergeability contract: sketch two disjoint "
    "halves (event_id parity), union the binary sketches, and BOTH "
    "estimates must sit within 3% of exact with bounded merge drift "
    "(pipeline/sketches.py hll_merge_equivalence) — the property that "
    "turns a 100 TB distinct count into per-partition sketches plus "
    "one tiny merge. Exact merged==whole equality is deliberately not "
    "claimed: sparse-mode union promotion can shift the estimate "
    "(1488 vs 1499 on sf0.1 events; masked at sf0.01 — found by the "
    "multi-SF sweep).",
    tags=("pipeline", "sketch"),
)
def pl_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.pipeline.sketches import hll_merge_equivalence

    ev = spark.table("events")
    return hll_merge_equivalence(
        ev, "user_id", (F.col("event_id") % 2).alias("__h")
    )


@df_query(
    "pl_sketch_quantile_bounds",
    oracle="""
    SELECT p AS prob,
           (SELECT CAST(COUNT(value) AS BIGINT) FROM events) AS n_values,
           TRUE AS rank_ok
    FROM (VALUES (0.1), (0.5), (0.9), (0.99)) t(p)
    ORDER BY p
    """,
    doc="approx_percentile rank-error contract (Greenwald-Khanna, "
    "eps=0.01): each returned value's EXACT rank must lie within "
    "eps*n of its target rank (pipeline/sketches.py "
    "approx_quantile_bounds); interpolated exact values deliberately "
    "not output (cross-engine last-ulp).",
    tags=("pipeline", "sketch"),
)
def pl_sketch_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.pipeline.sketches import approx_quantile_bounds

    return approx_quantile_bounds(
        spark.table("events").where(F.col("value").isNotNull()),
        "value",
        [0.1, 0.5, 0.9, 0.99],
    ).orderBy("prob")


# ---------------------------------------------------------------------------
# Shard-export manifest (sources/shards.py) — grouped here with the
# other integrity-contract rows
# ---------------------------------------------------------------------------

def _shard_oracle(n_shards: int) -> str:
    from keenwa_spark.pipeline.hashing import duck_hash64

    key = duck_hash64("CAST(doc_id AS VARCHAR)")
    row = duck_hash64("concat(coalesce(CAST(text AS VARCHAR), ''))")
    return f"""
    WITH s AS (
      SELECT {key} % {n_shards} AS shard, {row} AS rh FROM documents
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh) AS BIGINT) AS checksum
    FROM s GROUP BY shard ORDER BY shard
    """


@df_query(
    "pl_shard_manifest",
    oracle=_shard_oracle(8),
    doc="Deterministic training-shard manifest: content-hash shard "
    "assignment (pure function of doc_id — re-export reproduces "
    "byte-identical membership) + per-shard row count and an "
    "order-independent summed row-hash checksum (sources/shards.py "
    "shard_manifest; write/verify faces tested in "
    "tests/test_sources.py). One hash exchange at export; the oracle "
    "replays the identical portable md5 arithmetic.",
    tags=("pipeline", "export"),
)
def pl_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.sources.shards import shard_manifest

    return shard_manifest(
        spark.table("documents"), "doc_id", ["text"], 8
    ).orderBy("shard")


@df_query(
    "pl_mixture_export_manifest",
    oracle="""
    WITH b AS (
      SELECT doc_id, text, source,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix0'), 1, 8))::BIGINT)
               % 1000000 AS bk
      FROM documents
    ),
    sampled AS (
      SELECT doc_id, text FROM b
      WHERE bk < (CASE WHEN source = 'src0' THEN 1000000
                       WHEN source = 'src1' THEN 600000
                       WHEN source = 'src2' THEN 200000
                       ELSE 50000 END)
    ),
    s AS (
      SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 8 AS shard,
             (('0x' || substr(md5(concat(coalesce(CAST(text AS VARCHAR), ''))), 1, 8))::BIGINT) AS rh
      FROM sampled
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh) AS BIGINT) AS checksum
    FROM s GROUP BY shard ORDER BY shard
    """,
    doc="END-TO-END mixture export: domain-mixture sampling (per-source "
    "deterministic Bernoulli recipe, one codegen CASE filter fused into "
    "the scan) feeding the content-hash shard manifest — the 'make the "
    "training mix and ship it verifiably' composition; both stages are "
    "the library operators (pipeline/sampling.py mixture_sample -> "
    "sources/shards.py shard_manifest) and the oracle replays the whole "
    "chain arithmetically.",
    tags=("pipeline", "sampling", "export"),
)
def pl_mixture_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.pipeline.sampling import mixture_sample
    from keenwa_spark.sources.shards import shard_manifest

    mixed = mixture_sample(
        spark.table("documents"),
        "source",
        {"src0": 1.0, "src1": 0.6, "src2": 0.2},
        key_col="doc_id",
        default_rate=0.05,
    )
    return shard_manifest(mixed, "doc_id", ["text"], 8).orderBy("shard")


def _duck_cms_sql(d: int = 4, w: int = 512, top_n: int = 15) -> str:
    """Exact DuckDB replay of the count-min sketch: same frozen affine
    counter indexes, so the sketch array — and therefore every
    ESTIMATE, overshoot included — matches Spark bit for bit."""
    from keenwa_spark.pipeline.sketches import _cms_pos

    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    build_arms = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_pos('h', j, w)} AS pos FROM hashed"
        for j in range(d)
    )
    query_arms = "\n      UNION ALL ".join(
        f"SELECT tok, true_cnt, {j} AS j, {_cms_pos('h', j, w)} AS pos "
        "FROM true_top"
        for j in range(d)
    )
    return f"""
    WITH toksf AS (
      SELECT tok FROM (
        SELECT unnest(string_split({norm}, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ),
    hashed AS (SELECT tok, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
               FROM toksf),
    arms AS (
      {build_arms}
    ),
    cms AS (SELECT j, pos, COUNT(*) AS cnt FROM arms GROUP BY 1, 2),
    tot AS (SELECT COUNT(*) AS n FROM toksf),
    true_top AS (
      SELECT tok, h, COUNT(*) AS true_cnt FROM hashed GROUP BY tok, h
      ORDER BY true_cnt DESC, tok LIMIT {top_n}
    ),
    qarms AS (
      {query_arms}
    ),
    est AS (
      SELECT tok, true_cnt, MIN(COALESCE(c.cnt, 0)) AS est_cnt
      FROM qarms q LEFT JOIN cms c USING (j, pos)
      GROUP BY tok, true_cnt
    )
    SELECT tok, true_cnt, est_cnt,
           est_cnt >= true_cnt AS over_ok,
           (est_cnt - true_cnt) <= (3 * (SELECT n FROM tot)) // {w}
             AS within_bound
    FROM est ORDER BY tok
    """


@df_query(
    "pl_cms_heavy_hitters",
    oracle=_duck_cms_sql(),
    doc="Count-min-sketch heavy hitters: corpus word stream folded into "
    "a 4x512 mergeable counter sketch (one agg, map-side partials, "
    "<= 2048 rows of state at ANY corpus size), then the exact top-15 "
    "tokens point-queried against it. Estimates are ONE-SIDED "
    "(over_ok: min-of-counters never undercounts) and bounded "
    "(within_bound: overshoot <= 3N/w). Counter indexes use the frozen "
    "md5-affine family (pipeline/hashing.py), so the DuckDB oracle "
    "replays the sketch — collisions, overshoot and all — exactly "
    "(pipeline/sketches.py cms_build/cms_estimate).",
    tags=("pipeline", "sketch"),
)
def pl_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.pipeline.dedup import normalized_text
    from keenwa_spark.pipeline.hashing import spark_hash64
    from keenwa_spark.pipeline.sketches import cms_build, cms_estimate

    d, w, top_n = 4, 512, 15
    docs = spark.table("documents")
    toks = docs.select(
        F.explode(F.split(F.expr(normalized_text("text")), " ")).alias("tok")
    ).where(F.col("tok") != "")
    hashed = toks.select("tok", F.expr(spark_hash64("tok")).alias("h"))
    sketch = cms_build(hashed.select("h"), "h", d=d, w=w)
    total = hashed.agg(F.count(F.lit(1)).alias("__n"))
    true_top = (
        hashed.groupBy("tok", "h")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
        .limit(top_n)
    )
    est = cms_estimate(
        true_top, sketch, "h", key_cols=("tok", "true_cnt"), d=d, w=w
    )
    return (
        est.crossJoin(total)
        .select(
            "tok",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("true_cnt")).alias("over_ok"),
            (
                F.col("est_cnt") - F.col("true_cnt")
                <= F.expr(f"(3 * __n) div {w}")
            ).alias("within_bound"),
        )
        .orderBy("tok")
    )
