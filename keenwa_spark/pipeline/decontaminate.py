"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard LLM-training hygiene step (cf. GPT-3 appendix C / PaLM /
Llama decontamination): an eval example "leaks" into training if a
training doc contains any long-enough n-gram from the eval set. This
module computes, per training doc, how many distinct benchmark n-grams
it contains, and a contaminated flag.

Scale design (100 TB training corpus, MB-GB benchmark side):
- The benchmark side reduces to DISTINCT 8-byte n-gram hashes —
  millions of rows at most. The planner broadcasts it while it is
  under the threshold, so the training corpus is scanned once and
  never shuffled on text; above it the join falls back to a
  sort-merge join instead of failing.
- Doc text never leaves the JVM: shingling/hashing is codegen
  (split + transform + md5-derived hash, same frozen constants as the
  dedup family — pipeline/hashing.py).
- The only shuffle is the per-doc aggregate of (doc_id, hash) pairs,
  with partial (map-side) distinct aggregation.
- Hash note: matching is on 64-bit content hashes, not strings —
  a false match needs a 64-bit collision between a doc n-gram and a
  benchmark n-gram (~1e-10 at 1e4x1e9 scale); accepted to keep the
  broadcast side 8 bytes/row.

Docs with fewer than ``n`` words have no n-grams and are absent from
the output (vacuously clean).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keenwa_spark.pipeline.dedup import _shingles
from keenwa_spark.pipeline.hashing import spark_hash64


def _ngram_hashes(df: DataFrame, n: int, text_col: str, extra: list[str]) -> DataFrame:
    """(extra..., h) — one row per word-n-gram occurrence."""
    return df.select(
        *extra, F.explode(F.expr(_shingles(text_col, n))).alias("__s")
    ).select(*extra, F.expr(spark_hash64("__s")).alias("h"))


def benchmark_ngram_hashes(
    benchmark: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """DISTINCT n-gram hashes of the benchmark set — the compact
    persistable contamination index (8 bytes per distinct n-gram)."""
    return _ngram_hashes(benchmark, n, text_col, []).distinct()


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per training doc: ``n_ngrams`` (distinct n-grams), ``n_hits``
    (distinct n-grams also present in ``benchmark``), and
    ``contaminated`` (n_hits >= min_hits).

    Compose downstream as
    ``docs.join(result.where("contaminated"), id_col, "left_anti")``
    to drop flagged docs.
    """
    bench = benchmark_ngram_hashes(benchmark, n=n, text_col=text_col).withColumn(
        "__hit", F.lit(1)
    )
    # per-doc DISTINCT n-gram hashes as a per-row projection, exploded:
    # dedup happens in the projection (array_distinct), so the join
    # input carries one row per (doc, distinct n-gram) — smaller than
    # the per-occurrence explode — and the aggregate needs NO DISTINCT
    # (a pair of count_distincts would plan an Expand that doubles
    # every row through the shuffle; measured 4.6s -> 2.9s at sf0.1)
    hashed = f"transform({_shingles(text_col, n)}, s -> {spark_hash64('s')})"
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.expr(f"array_distinct({hashed})")).alias("h"),
    )
    return (
        doc_grams.join(bench, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count("__hit").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate (fuzzy) decontamination: flag training docs whose
    MinHash signature agrees with ANY benchmark doc's signature on at
    least one LSH band — catching paraphrased/lightly-edited benchmark
    leakage that exact n-gram matching (``decontaminate``) misses.

    Scale shape mirrors the exact variant: the benchmark side reduces
    to DISTINCT (band, key) rows — k/bands strings per eval doc — that
    the planner broadcasts while under the threshold; the corpus side
    is the zero-shuffle signature projection (dedup.minhash_signatures)
    plus an inline band explosion, so corpus text never shuffles and
    the only shuffle is the per-doc hit count. Output: (id, n_band_hits, contaminated);
    docs with fewer words than a shingle are absent (vacuously clean),
    as in the exact variant.
    """
    from keenwa_spark.pipeline.dedup import minhash_signatures
    from keenwa_spark.pipeline.hashing import MINHASH_AB

    if len(MINHASH_AB) % bands:
        raise ValueError(f"bands={bands} must divide k={len(MINHASH_AB)}")
    rows_per_band = len(MINHASH_AB) // bands

    def band_rows(df: DataFrame) -> DataFrame:
        sig = minhash_signatures(df, id_col, text_col)
        structs = []
        for b in range(bands):
            cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
            key = ", '-', ".join(f"CAST({c} AS STRING)" for c in cols)
            structs.append(f"struct({b} AS band, concat({key}) AS bkey)")
        return sig.select(
            F.col(id_col),
            F.explode(F.expr(f"array({', '.join(structs)})")).alias("bb"),
        ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))

    eval_keys = (
        band_rows(benchmark).select("band", "bkey").distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        band_rows(docs)
        .join(eval_keys, ["band", "bkey"], "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias("n_band_hits"))
        .withColumn("contaminated", F.col("n_band_hits") >= 1)
    )
