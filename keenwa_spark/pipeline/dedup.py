"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All are pure DataFrame compositions of built-in functions — no Python
UDFs anywhere (the md5/array/lambda expressions run inside whole-stage
codegen on the JVM).

Scale design (the part that matters at 100 TB):
- exact dedup is one hash-partitioned groupBy on a 16-byte digest —
  the minimum possible shuffle for the problem;
- MinHash-LSH generates candidate pairs via BANDED BUCKET JOINS: docs
  are shuffled once by (band, bucket-key) and only same-bucket pairs
  are materialized. There is never an all-pairs crossJoin; the
  candidate count is data-dependent (near-dups), not O(n^2);
- the n-gram Jaccard operator is exact verification — at scale you run
  it ONLY on LSH candidate pairs (compose: lsh_pairs -> jaccard on
  pairs), never standalone on a full corpus. Standalone mode exists
  for small-corpus oracle checking;
- skewed buckets (a shingle shared by millions of docs — boilerplate
  headers) are the classic LSH failure; ``max_bucket`` caps bucket
  width, dropping degenerate buckets the way production dedup
  pipelines do (documented, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keenwa_spark.pipeline.hashing import MINHASH_AB, MINHASH_P, spark_hash64

#: normalize: lowercase, collapse whitespace runs, trim
_NORM = "trim(regexp_replace(lower({col}), '\\\\s+', ' '))"


def normalized_text(col: str) -> str:
    """Shared normalization expression (Spark SQL dialect)."""
    return _NORM.format(col=col)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (lowest id) per exact-normalized-content
    group. Single shuffle on the md5 digest; at 100 TB the digest
    groupBy is the smallest possible dedup shuffle (16 bytes/row vs
    full text)."""
    digest = F.expr(f"md5({normalized_text(text_col)})").alias("content_hash")
    return (
        df.select(F.col(id_col), digest, F.col(text_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )


def _shingles(text_col: str, n: int = 3) -> str:
    """Word n-gram shingles as a self-contained Spark SQL expression.

    Two perf-critical shapes (measured at sf0.1, n=4, ~253k grams):
    - grams are built by ELEMENT ACCESS (w[i], w[i+1], ...), never
      ``slice()`` — slice allocates a fresh array per gram position
      and cost 3.96s where element access costs 0.49s (8x);
    - the split word array is BOUND ONCE via an outer single-element
      ``transform(array(split(...)), w -> ...)`` lambda — naively
      inlining the split into the inner lambda body would re-split
      the text once per element access, since subexpression
      elimination does not reach inside lambda functions.

    Guarded for short docs: Spark's sequence(1, 0) DESCENDS ([1, 0]),
    so docs with < n words must short-circuit to an empty array."""
    norm = normalized_text(text_col)
    words = f"split({norm}, ' ')"
    elems = ", ".join(f"w[i + {j}]" for j in range(n))
    return (
        f"transform(array({words}), w -> "
        f"IF(size(w) >= {n}, "
        f"transform(sequence(0, size(w) - {n}), i -> concat_ws(' ', {elems})), "
        f"CAST(array() AS ARRAY<STRING>)))[0]"
    )


def _shingles_of_words(w: str, n: int) -> str:
    """Shingles from an ALREADY-STAGED word-array column ``w`` (same
    element-access shape as _shingles, no outer binding needed)."""
    elems = ", ".join(f"{w}[i + {j}]" for j in range(n))
    return (
        f"IF(size({w}) >= {n}, "
        f"transform(sequence(0, size({w}) - {n}), i -> concat_ws(' ', {elems})), "
        f"CAST(array() AS ARRAY<STRING>))"
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document MinHash signature: k=12 columns mh0..mh11.

    shingle -> md5-derived 32-bit hash -> k affine permutations -> MIN
    per doc. The whole signature is a PER-ROW PROJECTION: the shingle
    hashes are computed into an array once (behind a single-element
    Generate barrier — see the trap notes below), then each of the k
    mins is an ``array_min(transform(...))`` fold over it — no
    corpus-expanding explode, NO groupBy, ZERO shuffle. (Earlier
    rounds exploded to one row per shingle and aggregated back on
    doc_id — a corpus-sized shuffle that a per-row fold makes
    unnecessary; measured ~1.5x faster at sf0.1 and strictly better at
    100 TB, where the signature stage now pipelines into the scan.)

    Docs with fewer than ``n`` words have no shingles and are dropped,
    matching the explode formulation (no rows to aggregate) and the
    oracle's GROUP BY.

    Two traps this formulation dodges (both measured at sf0.1):
    - naive 12 separate ``array_min(transform(...))`` columns
      re-evaluate the md5 shingle-hash expression once PER COLUMN —
      Spark's subexpression elimination doesn't fire through
      lambda-bearing higher-order functions (measured ~5x slower). So
      the md5 hash array is MATERIALIZED once per row behind an
      ``explode(array(...))`` Generate barrier (CollapseProject does
      not merge through it), and the 12 mins then scan that cheap
      bigint array column;
    - the r12 shape computed all 12 mins in ONE ``aggregate`` fold
      whose accumulator was a 12-element array — but every fold step
      then allocates a fresh 12-array and re-boxes all 12 longs, and
      the fold lambda is interpreted (HOFs don't codegen). Re-measured
      r13 (sf0.1, best-of-3, noop sink): the fold costs 1.33s where
      hash-materialize + 12 ``array_min(transform(hs, affine))``
      passes cost 0.89s — each pass is 2 arithmetic ops per element
      with no per-step allocation, so 12 cheap passes beat one
      allocating pass. Results are bit-identical (same mins).
    """
    # stage the word array once so normalize+split isn't re-evaluated
    # inside both the guard and the transform
    words = df.select(
        F.col(id_col),
        F.expr(f"split({normalized_text(text_col)}, ' ')").alias("w"),
    ).filter(F.size("w") >= n)
    # element-access gram construction — see _shingles (slice() was 8x)
    shingles = _shingles_of_words("w", n)
    hashed = f"transform({shingles}, s -> {spark_hash64('s')})"
    sig = words.select(
        F.col(id_col),
        F.explode(F.expr(f"array({hashed})")).alias("hs"),
    )
    return sig.select(
        F.col(id_col),
        *[
            F.expr(
                f"array_min(transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
            ).alias(f"mh{j}")
            for j, (a, b) in enumerate(MINHASH_AB)
        ],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over the MinHash
    signature (k=12 split into ``bands`` bands of 3 rows).

    Docs agreeing on ALL rows of ANY band become a candidate pair.
    Implementation is the at-scale pattern: signature -> inline band
    explosion -> ONE shuffle on (band, bucket-key) -> per-bucket pair
    expansion with array lambdas -> distinct pairs. Buckets wider than
    ``max_bucket`` are dropped (degenerate-content guard; at 100 TB a
    single viral boilerplate bucket would otherwise produce billions
    of pairs — and it also bounds the collected member lists).
    """
    # ONE shuffle on (band, bkey): collect each bucket's members and
    # expand pairs inline with array lambdas. A bucket self-join would
    # re-execute the whole minhash pipeline for each side plus a window
    # shuffle for the size guard — measured 1.8s vs 1.5s (1.2x slower)
    # in isolation at sf0.1, best-of-3 (r4 probe; the r3 bench's
    # apparent 1.5x regression vs r2 was suite interference — this file
    # was byte-identical in both rounds). The max_bucket guard bounds
    # the collected list (that is exactly its job).
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    bucketed = _minhash_band_buckets(df, id_col, text_col, bands)
    return (
        bucketed.filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _minhash_band_buckets(
    df: DataFrame, id_col: str, text_col: str, bands: int
) -> DataFrame:
    """(band, bkey, ids) — every LSH bucket with its sorted member
    list, BEFORE the ``max_bucket`` cap filter. Shared by the pair
    generator and the skew instrumentation so both see the identical
    bucket population."""
    sig = minhash_signatures(df, id_col, text_col)
    rows_per_band = len(MINHASH_AB) // bands
    # ONE pass over the signature: explode an inline (band, key) array.
    # A union of per-band selects would re-execute the whole minhash
    # subtree once per band (Spark does no cross-branch CSE) — measured
    # 4x slower at sf0.1.
    band_structs = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = ", '-', ".join(f"CAST({c} AS STRING)" for c in cols)
        band_structs.append(f"struct({b} AS band, concat({key}) AS bkey)")
    buckets = sig.select(
        F.col(id_col),
        F.explode(F.expr(f"array({', '.join(band_structs)})")).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    return buckets.groupBy("band", "bkey").agg(
        F.sort_array(F.collect_set(F.col(id_col))).alias("ids")
    )


def minhash_bucket_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
) -> DataFrame:
    """Skew diagnostics for the LSH bucket population (r14, VERDICT r13
    item 8): one row (max_bucket_seen, n_buckets, n_over_default_cap)
    measured BEFORE ``minhash_lsh_pairs``'s viral-bucket cap, so the
    cap's headroom at growing scale is tracked instead of assumed.
    Untimed diagnostics — bench.py runs it after the suite and records
    the row in the bench detail."""
    b = _minhash_band_buckets(df, id_col, text_col, bands)
    return b.agg(
        F.max(F.size("ids")).alias("max_bucket_seen"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.size("ids") > 1000).cast("long")).alias("n_over_default_cap"),
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash fingerprint per document: token-multiset bit voting.

    Each word votes +1/-1 on each of ``bits`` bit positions according
    to its md5-derived hash; the fingerprint sets bit j iff the vote
    sum is positive. Near-dup docs differ in few bits (hamming).
    Single explode + groupBy(id) — one shuffle.
    """
    norm = normalized_text(text_col)
    words = df.select(
        F.col(id_col),
        F.explode(F.expr(f"split({norm}, ' ')")).alias("w"),
    ).select(id_col, F.expr(spark_hash64("w")).alias("h"))
    votes = [
        F.expr(f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)").alias(f"v{j}")
        for j in range(bits)
    ]
    per_doc = words.groupBy(id_col).agg(*votes)
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST(1 AS BIGINT) << {j} ELSE 0 END)" for j in range(bits)
    )
    return per_doc.select(F.col(id_col), F.expr(fp).alias("simhash"))


def _shingle_pair_stats(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Shared inverted-shingle-index scaffold for the exact pair
    scorers: distinct (id, shingle-digest) sets, per-doc set sizes,
    and the per-pair intersection counts — one shuffle on the digest,
    one pair aggregate, size join-backs. Returns (id_a, id_b, n_inter,
    size_a, size_b) with id_a < id_b; the caller applies its score."""
    shingle_sets = (
        df.select(
            F.col(id_col),
            F.explode(F.expr(_shingles(text_col, n))).alias("shingle"),
        )
        .select(id_col, F.expr(spark_hash64("shingle")).alias("sh"))
        .distinct()
    )
    sizes = shingle_sets.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = shingle_sets.select(F.col(id_col).alias("id_a"), "sh")
    b = shingle_sets.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")



def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs >= threshold, via an
    inverted shingle index (shingle -> docs join), never all-pairs.

    At 100 TB this runs on LSH candidate pairs only; standalone mode
    (here) is for verification at small scale. The intersection join
    shuffles on the shingle digest; pair counts then aggregate on
    (id_a, id_b).
    """
    return (
        _shingle_pair_stats(df, id_col, text_col, n)
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """The production near-dup path: banded-LSH candidate pairs
    VERIFIED by exact n-gram Jaccard, in one plan.

    LSH recall is probabilistic and its false positives are content
    pairs that merely share a signature band; this composition keeps
    only candidates whose true Jaccard clears ``threshold``. The
    verification is CANDIDATE-LOCAL for real: the corpus is first
    semi-filtered to the ids that appear in some candidate pair
    (a semi-join the planner sizes: broadcast while the candidate id
    set is under the threshold, a sort-merge join when it is not), and
    only those docs build their sorted distinct shingle-hash array,
    as a per-row projection behind the
    explode(array(...)) Generate barrier (same discipline as the
    minhash signature fold). The earlier corpus-wide
    explode+distinct+collect_list build cost two full-corpus shuffles
    for arrays mostly thrown away — measured 5.4s -> 3.0s at sf0.1,
    with the remaining cost dominated by candidate generation itself.
    The exact index join of the standalone ``ngram_jaccard_pairs`` is
    never built. At 100 TB the pair list is orders of magnitude
    smaller than the corpus, so both joins are cheap keyed lookups.

    Output: (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    # materialize the candidate list once: it feeds BOTH the id
    # semi-filter and the final pair joins, and recomputing the whole
    # minhash pipeline per consumer would double the dominant cost
    cands = (
        minhash_lsh_pairs(df, id_col, text_col, bands=bands, max_bucket=max_bucket)
        .select("id_a", "id_b")
        # lazy persist (not an eager localCheckpoint): construction
        # stays a pure transformation, the cache is lineage-recoverable
        # on executor loss, and within the single downstream action the
        # candidate job still runs once (the id semi-filter
        # materializes it before the final pair joins reuse it)
        .persist()
    )
    cand_ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    # verification is candidate-local for real: only docs that appear
    # in some candidate pair ever build a shingle-hash array. The
    # fold is wrapped in the explode(array(...)) Generate barrier
    # (same reason as minhash_signatures) so it is materialized once
    # per row, never re-inlined into each join probe / filter that
    # references it.
    hashed = f"transform({_shingles(text_col, n)}, s -> {spark_hash64('s')})"
    sets = (
        df.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.expr(f"array(array_sort(array_distinct({hashed})))")
            ).alias("hs"),
        )
        .filter(F.size("hs") > 0)
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("ha"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.size("ha") + F.size("hb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> DataFrame:
    """EXACT duplicated-substring statistics (the Lee et al. 2022
    "Deduplicating Training Data" primitive, word-granular): for every
    document, how much of it is covered by a ``width``-word span that
    occurs VERBATIM more than once in the corpus (cross-document OR
    repeated within the same document). Complementary to MinHash —
    near-dup scoring finds mostly-similar documents; this finds exact
    boilerplate/quotation spans inside otherwise-unique documents.

    Returns (id, n_words, dup_grams, covered_words, dup_fraction):
    ``dup_grams`` = duplicated ``width``-gram start positions,
    ``covered_words`` = size of the UNION of their [s, s+width-1] word
    intervals (equal-length intervals: union = width + Σ min(width,
    gap) over sorted starts, one lag window), ``dup_fraction`` =
    covered_words / n_words. NULL text => NULL n_words/fraction,
    zero counts.

    Scale shape: positions are generated JVM-side (sequence + slice +
    array_join, all codegen), the duplicate test is one
    partial-aggregated groupBy on the gram (map-side combine absorbs
    hot boilerplate grams — deliberately NOT a window over the gram,
    which would hash every occurrence of a hot gram onto one reducer),
    a left-semi join back (AQE skew-join handles Zipf grams), then one
    doc-keyed lag window + aggregate. At 100 TB group on
    ``xxhash64(gram)`` (or md5 for 128-bit) instead of the gram string
    to shrink the shuffle ~width*6 bytes -> 8 bytes per position.
    """
    words = f"split({normalized_text(text_col)}, ' ')"
    base = df.select(
        F.col(id_col),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("array<string>"))
        .otherwise(F.expr(words))
        .alias("__w"),
    ).withColumn(
        "n_words",
        F.when(F.col("__w").isNull(), F.lit(None)).otherwise(F.size("__w")).cast("bigint"),
    )
    grams = (
        base.filter(F.col("n_words") >= width)
        .select(
            F.col(id_col),
            F.col("__w"),
            F.explode(F.expr(f"sequence(1, n_words - {width} + 1)")).alias("start"),
        )
        .select(
            F.col(id_col),
            F.col("start"),
            F.expr(f"array_join(slice(__w, start, {width}), ' ')").alias("gram"),
        )
    )
    dup_grams = (
        grams.groupBy("gram").agg(F.count("*").alias("occ")).filter(F.col("occ") > 1)
    )
    dup_pos = grams.join(dup_grams.select("gram"), "gram", "left_semi")
    w_doc = Window.partitionBy(id_col).orderBy("start")
    cov = (
        dup_pos.withColumn("gap", F.col("start") - F.lag("start").over(w_doc))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("dup_grams"),
            F.sum(
                F.when(F.col("gap").isNull(), F.lit(width)).otherwise(
                    F.least(F.lit(width), F.col("gap"))
                )
            )
            .cast("bigint")
            .alias("covered_words"),
        )
    )
    return (
        base.select(id_col, "n_words")
        .join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_words"),
            F.coalesce("dup_grams", F.lit(0)).cast("bigint").alias("dup_grams"),
            F.coalesce("covered_words", F.lit(0)).cast("bigint").alias("covered_words"),
            (
                F.coalesce("covered_words", F.lit(0)).cast("double") / F.col("n_words")
            ).alias("dup_fraction"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs: containment(A in B) =
    |A ∩ B| / |A| — the asymmetric cousin of Jaccard that catches
    SUBSET duplication (a short doc quoted whole inside a long one, a
    page embedded in a crawl aggregate), which Jaccard misses because
    the union is dominated by the longer side. Emits (id_a, id_b,
    a < b) pairs where EITHER direction reaches ``threshold``, with
    both directional scores.

    Same inverted-shingle-index plan as ``ngram_jaccard_pairs`` (one
    shuffle on the shingle digest, pair aggregate, size join-back);
    at 100 TB run it on LSH candidates only, same caveat.
    """
    return (
        _shingle_pair_stats(df, id_col, text_col, n)
        .withColumn("a_in_b", F.col("n_inter") / F.col("size_a"))
        .withColumn("b_in_a", F.col("n_inter") / F.col("size_b"))
        .filter(F.greatest("a_in_b", "b_in_a") >= threshold)
        .select("id_a", "id_b", "a_in_b", "b_in_a")
    )
