"""Distributed Bloom-filter membership: build a compact bitset over a
key set, probe a corpus against it with zero false negatives.

The classic use in an LLM-data pipeline is decontamination / blocklist
probing where the reference set is too big to broadcast as raw hashes
but a fixed-size bitmap is fine: a 2^33-bit filter (1 GiB) summarizes
~10^9 benchmark n-grams at ~2% false-positive rate, while the exact
hash set would be 8 GB+. The filter is the *persistable artifact*; the
corpus-side probe is a pure projection.

Scale design (100 TB corpus, bounded reference set):
- BUILD is one aggregation: explode each key hash into its k bit
  positions, group positions into 32-bit words, ``bit_or`` the word
  values. Word rows are MERGEABLE (bit_or is associative/commutative),
  so partial aggregation happens map-side and incremental daily builds
  merge by re-aggregating word rows — same contract as the sketch
  family (pipeline/sketches.py).
- PROBE has two physical shapes:
  * ``bloom_probe_dense``: the filter is materialized as a dense
    INT32-word array literal (bounded by construction — m_bits is a
    design-time constant; 2^20 bits = 32k words) and membership is a
    single codegen ``forall`` over the k positions. Zero joins, zero
    extra shuffles — the corpus is scanned once.
  * ``bloom_probe_join``: pure DataFrame join on word index (the
    filter side is tiny -> broadcast). No driver materialization at
    all; the shape to use when m_bits is huge (>= 2^27).
- False-positive behavior is DETERMINISTIC: hashes are the frozen
  md5-affine family (pipeline/hashing.py), so the same inputs produce
  the same filter and the same FP set on every engine — which is what
  lets a DuckDB oracle replay membership EXACTLY, FPs included.

Bits are packed into 32-bit words stored as BIGINT (top 32 bits zero)
so ``1 << bit`` never touches the sign bit in either engine.

Beyond-reference surface (the reference optimizer has no executor and
no sketches; SURVEY.md §2 note on additive pipeline operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keenwa_spark.pipeline.dedup import _shingles
from keenwa_spark.pipeline.hashing import MINHASH_AB, MINHASH_P, spark_hash64

#: bits per packed word (BIGINT-stored, sign bit never used)
WORD_BITS = 32


def _position_exprs(h: str, m_bits: int, k: int) -> list[str]:
    """The k bit positions of hash ``h`` — shared Spark/DuckDB dialect
    (integer-only arithmetic, a_j < 2^30 so a*h < 2^62: no overflow)."""
    if not (m_bits and (m_bits & (m_bits - 1)) == 0):
        raise ValueError(f"m_bits must be a power of two, got {m_bits}")
    if k > len(MINHASH_AB):
        raise ValueError(f"k={k} exceeds the frozen hash family ({len(MINHASH_AB)})")
    return [
        f"((({a} * {h} + {b}) % {MINHASH_P}) % {m_bits})"
        for a, b in MINHASH_AB[:k]
    ]


def bloom_build(
    hashes: DataFrame, m_bits: int = 4096, k: int = 4, hash_col: str = "h"
) -> DataFrame:
    """(word_idx, word_val): the set bits of the filter, packed into
    32-bit words. One explode (x k) + one mergeable bit_or aggregation."""
    pos = ",".join(_position_exprs(hash_col, m_bits, k))
    return (
        hashes.select(F.explode(F.expr(f"array({pos})")).alias("pos"))
        .groupBy(F.expr(f"CAST(pos div {WORD_BITS} AS INT)").alias("word_idx"))
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {WORD_BITS} AS INT)))"
            ).alias("word_val")
        )
    )


def bloom_dense_words(bloom: DataFrame, m_bits: int) -> list[int]:
    """Densify the word rows into a full-length word list (driver-side;
    bounded by construction — m_bits is a design-time constant)."""
    n_words = m_bits // WORD_BITS
    words = [0] * n_words
    for row in bloom.collect():
        words[row["word_idx"]] = row["word_val"]
    return words


def bloom_probe_dense(
    probes: DataFrame,
    words: list[int],
    m_bits: int,
    k: int = 4,
    hash_col: str = "h",
    out_col: str = "member",
) -> DataFrame:
    """Adds ``out_col``: membership as a single codegen projection over
    a broadcast dense word array. Zero joins; the probe side is
    scanned once and never shuffled.

    Three measured pitfalls shape the construction (the ``bloom``
    family of tools/scale_probe.py, m=2^20, 500k docs):
    - an ``array(lit, lit, ...)`` of m/32 elements costs ~8s of fixed
      expression-tree/plan time per query (and PySpark's ``F.lit(list)``
      desugars to exactly that — it is NOT one Literal node);
    - routing the array through a ``withColumn`` materializes 256 KB
      into every row buffer (measured 137s vs 17s end to end);
    - the fix is ONE BinaryType Literal (a single py4j bytes object):
      bits packed little-endian so bit p lives at byte p//8, probed
      with byte-indexed ``substring`` (O(1) on binary, unlike the
      char-scanning string substring) + hex/conv — all codegen,
      constant per row. Measured: 1x 8.4s -> 1.5s, 100x 17-137s
      (array variants) -> 5.8s."""
    bits = b"".join(int(w).to_bytes(WORD_BITS // 8, "little") for w in words)
    blit = F.lit(bytearray(bits))
    member = None
    for p in _position_exprs(hash_col, m_bits, k):
        byte = F.call_function(
            "substring", blit, F.expr(f"CAST({p} div 8 AS INT) + 1"), F.lit(1)
        )
        val = F.call_function(
            "conv", F.hex(byte), F.lit(16), F.lit(10)
        ).cast("int")
        chk = (
            F.call_function(
                "shiftright", val, F.expr(f"CAST({p} % 8 AS INT)")
            ).bitwiseAND(F.lit(1))
            == 1
        )
        member = chk if member is None else member & chk
    return probes.withColumn(out_col, member)


def bloom_probe_join(
    probes: DataFrame,
    bloom: DataFrame,
    m_bits: int,
    k: int = 4,
    hash_col: str = "h",
    key_cols: tuple[str, ...] = ("h",),
    out_col: str = "member",
) -> DataFrame:
    """Join-shaped probe: no driver materialization of the filter.
    Explodes each probe row into its k positions, broadcast-joins the
    word rows, and folds back with bool_and. ``key_cols`` must uniquely
    identify probe rows. One extra shuffle (the fold-back groupBy)."""
    pos = ",".join(_position_exprs(hash_col, m_bits, k))
    exploded = probes.select(
        *key_cols, F.explode(F.expr(f"array({pos})")).alias("pos")
    ).withColumn("word_idx", F.expr(f"CAST(pos div {WORD_BITS} AS INT)"))
    joined = exploded.join(bloom, "word_idx", "left")
    set_bit = F.expr(
        f"word_val IS NOT NULL AND "
        f"(shiftright(word_val, CAST(pos % {WORD_BITS} AS INT)) & 1) = 1"
    )
    return (
        joined.withColumn("__set", set_bit)
        .groupBy(*key_cols)
        .agg(F.expr("bool_and(__set)").alias(out_col))
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    m_bits: int = 4096,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filtered decontamination: per training doc, how many of
    its distinct word-n-grams hit a Bloom filter built over the
    benchmark set's n-grams.

    Guarantees vs the exact join (pipeline/decontaminate.py): zero
    false NEGATIVES (every truly-overlapping n-gram is flagged), a
    deterministic false-positive set fixed by (m_bits, k) and the
    frozen hash family. n_flagged >= n_hits(exact) always holds.

    Plan: benchmark -> one bit_or agg (tiny); docs -> shingle/hash
    projection -> dense-probe projection -> ONE doc_id aggregation.
    The corpus never joins and never shuffles on text.
    """
    # NO cross-doc .distinct() on the benchmark hashes (r14, guide
    # §2.4): bit_or absorbs duplicate grams, and the word aggregation's
    # MAP-SIDE partial agg already collapses every partition to <=
    # m_bits/32 rows — a distinct would add the build side's only
    # data-sized shuffle purely to dedupe rows the next operator
    # dedupes for free. Filter words are bit-identical (measured, and
    # the oracle replays them exactly); interleaved best-of-9 at sf0.1:
    # 1.16 -> 0.96s end to end.
    bench_hashes = benchmark.select(
        F.explode(
            F.expr(
                f"array_distinct(transform({_shingles(text_col, n)}, "
                f"s -> {spark_hash64('s')}))"
            )
        ).alias("h")
    )
    words = bloom_dense_words(
        bloom_build(bench_hashes, m_bits=m_bits, k=k), m_bits
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"array_distinct(transform({_shingles(text_col, n)}, "
                f"s -> {spark_hash64('s')}))"
            )
        ).alias("h"),
    )
    probed = bloom_probe_dense(doc_grams, words, m_bits=m_bits, k=k)
    return (
        probed.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count_if(F.col("member")).alias("n_flagged"),
        )
        .withColumn("contaminated", F.col("n_flagged") >= 1)
    )
