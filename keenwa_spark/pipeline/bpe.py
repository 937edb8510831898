"""BPE (byte-pair-encoding) merge learning over a distributed corpus —
the tokenizer-training primitive (Sennrich et al. 2016): repeatedly
find the most frequent adjacent symbol pair and fuse it into a new
vocabulary symbol.

The classic scale trick is kept: merges are learned on the WORD
FREQUENCY table (distinct word + corpus count), not the raw token
stream — the iteration state is vocabulary-sized no matter how big the
corpus is. At 100 TB the one corpus-sized job is the initial word
count; every merge round is an aggregation over the (tiny) vocab table
plus a 1-row argmax.

Representation: a word's current segmentation is a pipe-delimited
symbol string (``cat`` -> ``|c|a|t|``). Merging pair (l, r) is a
string replace of ``|l|r|`` -> ``|lr|``, applied a FIXED number of
passes (one replace pass fuses alternating occurrences of an
identical-symbol run, so ``passes`` passes converge for runs up to
2^passes symbols — and both engines run the same pass count, so
results agree even on pathological longer runs). Non-overlapping
distinct-symbol matches fuse in the first pass, which reproduces the
standard greedy left-to-right BPE merge.

Determinism: candidate argmax is (count DESC, left ASC, right ASC);
words are restricted to ^[a-z]+$ so symbols never collide with the
pipe delimiter or SQL quoting. Every count is an exact integer, so an
independent engine replays the full training loop (the registry
oracle does — a chained CTE per round).

Driver state per round: ONE collected row (the argmax pair) — the
same bounded-by-construction pattern as the ANN model fits
(pipeline/ivf.py, pq.py).

Beyond-reference surface (the reference optimizer plans SELECTs only;
SURVEY.md §2 additive-pipeline mandate).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from keenwa_spark.litdf import local_df
from keenwa_spark.pipeline.dedup import normalized_text

#: replace passes per merge round (converges runs up to 2^7 symbols)
MERGE_PASSES = 7


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): corpus word-frequency table, lowercase-alpha words
    only. The single corpus-sized aggregation of BPE training."""
    return (
        docs.select(
            F.explode(
                F.split(F.expr(normalized_text(text_col)), " ")
            ).alias("word")
        )
        .where(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_encoding(freqs: DataFrame) -> DataFrame:
    """(enc, cnt): character-level segmentation ``|c|a|t|``."""
    return freqs.select(
        F.concat(
            F.regexp_replace(F.col("word"), "(.)", r"|$1"), F.lit("|")
        ).alias("enc"),
        "cnt",
    )


def _pair_counts(enc: DataFrame) -> DataFrame:
    """(l, r, n): adjacent-symbol pair counts, weighted by word
    frequency, one row per adjacency occurrence before the agg."""
    syms = "filter(split(enc, '[|]'), x -> x <> '')"
    pairs = (
        f"transform(sequence(0, size({syms}) - 2), "
        f"i -> named_struct('l', {syms}[i], 'r', {syms}[i + 1]))"
    )
    return (
        enc.where(F.expr(f"size({syms}) >= 2"))
        .select(F.explode(F.expr(pairs)).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("n"))
    )


def _merge(enc: DataFrame, left: str, right: str) -> DataFrame:
    """Fuse pair (left, right) in every word: fixed-pass ``|l|r|`` ->
    ``|lr|`` replace (symbols are ^[a-z]+$ — safe as SQL literals)."""
    expr = "enc"
    for _ in range(MERGE_PASSES):
        expr = f"replace({expr}, '|{left}|{right}|', '|{left}{right}|')"
    return enc.select(F.expr(expr).alias("enc"), "cnt")


def bpe_train(
    docs: DataFrame, rounds: int = 4, text_col: str = "text"
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``rounds`` BPE merges; returns
    [(round, left, right, merged, pair_count), ...]. Stops early if no
    pair remains."""
    enc = _initial_encoding(word_freqs(docs, text_col)).localCheckpoint(
        eager=False
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        best = (
            _pair_counts(enc)
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((rnd, l, r, l + r, n))
        # checkpoint the re-encoded vocab: keeps the lineage flat
        # across rounds (vocab-sized — cheap)
        enc = _merge(enc, l, r).localCheckpoint(eager=False)
    return merges


def bpe_merge_table(
    docs: DataFrame, rounds: int = 4, text_col: str = "text"
) -> DataFrame:
    """The learned merge list as a DataFrame:
    (round, left_sym, right_sym, merged, pair_count)."""
    rows = bpe_train(docs, rounds=rounds, text_col=text_col)
    return local_df(
        docs.sparkSession,
        rows,
        "round INT, left_sym STRING, right_sym STRING, "
        "merged STRING, pair_count BIGINT",
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned merges (in order) to every word of every doc: the
    tokenizer-APPLICATION side of BPE. Output per doc: ``n_words``
    (alpha words), ``n_chars`` (pre-merge symbols = characters) and
    ``n_tokens`` (post-merge symbols) — n_chars/n_tokens is the
    compression the learned vocabulary buys.

    Pure codegen projection per word (the same fixed-pass replace
    chain as training) + one doc aggregation: the corpus is scanned
    once and never joins. Docs with no alpha words are absent."""
    for left, right in merges:
        if not (re.fullmatch(r"[a-z]+", left) and re.fullmatch(r"[a-z]+", right)):
            raise ValueError(
                f"merge symbols must match ^[a-z]+$ (got {(left, right)!r}) — "
                "they are interpolated into SQL literals"
            )
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.expr(normalized_text(text_col)), " ")
        ).alias("word"),
    ).where(F.col("word").rlike("^[a-z]+$"))
    enc = "concat(regexp_replace(word, '(.)', '|$1'), '|')"
    for left, right in merges:
        for _ in range(MERGE_PASSES):
            enc = f"replace({enc}, '|{left}|{right}|', '|{left}{right}|')"
    syms = f"size(filter(split({enc}, '[|]'), x -> x <> ''))"
    return (
        toks.select(
            F.col(id_col),
            F.length("word").alias("nc"),
            F.expr(syms).alias("nt"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nc").alias("n_chars"),
            F.sum("nt").alias("n_tokens"),
        )
    )
