"""Seeded cross-engine fuzzer for the DEDUP family (round 10,
session 2): exact_dedup / ngram_jaccard_pairs / minhash_signatures /
minhash_lsh_pairs (pipeline/dedup.py) on random corpora with injected
duplicates, near-duplicates, and cosmetic noise.

What randomized instances add over the documents-table hand oracles:
- normalization parity under adversarial cosmetic noise (case flips,
  doubled/leading/trailing whitespace) — the Spark normalize regex and
  the DuckDB one must agree on every generated string;
- the exact-Jaccard oracle is the QUADRATIC string-level all-pairs
  definition (shingle strings, never hashes) — a structurally
  different algorithm from Spark's inverted hash index, so a
  hash-collision or set-arithmetic bug would surface as a mismatch;
- random shingle widths and thresholds, including boundary-exact
  Jaccard values (ratios of small ints — bit-identical doubles);
- random band geometry for LSH (2/3/4/6 bands over the k=12
  signature) and TINY ``max_bucket`` caps, exercising the viral-bucket
  guard (the production skew valve) against an oracle that applies the
  same cap via a window count.

Deterministic by seed. Used by tools/fuzz.py dedup (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df
from keenwa_spark.pipeline.hashing import MINHASH_AB, MINHASH_P, duck_hash64

_VOCAB = ["alpha", "bravo", "cat", "dog", "echo", "fox", "gold", "hat"]

_D_NORM = "trim(regexp_replace(lower(txt), '\\s+', ' ', 'g'))"
_D_WORDS = f"string_split({_D_NORM}, ' ')"


def _docs_sql(docs: list[tuple[int, str]]) -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    return (
        "(SELECT CAST(id AS BIGINT) AS id, CAST(txt AS VARCHAR) AS txt "
        f"FROM (VALUES {vals}) AS v(id, txt))"
    )


def _duck_shingles(n: int) -> str:
    """DuckDB word-n-gram list over the word array ``w`` (1-based
    inclusive slices)."""
    return (
        f"CASE WHEN len(w) >= {n} "
        f"THEN [array_to_string(w[i:i+{n - 1}], ' ') "
        f"for i in range(1, len(w) - {n - 2})] "
        "ELSE [] END"
    )


class DedupGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def _corpus(self) -> list[tuple[int, str]]:
        rng = self.rng
        n = rng.randint(2, 24)
        docs: list[tuple[int, str]] = []
        for i in range(n):
            if docs and rng.random() < 0.35:
                # duplicate or 1-word-mutated near-duplicate
                words = rng.choice(docs)[1].split(" ")
                if rng.random() < 0.5 and words and words[0]:
                    words = list(words)
                    words[rng.randrange(len(words))] = rng.choice(_VOCAB)
                text = " ".join(words)
            else:
                text = " ".join(
                    rng.choice(_VOCAB) for _ in range(rng.randint(0, 12))
                )
            docs.append((i, text))
        noisy = []
        for i, t in docs:
            if rng.random() < 0.3:
                t = t.upper() if rng.random() < 0.5 else t.title()
            if rng.random() < 0.3:
                t = t.replace(" ", "  ", 1)
            if rng.random() < 0.2:
                t = " " + t + " "
            noisy.append((i, t))
        return noisy

    def case(self) -> OracleCase:
        return self.rng.choice(
            [self._exact, self._jaccard, self._minhash, self._lsh]
        )()

    def _exact(self) -> OracleCase:
        docs = self._corpus()

        def spark_build(spark, docs=docs):
            from keenwa_spark.pipeline.dedup import exact_dedup

            df = values_df(spark, docs, ["id", "txt"])
            return exact_dedup(df, text_col="txt", id_col="id")

        oracle = f"""
    SELECT md5({_D_NORM}) AS content_hash, MIN(id) AS id,
           COUNT(*) AS n_copies
    FROM {_docs_sql(docs)} GROUP BY 1
    """
        return OracleCase("exact", spark_build, oracle)

    def _jaccard(self) -> OracleCase:
        docs = self._corpus()
        n = self.rng.choice([2, 3])
        threshold = self.rng.choice([0.25, 0.5, 0.75])

        def spark_build(spark, docs=docs, n=n, threshold=threshold):
            from keenwa_spark.pipeline.dedup import ngram_jaccard_pairs

            return ngram_jaccard_pairs(
                values_df(spark, docs, ["id", "txt"]),
                id_col="id",
                text_col="txt",
                n=n,
                threshold=threshold,
            )

        # quadratic STRING-level all-pairs definition — a structurally
        # different algorithm from the inverted hash index
        oracle = f"""
    WITH sets AS (
      SELECT id, unnest(list_distinct({_duck_shingles(n)})) AS s
      FROM (SELECT id, {_D_WORDS} AS w FROM {_docs_sql(docs)})
    ),
    sz AS (SELECT id, COUNT(*) AS size FROM sets GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM sets a JOIN sets b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE)
             / (sa.size + sb.size - n_inter) AS jaccard
    FROM inter
    JOIN sz sa ON id_a = sa.id JOIN sz sb ON id_b = sb.id
    WHERE CAST(n_inter AS DOUBLE) / (sa.size + sb.size - n_inter)
          >= {threshold}
    """
        return OracleCase(f"jaccard_n{n}", spark_build, oracle)

    def _minhash(self) -> OracleCase:
        docs = self._corpus()

        def spark_build(spark, docs=docs):
            from keenwa_spark.pipeline.dedup import minhash_signatures

            return minhash_signatures(
                values_df(spark, docs, ["id", "txt"]), id_col="id", text_col="txt", n=3
            )

        mins = ", ".join(
            f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{j}"
            for j, (a, b) in enumerate(MINHASH_AB)
        )
        oracle = f"""
    WITH hashed AS (
      SELECT id, {duck_hash64('s')} AS h FROM (
        SELECT id, unnest({_duck_shingles(3)}) AS s
        FROM (SELECT id, {_D_WORDS} AS w FROM {_docs_sql(docs)})
      )
    )
    SELECT id, {mins} FROM hashed GROUP BY id
    """
        return OracleCase("minhash", spark_build, oracle)

    def _lsh(self) -> OracleCase:
        docs = self._corpus()
        bands = self.rng.choice([2, 3, 4, 6])
        max_bucket = self.rng.choice([2, 5, 1000])
        rows_per_band = len(MINHASH_AB) // bands

        def spark_build(spark, docs=docs, bands=bands, max_bucket=max_bucket):
            from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

            return minhash_lsh_pairs(
                values_df(spark, docs, ["id", "txt"]),
                id_col="id",
                text_col="txt",
                bands=bands,
                max_bucket=max_bucket,
            )

        mins = ", ".join(
            f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{j}"
            for j, (a, b) in enumerate(MINHASH_AB)
        )
        band_selects = []
        for b in range(bands):
            cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
            key = " || '-' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            band_selects.append(f"SELECT id, {b} AS band, {key} AS bkey FROM sig")
        bands_union = "\n      UNION ALL\n      ".join(band_selects)
        oracle = f"""
    WITH hashed AS (
      SELECT id, {duck_hash64('s')} AS h FROM (
        SELECT id, unnest({_duck_shingles(3)}) AS s
        FROM (SELECT id, {_D_WORDS} AS w FROM {_docs_sql(docs)})
      )
    ),
    sig AS (SELECT id, {mins} FROM hashed GROUP BY id),
    buckets AS (
      {bands_union}
    ),
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY band, bkey) AS bucket_n
      FROM buckets
    ),
    ok_buckets AS (SELECT * FROM sized WHERE bucket_n <= {max_bucket})
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM ok_buckets a JOIN ok_buckets b
      ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
    """
        return OracleCase(f"lsh_b{bands}_cap{max_bucket}", spark_build, oracle)
