"""Seeded cross-engine fuzzer for the TEXT-MODEL operators (round 10,
session 2): BPE merge learning (pipeline/bpe.py), the token-vote
classifier (pipeline/classify.py), and hashing-trick feature vectors
(pipeline/features.py) vs DuckDB oracles on random corpora.

What randomized instances exercise that the hand oracles can't:
- BPE on TIE-HEAVY corpora (tiny {a,b,c} alphabet words): long
  (count DESC, left ASC, right ASC) tie-break chains, identical-symbol
  runs, early exhaustion (fewer pairs than rounds), and the fixed-pass
  merge-replace convergence — the oracle replays the whole training
  loop per case, argmax included;
- the classifier under vote ties, out-of-vocabulary test docs (NULL
  abstains through null-safe equality), label-skewed training slices,
  and empty train or test sides;
- feature hashing across dims {4, 8, 16, 64} — sign cancellation must
  agree bucket by bucket (a doc whose tokens cancel to 0 must drop
  from the long form on BOTH engines).

Corpora come from the dedup fuzzer's generator (same cosmetic-noise
model); labels are attached per doc. Deterministic by seed. Used by
tools/fuzz.py text (wide sweeps) and tests/test_fuzz.py (pinned-seed
corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df
from keenwa_spark.dedup_fuzz import _D_NORM, DedupGen, _docs_sql
from keenwa_spark.pipeline.hashing import duck_hash64


def _labeled_sql(docs, labels) -> str:
    vals = ", ".join(
        f"({i}, '{lab}', '{t}')" for (i, t), lab in zip(docs, labels)
    )
    return (
        "(SELECT CAST(id AS BIGINT) AS id, CAST(lab AS VARCHAR) AS lab, "
        f"CAST(txt AS VARCHAR) AS txt FROM (VALUES {vals}) AS v(id, lab, txt))"
    )


class TextGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self._corpora = DedupGen(seed)

    def _tie_heavy_corpus(self) -> list[tuple[int, str]]:
        """Words over a tiny alphabet: maximal pair-count ties."""
        rng = self.rng
        return [
            (
                i,
                " ".join(
                    "".join(
                        rng.choice("abc") for _ in range(rng.randint(1, 5))
                    )
                    for _ in range(rng.randint(0, 8))
                ),
            )
            for i in range(rng.randint(1, 12))
        ]

    def case(self) -> OracleCase:
        return self.rng.choice([self._bpe, self._vote, self._fhash])()

    def _bpe(self) -> OracleCase:
        docs = self._tie_heavy_corpus()
        rounds = self.rng.randint(1, 3)

        def spark_build(spark, docs=docs, rounds=rounds):
            from keenwa_spark.pipeline.bpe import bpe_merge_table

            return bpe_merge_table(
                values_df(spark, docs, ["id", "txt"]), rounds=rounds, text_col="txt"
            )

        from keenwa_spark.queries.pipeline import _duck_bpe_ctes

        arms = "\n      UNION ALL ".join(
            f"SELECT {r} AS round, l AS left_sym, r AS right_sym, "
            f"l || r AS merged, CAST(n AS BIGINT) AS pair_count FROM best{r}"
            for r in range(1, rounds + 1)
        )
        oracle = (
            _duck_bpe_ctes(rounds, source=_docs_sql(docs), text_col="txt")
            + f"\n    SELECT * FROM (\n      {arms}\n    ) ORDER BY round"
        )
        return OracleCase(f"bpe_r{rounds}", spark_build, oracle)

    def _vote(self) -> OracleCase:
        docs = self._corpora._corpus()
        labels = [self.rng.choice(["x", "y", "z"]) for _ in docs]
        mod = self.rng.choice([2, 3, 5])

        def spark_build(spark, docs=docs, labels=labels, mod=mod):
            from pyspark.sql import functions as F

            from keenwa_spark.pipeline.classify import classify_eval

            rows = [(i, lab, t) for (i, t), lab in zip(docs, labels)]
            df = values_df(spark, rows, ["id", "lab", "txt"])
            return classify_eval(
                df,
                F.col("id") % mod != 0,
                label_col="lab",
                text_col="txt",
                id_col="id",
            )

        oracle = f"""
    WITH tokf AS (
      SELECT id, lab, tok FROM (
        SELECT id, lab, unnest(string_split({_D_NORM}, ' ')) AS tok
        FROM {_labeled_sql(docs, labels)}
      ) WHERE tok <> ''
    ),
    counts AS (
      SELECT tok, lab, COUNT(*) AS n FROM tokf
      WHERE id % {mod} <> 0 GROUP BY 1, 2
    ),
    model AS (
      SELECT tok, lab AS pred FROM (
        SELECT tok, lab, ROW_NUMBER() OVER (
          PARTITION BY tok ORDER BY n DESC, lab ASC) AS rk
        FROM counts
      ) WHERE rk = 1
    ),
    votes AS (
      SELECT t.id, m.pred, COUNT(*) AS nv
      FROM tokf t JOIN model m USING (tok)
      WHERE t.id % {mod} = 0 GROUP BY 1, 2
    ),
    pred AS (
      SELECT id, pred AS predicted FROM (
        SELECT id, pred, ROW_NUMBER() OVER (
          PARTITION BY id ORDER BY nv DESC, pred ASC) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT d.id, d.lab, p.predicted,
           p.predicted IS NOT DISTINCT FROM d.lab AS correct
    FROM {_labeled_sql(docs, labels)} d LEFT JOIN pred p USING (id)
    WHERE d.id % {mod} = 0
    """
        return OracleCase(f"vote_m{mod}", spark_build, oracle)

    def _fhash(self) -> OracleCase:
        docs = self._corpora._corpus()
        dim = self.rng.choice([4, 8, 16, 64])

        def spark_build(spark, docs=docs, dim=dim):
            from pyspark.sql import functions as F

            from keenwa_spark.pipeline.features import feature_hash_vectors

            vecs = feature_hash_vectors(
                values_df(spark, docs, ["id", "txt"]), dim=dim, text_col="txt", id_col="id"
            )
            return (
                vecs.select("id", F.posexplode("fvec").alias("dim", "w"))
                .where(F.col("w") != 0)
                .select("id", F.col("dim").cast("int").alias("dim"), "w")
            )

        oracle = f"""
    WITH tokf AS (
      SELECT id, tok FROM (
        SELECT id, unnest(string_split({_D_NORM}, ' ')) AS tok
        FROM {_docs_sql(docs)}
      ) WHERE tok <> ''
    ),
    h AS (SELECT id, {duck_hash64('tok')} AS h FROM tokf),
    agg AS (
      SELECT id, h % {dim} AS dim,
             SUM(CASE WHEN (h // {dim}) % 2 = 0 THEN 1 ELSE -1 END) AS w
      FROM h GROUP BY 1, 2
    )
    SELECT id, CAST(dim AS INT) AS dim, CAST(w AS DOUBLE) AS w
    FROM agg WHERE w <> 0
    """
        return OracleCase(f"fhash_d{dim}", spark_build, oracle)
