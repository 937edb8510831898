"""Seeded cross-engine fuzzer for the SPLIT/SAMPLING operators
(round 10, session 2): hash_split, stratified_split, and
stratified_sample (pipeline/sampling.py) vs DuckDB window/bucket
replays on random keyed populations.

Splits are the operators whose bugs poison everything downstream
silently (a boundary off-by-one quietly leaks eval rows into train),
and their hand oracles exercise one percent vector on one table.
Randomized instances cover what matters: 1-row and tiny strata (the
exact-proportion floors where every boundary lands on 0 or 1),
percent vectors that sum to < 100 (held-out mass), 0% split arms,
single-arm 100% splits, sparse non-contiguous ids, skewed label
distributions, and random salts (split independence comes from the
salt — the same population must split DIFFERENTLY under different
salts, which the generator exercises by construction).

Deterministic by seed. Used by tools/fuzz.py split (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df
from keenwa_spark.pipeline.sampling import _BUCKETS, _split_edges


def _pop_sql(rows) -> str:
    vals = ", ".join(f"({i}, '{lab}')" for i, lab in rows)
    return (
        "(SELECT CAST(id AS BIGINT) AS id, CAST(lab AS VARCHAR) AS lab "
        f"FROM (VALUES {vals}) AS v(id, lab))"
    )


def _duck_bucket(key: str, salt: str) -> str:
    return (
        f"(('0x' || substr(md5(CAST({key} AS VARCHAR) || '{salt}'), 1, 8))"
        f"::BIGINT) % {_BUCKETS}"
    )


class SplitGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def _population(self):
        rng = self.rng
        labels = ["a", "b", "c", "d"][: rng.randint(1, 4)]
        # skew: one label dominates; strata of size 1 are common
        rows, nid = [], 0
        for lab in labels:
            n = rng.choice([1, 1, 2, 3, 5, 8, 20])
            for _ in range(n):
                nid += rng.randint(1, 9)  # sparse, non-contiguous ids
                rows.append((nid, lab))
        rng.shuffle(rows)
        return rows

    def _salt(self):
        return f"s{self.rng.randint(0, 99)}"

    def case(self) -> OracleCase:
        return self.rng.choice(
            [self._hash_split, self._strat_split, self._strat_sample]
        )()

    def _hash_split(self) -> OracleCase:
        rows = self._population()
        salt = self._salt()
        n_arms = self.rng.randint(1, 3)
        fracs = [self.rng.choice([0.1, 0.2, 0.25, 0.5]) for _ in range(n_arms)]
        while sum(fracs) > 1.0:
            fracs.pop()
        splits = {f"sp{i}": f for i, f in enumerate(fracs or [0.5])}

        def spark_build(spark, rows=rows, splits=splits, salt=salt):
            from keenwa_spark.pipeline.sampling import hash_split

            df = values_df(spark, rows, ["id", "lab"])
            return hash_split(df, "id", splits, salt=salt)

        edges = _split_edges(splits)
        case = " ".join(
            f"WHEN bk >= {lo} AND bk < {hi} THEN '{name}'"
            for name, lo, hi in edges
        )
        oracle = f"""
    WITH b AS (
      SELECT id, lab, {_duck_bucket('id', salt)} AS bk FROM {_pop_sql(rows)}
    )
    SELECT id, lab, CASE {case} END AS split
    FROM b WHERE (CASE {case} END) IS NOT NULL
    """
        return OracleCase(f"hash_{len(splits)}arm", spark_build, oracle)

    def _strat_split(self) -> OracleCase:
        rows = self._population()
        salt = self._salt()
        n_arms = self.rng.randint(1, 3)
        pcts = []
        budget = 100
        for _ in range(n_arms):
            p = self.rng.choice([0, 10, 20, 30, 50])
            if p <= budget:
                pcts.append(p)
                budget -= p
        splits = {f"sp{i}": p for i, p in enumerate(pcts or [50])}

        def spark_build(spark, rows=rows, splits=splits, salt=salt):
            from keenwa_spark.pipeline.sampling import stratified_split

            return stratified_split(
                values_df(spark, rows, ["id", "lab"]), "lab", splits, "id", salt=salt
            )

        cum, arms = 0, []
        for name, pct in splits.items():
            cum += pct
            arms.append(f"WHEN rk <= ({cum} * n) // 100 THEN '{name}'")
        case = "CASE " + " ".join(arms) + " END"
        oracle = f"""
    WITH r AS (
      SELECT id, lab,
             ROW_NUMBER() OVER (
               PARTITION BY lab
               ORDER BY {_duck_bucket('id', salt)} ASC, id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY lab) AS n
      FROM {_pop_sql(rows)}
    )
    SELECT id, lab, {case} AS split FROM r WHERE ({case}) IS NOT NULL
    """
        return OracleCase(f"strat_{len(splits)}arm", spark_build, oracle)

    def _strat_sample(self) -> OracleCase:
        rows = self._population()
        salt = self._salt()
        n_per = self.rng.choice([1, 2, 5])

        def spark_build(spark, rows=rows, n_per=n_per, salt=salt):
            from keenwa_spark.pipeline.sampling import stratified_sample

            return stratified_sample(
                values_df(spark, rows, ["id", "lab"]), "lab", n_per, "id", salt=salt
            )

        oracle = f"""
    WITH r AS (
      SELECT id, lab,
             ROW_NUMBER() OVER (
               PARTITION BY lab
               ORDER BY {_duck_bucket('id', salt)} ASC, id ASC) AS rk
      FROM {_pop_sql(rows)}
    )
    SELECT id, lab FROM r WHERE rk <= {n_per}
    """
        return OracleCase(f"sample_n{n_per}", spark_build, oracle)
