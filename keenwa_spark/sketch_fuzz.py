"""Seeded cross-engine fuzzer for the PORTABLE sketch operators
(round 10, session 2): Bloom filters (pipeline/bloom.py) and count-min
sketches (pipeline/sketches.py cms_build/cms_estimate) vs DuckDB
oracles that replay the identical frozen md5-affine arithmetic.

These sketches' correctness claim is stronger than HLL/GK's (whose
estimates are engine-internal, checked by bound flags only): every
bit of the Bloom word array and every CMS counter is portable integer
math, so the ESTIMATES — false positives, collision overshoot and all
— must match an independent engine exactly. Randomized instances
exercise what the registry rows can't: random geometries (m_bits
across 4 octaves, non-power-of-two CMS widths, depths 1..8), saturated
tiny filters (near-100% FP), empty key sets, colliding short keys,
heavy multiplicities, and both physical probe shapes (dense-array
projection vs broadcast word join) against one oracle.

Deterministic by seed. Used by tools/fuzz.py sketch (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df
from keenwa_spark.pipeline.bloom import WORD_BITS, _position_exprs
from keenwa_spark.pipeline.sketches import _cms_pos


def _strs_values_sql(items: list[str], col: str) -> str:
    vals = ", ".join(f"('{s}')" for s in items)
    return f"(SELECT CAST({col} AS VARCHAR) AS {col} FROM (VALUES {vals}) AS v({col}))"


_DUCK_H = "('0x' || substr(md5({c}), 1, 8))::BIGINT"


class SketchGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def _keys(self, lo: int = 0, hi: int = 60) -> list[str]:
        """Short keys from a tiny space so probes genuinely overlap
        and md5-derived 32-bit hashes occasionally share positions."""
        n = self.rng.randint(lo, hi)
        alphabet = "abcx"
        out = {
            "".join(
                self.rng.choice(alphabet)
                for _ in range(self.rng.randint(1, 4))
            )
            for _ in range(n)
        }
        return sorted(out)

    def case(self) -> OracleCase:
        return self.rng.choice([self._bloom, self._cms])()

    def _bloom(self) -> OracleCase:
        keys = self._keys(0, 60)
        probes = self._keys(1, 80)
        m_bits = self.rng.choice([256, 512, 1024, 2048])
        k = self.rng.randint(1, 6)
        dense = self.rng.random() < 0.5

        def spark_build(
            spark, keys=keys, probes=probes, m_bits=m_bits, k=k, dense=dense
        ):
            from pyspark.sql import functions as F

            from keenwa_spark.pipeline.bloom import (
                bloom_build,
                bloom_dense_words,
                bloom_probe_dense,
                bloom_probe_join,
            )
            from keenwa_spark.pipeline.hashing import spark_hash64

            def hashed(items):
                return values_df(spark, [(x,) for x in items], ["s"]).select(
                    "s", F.expr(spark_hash64("s")).alias("h")
                )

            if keys:
                bloom = bloom_build(hashed(keys).select("h"), m_bits, k)
            else:
                bloom = spark.sql(
                    "SELECT CAST(NULL AS INT) AS word_idx, "
                    "CAST(NULL AS BIGINT) AS word_val WHERE 1 = 0"
                )
            pr = hashed(probes)
            if dense:
                words = bloom_dense_words(bloom, m_bits)
                out = bloom_probe_dense(pr, words, m_bits, k)
            else:
                out = bloom_probe_join(
                    pr, bloom, m_bits, k, key_cols=("s", "h")
                )
            return out.select("s", "member")

        pos = ", ".join(_position_exprs("h", m_bits, k))
        if keys:
            keys_cte = (
                f"kh AS (SELECT {_DUCK_H.format(c='s')} AS h FROM "
                f"{_strs_values_sql(keys, 's')}),\n"
                "    bpos AS (SELECT DISTINCT unnest([" + pos + "]) AS pos FROM kh)"
            )
        else:
            keys_cte = "bpos AS (SELECT CAST(NULL AS BIGINT) AS pos WHERE 1 = 0)"
        oracle = f"""
    WITH {keys_cte},
    wrds AS (
      SELECT pos // {WORD_BITS} AS wi,
             bit_or(1::BIGINT << (pos % {WORD_BITS})::INT) AS wv
      FROM bpos GROUP BY 1
    ),
    pr AS (SELECT s, {_DUCK_H.format(c='s')} AS h FROM
           {_strs_values_sql(probes, 's')}),
    ppos AS (SELECT s, unnest([{pos}]) AS pos FROM pr)
    SELECT s, bool_and(w.wv IS NOT NULL AND
                       ((w.wv >> (p.pos % {WORD_BITS})::INT) & 1) = 1)
             AS member
    FROM ppos p LEFT JOIN wrds w ON p.pos // {WORD_BITS} = w.wi
    GROUP BY s
    """
        shape = "dense" if dense else "join"
        return OracleCase(f"bloom_{shape}", spark_build, oracle)

    def _cms(self) -> OracleCase:
        # a stream with multiplicities (skew: some tokens repeat a lot)
        toks = self._keys(1, 25)
        stream: list[str] = []
        for t in toks:
            stream += [t] * self.rng.randint(1, 30)
        self.rng.shuffle(stream)
        w = self.rng.randint(16, 300)
        d = self.rng.randint(1, 8)

        def spark_build(spark, stream=stream, toks=toks, w=w, d=d):
            from pyspark.sql import functions as F

            from keenwa_spark.pipeline.hashing import spark_hash64
            from keenwa_spark.pipeline.sketches import cms_build, cms_estimate

            hs = values_df(spark, [(x,) for x in stream], ["s"]).select(
                F.expr(spark_hash64("s")).alias("h")
            )
            sketch = cms_build(hs, "h", d=d, w=w)
            items = values_df(spark, [(x,) for x in toks], ["s"]).select(
                "s", F.expr(spark_hash64("s")).alias("h")
            )
            return cms_estimate(items, sketch, "h", key_cols=("s",), d=d, w=w)

        arms = "\n      UNION ALL ".join(
            f"SELECT {j} AS j, {_cms_pos('h', j, w)} AS pos FROM hs"
            for j in range(d)
        )
        qarms = "\n      UNION ALL ".join(
            f"SELECT s, {j} AS j, {_cms_pos('h', j, w)} AS pos FROM items"
            for j in range(d)
        )
        oracle = f"""
    WITH hs AS (SELECT {_DUCK_H.format(c='s')} AS h FROM
                {_strs_values_sql(stream, 's')}),
    arms AS (
      {arms}
    ),
    cms AS (SELECT j, pos, COUNT(*) AS cnt FROM arms GROUP BY 1, 2),
    items AS (SELECT s, {_DUCK_H.format(c='s')} AS h FROM
              {_strs_values_sql(toks, 's')}),
    qarms AS (
      {qarms}
    )
    SELECT s, MIN(COALESCE(c.cnt, 0)) AS est_cnt
    FROM qarms q LEFT JOIN cms c USING (j, pos)
    GROUP BY s
    """
        return OracleCase(f"cms_d{d}", spark_build, oracle)
