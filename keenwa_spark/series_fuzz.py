"""Seeded cross-engine fuzzer for the SERIES operators (round 10):
skyline_2d (operators/skyline.py — the prev-min sort-filter Pareto
front) and time_resample / time_resample_interpolate
(operators/resample.py — grid spine + LOCF / linear fill) vs
independently-written DuckDB oracles.

Skyline's oracle is the textbook quadratic NOT-EXISTS dominance filter
— exactly the plan the linear sort-filter implementation exists to
avoid, which makes it the ideal independent witness. Resample oracles
rebuild the grid with generate_series and IGNORE NULLS window fills.
Interpolation compares bit-identically because both engines evaluate
the same fixed-order double expression over exact integer bucket
positions.

Instances bake in the family's hard edges: NULL measures (excluded
from frontiers), duplicate points, NULL-valued observations (supply no
bucket value but still stretch the grid extent), equal-ts ties broken
by the unique id, leading/trailing gaps (NULL under interpolation,
forward-filled under LOCF), and single-observation keys.

Deterministic by seed. Used by tools/fuzz.py series (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df, values_sql


class SeriesGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def case(self) -> OracleCase:
        return self.rng.choice(
            [self._skyline, self._resample, self._interp, self._seqpat]
        )()

    def _seqpat(self) -> OracleCase:
        """sequence_pattern_count (operators/sequence.py): per-key
        encoded event string + non-overlapping regex count, vs a
        DuckDB ordered string_agg + regexp_extract_all oracle. Events
        include unmapped types (encode as '_'), ts ties broken by the
        unique id; patterns stay in the shared simple-regex dialect."""
        n = self.rng.randint(3, 60)
        types = ["add", "buy", "view", "drop"]
        rows = [
            (
                i,
                self.rng.randint(0, 2),
                self.rng.randint(0, 30),
                self.rng.choice(types),
            )
            for i in range(n)
        ]
        names = ["uid", "k0", "ts", "ev"]
        mapping = {"add": "A", "buy": "B", "view": "V"}  # 'drop' -> '_'
        pattern = self.rng.choice(["AB", "AVB", "A.B", "AV*B", "A_*B", "V+"])

        def spark_build(spark, rows=rows, pattern=pattern):
            from keenwa_spark.operators.sequence import sequence_pattern_count

            df = values_df(spark, rows, names, ts_cols={"ts"})
            return sequence_pattern_count(
                df, keys=["k0"], ts_col="ts", event_col="ev",
                mapping=mapping, pattern=pattern, tie_cols=["uid"],
            ).select("k0", "seq_len", "n_matches")

        enc = (
            "CASE ev WHEN 'add' THEN 'A' WHEN 'buy' THEN 'B' "
            "WHEN 'view' THEN 'V' ELSE '_' END"
        )
        oracle = (
            f"SELECT k0, CAST(LENGTH(seq) AS BIGINT) AS seq_len, "
            f"CAST(LEN(regexp_extract_all(seq, '{pattern}')) AS BIGINT) "
            "AS n_matches FROM ("
            f"SELECT k0, STRING_AGG({enc}, '' ORDER BY ts, uid) AS seq "
            f"FROM {values_sql(rows, names, str_cols={'ev'})} "
            "GROUP BY k0)"
        )
        return OracleCase("seqpat", spark_build, oracle)

    def _skyline(self) -> OracleCase:
        n = self.rng.randint(3, 60)
        domain = self.rng.choice([4, 10, 40])
        rows = [
            (
                i,
                None if self.rng.random() < 0.1 else self.rng.randint(0, domain),
                None if self.rng.random() < 0.1 else self.rng.randint(0, domain),
            )
            for i in range(n)
        ]
        names = ["id", "mx", "mn"]

        def spark_build(spark, rows=rows):
            from keenwa_spark.operators.skyline import skyline_2d

            df = values_df(spark, rows, names)
            return skyline_2d(df, maximize_col="mx", minimize_col="mn")

        oracle = (
            "WITH p AS (SELECT DISTINCT mx, mn FROM "
            f"{values_sql(rows, names)} "
            "WHERE mx IS NOT NULL AND mn IS NOT NULL) "
            "SELECT mx, mn FROM p a WHERE NOT EXISTS ("
            "SELECT 1 FROM p b WHERE b.mx >= a.mx AND b.mn <= a.mn "
            "AND (b.mx > a.mx OR b.mn < a.mn))"
        )
        return OracleCase("skyline", spark_build, oracle)

    def _series_rows(self):
        n = self.rng.randint(2, 40)
        seen, rows = set(), []
        for i in range(n):
            k, ts = self.rng.randint(0, 2), self.rng.randint(0, 400)
            rows.append(
                (
                    i,
                    k,
                    ts,
                    None if self.rng.random() < 0.2 else self.rng.randint(-20, 20),
                )
            )
            seen.add((k, ts))
        return rows

    def _resample_common(self, interpolate: bool) -> OracleCase:
        rows = self._series_rows()
        names = ["id", "k0", "ts", "v"]
        step = self.rng.choice([1, 5, 30, 60])

        def spark_build(spark, rows=rows, step=step, interpolate=interpolate):
            from pyspark.sql import functions as F

            from keenwa_spark.operators.resample import (
                time_resample,
                time_resample_interpolate,
            )

            df = values_df(spark, rows, names, ts_cols={"ts"})
            fn = time_resample_interpolate if interpolate else time_resample
            out = fn(
                df, key_col="k0", ts_col="ts", value_col="v",
                step_seconds=step, id_col="id",
            )
            cols = [
                "k0",
                F.unix_seconds(F.col("bucket_ts")).alias("b"),
                "value",
                "n_obs",
            ]
            if interpolate:
                cols.append(F.col("src"))
            return out.select(*cols)

        # shared oracle scaffolding: bucket in SECONDS (the epoch of
        # floor(micros/step_us)*step_us), grid via generate_series,
        # last-per-bucket via FIRST_VALUE over (ts, id) DESC among
        # value-bearing rows
        base = (
            f"ab AS (SELECT k0, (ts // {step}) * {step} AS b, ts, id, "
            f"CAST(v AS DOUBLE) AS v FROM {values_sql(rows, names)}), "
            "pb AS (SELECT DISTINCT k0, b, FIRST_VALUE(v) OVER "
            "(PARTITION BY k0, b ORDER BY ts DESC, id DESC) AS lv, "
            "CAST(COUNT(*) OVER (PARTITION BY k0, b) AS BIGINT) AS n_obs "
            "FROM ab WHERE v IS NOT NULL), "
            "bounds AS (SELECT k0, MIN(b) AS lo, MAX(b) AS hi FROM ab "
            "GROUP BY k0), "
            "grid AS (SELECT k0, UNNEST(generate_series(lo, hi, "
            f"{step})) AS b FROM bounds), "
            "j AS (SELECT g.k0, g.b, pb.lv, COALESCE(pb.n_obs, 0) AS n_obs "
            "FROM grid g LEFT JOIN pb ON pb.k0 = g.k0 AND pb.b = g.b)"
        )
        if not interpolate:
            oracle = (
                f"WITH {base} "
                "SELECT k0, CAST(b AS BIGINT) AS b, "
                "LAST_VALUE(lv IGNORE NULLS) OVER (PARTITION BY k0 "
                "ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
                "ROW) AS value, n_obs FROM j"
            )
            return OracleCase("resample_locf", spark_build, oracle)
        # interpolation anchors: prev/next OBSERVED bucket value and
        # position; the value expression mirrors the engine's exact
        # fixed-order double arithmetic (p + (n - p) * (dx / dw)) over
        # integer bucket positions in MICROS (engine computes on
        # __bucket_us; seconds * 1e6 keeps the two ratios identical)
        oracle = (
            f"WITH {base}, a AS (SELECT k0, b, lv, n_obs, "
            "LAST_VALUE(lv IGNORE NULLS) OVER wp AS pv, "
            "LAST_VALUE(CASE WHEN lv IS NOT NULL THEN b END IGNORE NULLS) "
            "OVER wp AS px, "
            "FIRST_VALUE(lv IGNORE NULLS) OVER wn AS nv, "
            "FIRST_VALUE(CASE WHEN lv IS NOT NULL THEN b END IGNORE NULLS) "
            "OVER wn AS nx FROM j "
            "WINDOW wp AS (PARTITION BY k0 ORDER BY b ROWS BETWEEN "
            "UNBOUNDED PRECEDING AND CURRENT ROW), "
            "wn AS (PARTITION BY k0 ORDER BY b ROWS BETWEEN CURRENT ROW "
            "AND UNBOUNDED FOLLOWING)) "
            "SELECT k0, CAST(b AS BIGINT) AS b, "
            "CASE WHEN lv IS NOT NULL THEN lv "
            "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) * "
            "(CAST((b - px) * 1000000 AS DOUBLE) / "
            "CAST((nx - px) * 1000000 AS DOUBLE)) END AS value, n_obs, "
            "CASE WHEN lv IS NOT NULL THEN 'obs' "
            "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp' "
            "ELSE 'edge' END AS src FROM a"
        )
        return OracleCase("resample_interp", spark_build, oracle)

    def _resample(self) -> OracleCase:
        return self._resample_common(interpolate=False)

    def _interp(self) -> OracleCase:
        return self._resample_common(interpolate=True)
