"""Seeded cross-engine fuzzer for the HYPERFUNCTION operators
(round 10): time_weighted_avg / state_durations / counter_delta /
ohlc_bars (operators/hyperfunctions.py) vs independently-written
DuckDB oracles.

The family's whole correctness claim is exact arithmetic over
irregular series — decimal value*duration products, reset detection,
deterministic first/last under ts ties — which randomized instances
exercise far harder than the one hand oracle each row has: NULL
values/timestamps (excluded by contract), exact-ts ties broken by a
unique id, single-observation keys (NULL twa — no elapsed time),
counter resets, and bucket-boundary observations.

Numeric discipline: inputs are small integers, so every compared
number is either integer-valued (durations, counts, OHLC) or a ratio
of two EXACT sub-2^53 integers computed identically on both engines
(twa, share) — no float-fold-order hazard anywhere. Timestamps travel
as integer seconds in, epoch BIGINT out.

Deterministic by seed. Used by tools/fuzz.py hyper (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df, values_sql


class HyperGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def _rows(self, n_states: int = 0):
        """(uid, k0, ts, v|state) observation rows with NULLs and ties."""
        n = self.rng.randint(3, 50)
        rows = []
        for i in range(n):
            ts = None if self.rng.random() < 0.06 else self.rng.randint(0, 500)
            if n_states:
                v = (
                    None
                    if self.rng.random() < 0.1
                    else f"s{self.rng.randint(0, n_states - 1)}"
                )
            else:
                v = None if self.rng.random() < 0.12 else self.rng.randint(0, 40)
            rows.append((i, self.rng.randint(0, 2), ts, v))
        return rows

    def case(self) -> OracleCase:
        return self.rng.choice(
            [self._twa, self._states, self._counter, self._ohlc]
        )()

    def _twa(self) -> OracleCase:
        rows = self._rows()
        names = ["uid", "k0", "ts", "v"]
        method = self.rng.choice(["locf", "linear"])

        def spark_build(spark, rows=rows, method=method):
            from keenwa_spark.operators.hyperfunctions import time_weighted_avg

            df = values_df(spark, rows, names, ts_cols={"ts"})
            return time_weighted_avg(
                df, keys=["k0"], ts_col="ts", value_col="v",
                method=method, tie_cols=["uid"],
            ).select("k0", "twa", "duration_us", "n_obs")

        if method == "locf":
            num, den = "CAST(v AS HUGEINT) * dt", "SUM(dt)"
        else:
            num, den = "(CAST(v AS HUGEINT) + nv) * dt", "2 * SUM(dt)"
        oracle = (
            "WITH s AS (SELECT k0, ts, v, uid FROM "
            f"{values_sql(rows, names)} "
            "WHERE v IS NOT NULL AND ts IS NOT NULL), "
            "g AS (SELECT k0, v, "
            "LEAD(v) OVER (PARTITION BY k0 ORDER BY ts, uid) AS nv, "
            "(LEAD(ts) OVER (PARTITION BY k0 ORDER BY ts, uid) - ts) "
            "* 1000000 AS dt FROM s) "
            f"SELECT k0, CAST(SUM({num}) AS DOUBLE) / CAST({den} AS DOUBLE) "
            "AS twa, CAST(COALESCE(SUM(dt), 0) AS BIGINT) AS duration_us, "
            "CAST(COUNT(*) AS BIGINT) AS n_obs FROM g GROUP BY k0"
        )
        return OracleCase(f"twa_{method}", spark_build, oracle)

    def _states(self) -> OracleCase:
        rows = [r for r in self._rows(n_states=3) if r[2] is not None]
        rows = rows or [(0, 0, 0, "s0"), (1, 0, 5, "s1")]
        names = ["uid", "k0", "ts", "state"]

        def spark_build(spark, rows=rows):
            from keenwa_spark.operators.hyperfunctions import state_durations

            df = values_df(spark, rows, names, ts_cols={"ts"})
            return state_durations(
                df, keys=["k0"], ts_col="ts", state_col="state",
                tie_cols=["uid"],
            ).select("k0", "state", "duration_us", "n_intervals", "share")

        oracle = (
            "WITH g AS (SELECT k0, state, "
            "(LEAD(ts) OVER (PARTITION BY k0 ORDER BY ts, uid) - ts) "
            f"* 1000000 AS dt FROM {values_sql(rows, names, str_cols={'state'})}), "
            "p AS (SELECT k0, state, CAST(SUM(dt) AS BIGINT) AS duration_us, "
            "CAST(COUNT(*) AS BIGINT) AS n_intervals FROM g "
            "WHERE dt IS NOT NULL GROUP BY k0, state) "
            "SELECT k0, state, duration_us, n_intervals, "
            "CAST(duration_us AS DOUBLE) / CAST(SUM(duration_us) OVER "
            "(PARTITION BY k0) AS DOUBLE) AS share FROM p"
        )
        return OracleCase("state_durations", spark_build, oracle)

    def _counter(self) -> OracleCase:
        rows = self._rows()
        names = ["uid", "k0", "ts", "v"]

        def spark_build(spark, rows=rows):
            from keenwa_spark.operators.hyperfunctions import counter_delta

            df = values_df(spark, rows, names, ts_cols={"ts"})
            return counter_delta(
                df, keys=["k0"], ts_col="ts", value_col="v", tie_cols=["uid"]
            ).select("k0", "counter_increase", "n_resets", "n_obs")

        oracle = (
            "WITH s AS (SELECT k0, ts, v, uid FROM "
            f"{values_sql(rows, names)} "
            "WHERE v IS NOT NULL AND ts IS NOT NULL), "
            "d AS (SELECT k0, CASE WHEN prev IS NULL THEN NULL "
            "WHEN v >= prev THEN v - prev ELSE v END AS d, "
            "CASE WHEN prev IS NOT NULL AND v < prev THEN 1 ELSE 0 END AS r "
            "FROM (SELECT *, LAG(v) OVER (PARTITION BY k0 ORDER BY ts, uid) "
            "AS prev FROM s)) "
            "SELECT k0, CAST(COALESCE(SUM(d), 0) AS DOUBLE) AS "
            "counter_increase, CAST(SUM(r) AS BIGINT) AS n_resets, "
            "CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY k0"
        )
        return OracleCase("counter_delta", spark_build, oracle)

    def _ohlc(self) -> OracleCase:
        rows = self._rows()
        names = ["uid", "k0", "ts", "v"]

        def spark_build(spark, rows=rows):
            from pyspark.sql import functions as F

            from keenwa_spark.operators.hyperfunctions import ohlc_bars

            df = values_df(spark, rows, names, ts_cols={"ts"})
            out = ohlc_bars(
                df, keys=["k0"], ts_col="ts", value_col="v",
                grain="minute", tie_cols=["uid"],
            )
            return out.select(
                "k0",
                F.unix_seconds(F.col("bucket")).alias("bkt"),
                "open", "high", "low", "close", "n",
                F.col("volume").cast("bigint").alias("volume"),
            )

        oracle = (
            "WITH b AS (SELECT k0, (ts // 60) * 60 AS bkt, ts, uid, v FROM "
            f"{values_sql(rows, names)} "
            "WHERE v IS NOT NULL AND ts IS NOT NULL), "
            "w AS (SELECT *, FIRST_VALUE(v) OVER (PARTITION BY k0, bkt "
            "ORDER BY ts, uid) AS o, FIRST_VALUE(v) OVER (PARTITION BY "
            "k0, bkt ORDER BY ts DESC, uid DESC) AS c FROM b) "
            "SELECT k0, CAST(bkt AS BIGINT) AS bkt, MIN(o) AS open, "
            "MAX(v) AS high, MIN(v) AS low, MIN(c) AS close, "
            "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS "
            "volume FROM w GROUP BY k0, bkt"
        )
        return OracleCase("ohlc", spark_build, oracle)
