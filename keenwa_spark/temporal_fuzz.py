"""Seeded cross-engine fuzzer for the TEMPORAL operators (round 10).

asof_join / range_join / interval_overlap_join are beyond-reference
operators (keenwa's join enum is equi/theta only — reference
operators/relational/join.rs:10-40) with hand-built oracle rows in the
registry; this gives them the same randomized evidence axis the
relational surface has: random instances run on BOTH engines —

- **asof**: the engine's single-shuffle union-and-carry plan
  (operators/asof.py) vs a DuckDB oracle of two correlated
  subqueries (MAX ts + arg_max payload over the same predicate),
  covering backward/forward, 0-2 keys, optional tolerance, inclusive
  boundary ties, and no-match NULLs;
- **range_join**: the binned point-in-interval join vs the plain
  inequality join (lo <= ts < hi), over random bin widths — boundary
  rows (ts == lo, ts == hi) and empty windows (hi <= lo) arise
  naturally from the small integer domain;
- **interval_overlap_join**: the first-shared-bin overlap join vs the
  plain half-open overlap predicate (l_lo < r_hi AND r_lo < l_hi).

Timestamps are integer SECONDS: Spark inputs are built with
``timestamp_seconds`` (the operators require TimestampType) and outputs
compared as ``unix_seconds`` BIGINT; the DuckDB oracles never touch a
timestamp type at all — no timezone/precision trap can enter the
compare. Right-side (key, ts) pairs are deduplicated at generation so
the as-of match is unique (the engine's equal-ts tiebreak — greatest
payload — is deliberately NOT exercised here; it is pinned by hand
tests as an arbitrary-but-deterministic contract DuckDB does not
share).

Deterministic by seed. Used by tools/fuzz.py temporal (wide sweeps)
and tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df, values_sql


class TemporalGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def _keys(self) -> list[str]:
        return [f"k{i}" for i in range(self.rng.randint(0, 2))]

    def _ts(self) -> int:
        return self.rng.randint(0, 500)

    def case(self) -> OracleCase:
        r = self.rng.random()
        if r < 0.5:
            return self._asof()
        if r < 0.75:
            return self._range()
        return self._overlap()

    # -- as-of ------------------------------------------------------------
    def _asof(self) -> OracleCase:
        # >= 1 key: a key-less as-of would be a single global window —
        # outside the operator's partition-by-key scale contract
        keys = [f"k{i}" for i in range(self.rng.randint(1, 2))]
        direction = self.rng.choice(["backward", "forward"])
        tol = self.rng.choice([None, None, self.rng.randint(0, 120)])
        n_l = self.rng.randint(3, 25)
        n_r = self.rng.randint(0, 25)
        lrows = [
            (i, *(self.rng.randint(0, 2) for _ in keys), self._ts(),
             self.rng.randint(-50, 50))
            for i in range(n_l)
        ]
        seen: set[tuple] = set()
        rrows = []
        for j in range(n_r):
            kv = tuple(self.rng.randint(0, 2) for _ in keys)
            ts = self._ts()
            if (kv, ts) in seen:  # unique (key, ts): unique as-of match
                continue
            seen.add((kv, ts))
            rrows.append((j, *kv, ts, self.rng.randint(-50, 50)))
        lnames = ["lid", *keys, "lts", "lv"]
        rnames = ["rid", *keys, "rts", "rv"]

        def spark_build(
            spark, lrows=lrows, rrows=rrows, keys=keys,
            direction=direction, tol=tol,
        ):
            from pyspark.sql import functions as F

            from keenwa_spark.operators.asof import asof_join

            left = values_df(spark, lrows, lnames, {"lts"})
            if rrows:
                right = values_df(spark, rrows, rnames, {"rts"})
            else:
                right = values_df(
                    spark, [(0, *(0 for _ in keys), 0, 0)], rnames, {"rts"}
                ).where("rid < 0")
            out = asof_join(
                left,
                right.drop("rid"),
                on=keys,
                left_ts="lts",
                right_ts="rts",
                tolerance_seconds=tol,
                direction=direction,
            )
            return out.select(
                "lid",
                F.unix_seconds(F.col("rts_right")).alias("m_ts"),
                F.col("rv_right").alias("m_v"),
            )

        cmp = "<=" if direction == "backward" else ">="
        gap = "(l.lts - r.rts)" if direction == "backward" else "(r.rts - l.lts)"
        tol_pred = f" AND {gap} <= {tol}" if tol is not None else ""
        corr = " AND ".join([f"r.{k} = l.{k}" for k in keys] + [f"r.rts {cmp} l.lts"])
        agg = "max" if direction == "backward" else "min"
        arg = "arg_max" if direction == "backward" else "arg_min"
        rsrc = values_sql(rrows, rnames) if rrows else (
            f"(SELECT * FROM {values_sql([(0,) + (0,) * len(keys) + (0, 0)], rnames)} WHERE rid < 0)"
        )
        oracle = (
            f"SELECT l.lid, "
            f"(SELECT CAST({agg}(r.rts) AS BIGINT) FROM {rsrc} r "
            f"WHERE {corr}{tol_pred}) AS m_ts, "
            f"(SELECT {arg}(r.rv, r.rts) FROM {rsrc} r "
            f"WHERE {corr}{tol_pred}) AS m_v "
            f"FROM {values_sql(lrows, lnames)} l"
        )
        return OracleCase("asof", spark_build, oracle)

    # -- point-in-interval ------------------------------------------------
    def _range(self) -> OracleCase:
        keys = self._keys()
        n_p = self.rng.randint(3, 30)
        n_i = self.rng.randint(1, 20)
        bin_w = self.rng.choice([1, 3, 7, 60, 300])
        prows = [
            (i, *(self.rng.randint(0, 2) for _ in keys), self._ts())
            for i in range(n_p)
        ]
        irows = []
        for j in range(n_i):
            lo = self._ts()
            # include empty (hi <= lo) and long windows
            hi = lo + self.rng.randint(-20, 150)
            irows.append((j, *(self.rng.randint(0, 2) for _ in keys), lo, hi))
        pnames = ["pid", *keys, "pts"]
        inames = ["iid", *keys, "lo", "hi"]

        def spark_build(spark, prows=prows, irows=irows, keys=keys, bin_w=bin_w):
            from keenwa_spark.operators.range_join import range_join

            pts = values_df(spark, prows, pnames, {"pts"})
            ivs = values_df(spark, irows, inames, {"lo", "hi"})
            out = range_join(
                pts, ivs, point_ts="pts", lo="lo", hi="hi",
                on=keys or None, bin_width_seconds=bin_w,
            )
            return out.select("pid", "iid")

        corr = " AND ".join(
            [f"p.{k} = i.{k}" for k in keys]
            + ["i.lo <= p.pts", "p.pts < i.hi"]
        )
        oracle = (
            f"SELECT p.pid, i.iid FROM {values_sql(prows, pnames)} p "
            f"JOIN {values_sql(irows, inames)} i ON {corr}"
        )
        return OracleCase("range", spark_build, oracle)

    # -- interval x interval overlap ---------------------------------------
    def _overlap(self) -> OracleCase:
        keys = self._keys()
        n_l = self.rng.randint(2, 20)
        n_r = self.rng.randint(2, 20)
        bin_w = self.rng.choice([1, 3, 7, 60, 300])

        def mk(n, idc):
            rows = []
            for j in range(n):
                lo = self._ts()
                hi = lo + self.rng.randint(-10, 120)
                rows.append((j, *(self.rng.randint(0, 2) for _ in keys), lo, hi))
            return rows

        lrows, rrows = mk(n_l, "lid"), mk(n_r, "rid")
        lnames = ["lid", *keys, "l_lo", "l_hi"]
        rnames = ["rid", *keys, "r_lo", "r_hi"]

        def spark_build(spark, lrows=lrows, rrows=rrows, keys=keys, bin_w=bin_w):
            from keenwa_spark.operators.range_join import interval_overlap_join

            l = values_df(spark, lrows, lnames, {"l_lo", "l_hi"})
            r = values_df(spark, rrows, rnames, {"r_lo", "r_hi"})
            out = interval_overlap_join(
                l, r, l_lo="l_lo", l_hi="l_hi", r_lo="r_lo", r_hi="r_hi",
                on=keys or None, bin_width_seconds=bin_w,
            )
            return out.select("lid", "rid")

        corr = " AND ".join(
            [f"l.{k} = r.{k}" for k in keys]
            + ["l.l_lo < r.r_hi", "r.r_lo < l.l_hi",
               "l.l_lo < l.l_hi", "r.r_lo < r.r_hi"]
        )
        oracle = (
            f"SELECT l.lid, r.rid FROM {values_sql(lrows, lnames)} l "
            f"JOIN {values_sql(rrows, rnames)} r ON {corr}"
        )
        return OracleCase("overlap", spark_build, oracle)
