"""Seeded cross-engine fuzzer for the CDC / state operators (round 10).

snapshot_diff / merge_upsert / changelog_compact (operators/cdc.py) and
gaps_islands / scd2_compress / interval_coalesce (operators/islands.py)
are beyond-reference operators whose registry evidence is one
hand-built oracle each; this gives the whole family the randomized
axis: random keyed instances with NULL keys, NULL values, NULL ops,
tombstones, exact-ts ties (unique tie id), touching/overlapping/
contained/empty intervals — run through the operator on Spark and an
independently-written ANSI-SQL oracle on DuckDB.

Oracle conventions:
- null-safe value compares render as IS NOT DISTINCT FROM;
- the null-SKIPPING greatest/least of merge_upsert render as explicit
  CASE chains (not DuckDB's greatest(), so the oracle does not depend
  on another engine's NULL convention);
- descending orders carry explicit NULLS LAST (Spark's desc default);
- timestamps travel as integer seconds end to end (timestamp_seconds
  in, unix_seconds out) — no tz/precision trap in the compare.

Deterministic by seed. Used by tools/fuzz.py state (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df, values_sql


class StateGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def _key(self, null_p: float = 0.1):
        return None if self.rng.random() < null_p else self.rng.randint(0, 5)

    def _val(self, null_p: float = 0.2):
        return None if self.rng.random() < null_p else self.rng.randint(-30, 30)

    def case(self) -> OracleCase:
        return self.rng.choice(
            [
                self._snapshot_diff,
                self._merge_upsert,
                self._changelog,
                self._islands,
                self._scd2,
                self._coalesce,
            ]
        )()

    # -- snapshot_diff ------------------------------------------------------
    def _snapshot_diff(self) -> OracleCase:
        n_keys = self.rng.randint(1, 2)
        keys = [f"k{i}" for i in range(n_keys)]
        vals = ["v0", "v1"]
        null_safe = self.rng.random() < 0.5
        include_unch = self.rng.random() < 0.5

        def snap(n):
            seen, rows = set(), []
            for _ in range(n):
                kv = tuple(self._key() for _ in keys)
                if kv in seen:  # keyed snapshot: unique keys per side
                    continue
                # plain-equality mode re-reports a NULL-keyed row as
                # delete+insert; two NULL-keyed rows on ONE side would
                # then full-join-multiply against each other's other
                # side — keep NULL keys unique per side (true of any
                # GROUP BY-produced snapshot)
                seen.add(kv)
                rows.append((*kv, self._val(), self._val()))
            return rows

        orows, nrows = snap(self.rng.randint(2, 20)), snap(self.rng.randint(2, 20))
        if not orows or not nrows:
            orows = orows or [(1,) * n_keys + (0, 0)]
            nrows = nrows or [(2,) * n_keys + (0, 0)]
        names = [*keys, *vals]

        def spark_build(
            spark, orows=orows, nrows=nrows, keys=keys,
            null_safe=null_safe, include_unch=include_unch,
        ):
            from keenwa_spark.operators.cdc import snapshot_diff

            old = values_df(spark, orows, names)
            new = values_df(spark, nrows, names)
            out = snapshot_diff(
                old, new, keys=keys, include_unchanged=include_unch,
                null_safe_keys=null_safe,
            )
            return out.select(
                *keys, "change_type",
                *[f"old_{c}" for c in vals], *[f"new_{c}" for c in vals],
            )

        eq = "IS NOT DISTINCT FROM" if null_safe else "="
        on = " AND ".join(f"o.{k} {eq} n.{k}" for k in keys)
        same = " AND ".join(f"o.{c} IS NOT DISTINCT FROM n.{c}" for c in vals)
        sel_keys = ", ".join(f"COALESCE(n.{k}, o.{k}) AS {k}" for k in keys)
        change = (
            f"CASE WHEN o.__in IS NULL THEN 'insert' "
            f"WHEN n.__in IS NULL THEN 'delete' "
            f"WHEN {same} THEN 'unchanged' ELSE 'update' END"
        )
        filt = "" if include_unch else f" WHERE {change} <> 'unchanged'"
        oracle = (
            f"SELECT {sel_keys}, {change} AS change_type, "
            + ", ".join(f"o.{c} AS old_{c}" for c in vals)
            + ", "
            + ", ".join(f"n.{c} AS new_{c}" for c in vals)
            + f" FROM (SELECT *, TRUE AS __in FROM {values_sql(orows, names)}) o"
            f" FULL JOIN (SELECT *, TRUE AS __in FROM {values_sql(nrows, names)}) n"
            f" ON {on}{filt}"
        )
        return OracleCase("snapshot_diff", spark_build, oracle)

    # -- merge_upsert ---------------------------------------------------------
    def _merge_upsert(self) -> OracleCase:
        keys = ["k0"]
        vals = ["v0", "v1"]
        null_safe = self.rng.random() < 0.5
        modes = {
            c: self.rng.choice(["replace", "sum", "greatest", "least"])
            for c in vals
        }

        def snap(n):
            seen, rows = set(), []
            for _ in range(n):
                kv = self._key()
                if kv in seen:
                    continue
                seen.add(kv)
                rows.append((kv, self._val(), self._val()))
            return rows or [(1, 0, 0)]

        brows, drows = snap(self.rng.randint(2, 15)), snap(self.rng.randint(2, 15))
        names = [*keys, *vals]

        def spark_build(
            spark, brows=brows, drows=drows, modes=modes, null_safe=null_safe,
        ):
            from keenwa_spark.operators.cdc import merge_upsert

            base = values_df(spark, brows, names)
            delta = values_df(spark, drows, names)
            return merge_upsert(
                base, delta, keys=keys, combine=modes,
                null_safe_keys=null_safe,
            ).select(*names)

        eq = "IS NOT DISTINCT FROM" if null_safe else "="
        matched = "d.__in IS NOT NULL"
        exprs = []
        for c in vals:
            b, d = f"b.{c}", f"d.{c}"
            how = modes[c]
            if how == "replace":
                e = f"CASE WHEN {matched} THEN {d} ELSE {b} END"
            elif how == "sum":
                e = (
                    f"CASE WHEN {b} IS NULL AND {d} IS NULL THEN NULL "
                    f"ELSE COALESCE({b}, 0) + COALESCE({d}, 0) END"
                )
            elif how == "greatest":
                e = (
                    f"CASE WHEN {b} IS NULL THEN {d} WHEN {d} IS NULL THEN {b} "
                    f"WHEN {b} >= {d} THEN {b} ELSE {d} END"
                )
            else:
                e = (
                    f"CASE WHEN {b} IS NULL THEN {d} WHEN {d} IS NULL THEN {b} "
                    f"WHEN {b} <= {d} THEN {b} ELSE {d} END"
                )
            exprs.append(f"CAST({e} AS BIGINT) AS {c}")
        oracle = (
            f"SELECT COALESCE(b.k0, d.k0) AS k0, {', '.join(exprs)} "
            f"FROM {values_sql(brows, names)} b "
            f"FULL JOIN (SELECT *, TRUE AS __in FROM {values_sql(drows, names)}) d "
            f"ON b.k0 {eq} d.k0"
        )
        return OracleCase("merge_upsert", spark_build, oracle)

    # -- changelog_compact ----------------------------------------------------
    def _changelog(self) -> OracleCase:
        n = self.rng.randint(3, 30)
        rows = [
            (
                i,  # uid: unique tie-break
                self.rng.randint(0, 4),  # key
                self.rng.randint(0, 8),  # ts (ties likely)
                self.rng.choice(["upsert", "upsert", "delete", None]),
                self._val(),
            )
            for i in range(n)
        ]
        names = ["uid", "k0", "ts", "op", "v"]

        def spark_build(spark, rows=rows):
            from keenwa_spark.operators.cdc import changelog_compact

            df = values_df(spark, rows, names)
            return changelog_compact(
                df, keys=["k0"], ts_col="ts", op_col="op", tie_cols=["uid"]
            ).select(*names)

        oracle = (
            f"SELECT uid, k0, ts, op, v FROM ("
            f"SELECT *, ROW_NUMBER() OVER (PARTITION BY k0 "
            f"ORDER BY ts DESC NULLS LAST, uid DESC NULLS LAST) AS rn "
            f"FROM {values_sql(rows, names, str_cols={'op'})}) "
            f"WHERE rn = 1 AND op IS DISTINCT FROM 'delete'"
        )
        return OracleCase("changelog", spark_build, oracle)

    # -- gaps_islands ------------------------------------------------------
    def _islands(self) -> OracleCase:
        pairs = {
            (self.rng.randint(0, 3), self.rng.randint(0, 40))
            for _ in range(self.rng.randint(3, 60))
        }
        rows = sorted(pairs)
        names = ["k0", "seq"]

        def spark_build(spark, rows=rows):
            from keenwa_spark.operators.islands import gaps_islands

            df = values_df(spark, rows, names)
            return gaps_islands(df, keys=["k0"], seq_col="seq").select(
                "k0", "island_start", "island_end", "island_len"
            )

        oracle = (
            f"SELECT k0, CAST(MIN(seq) AS BIGINT) AS island_start, "
            f"CAST(MAX(seq) AS BIGINT) AS island_end, "
            f"CAST(COUNT(*) AS BIGINT) AS island_len FROM ("
            f"SELECT k0, seq, seq - ROW_NUMBER() OVER (PARTITION BY k0 "
            f"ORDER BY seq) AS g FROM {values_sql(rows, names)}) "
            f"GROUP BY k0, g"
        )
        return OracleCase("islands", spark_build, oracle)

    # -- scd2_compress ------------------------------------------------------
    def _scd2(self) -> OracleCase:
        seen, rows = set(), []
        for _ in range(self.rng.randint(3, 50)):
            k, ts = self.rng.randint(0, 2), self.rng.randint(0, 30)
            if (k, ts) in seen:  # one observation per (key, ts)
                continue
            seen.add((k, ts))
            rows.append((k, ts, self._val(0.3), self._val(0.3)))
        rows = rows or [(0, 0, 1, 1)]
        names = ["k0", "ts", "a0", "a1"]

        def spark_build(spark, rows=rows):
            from keenwa_spark.operators.islands import scd2_compress

            df = values_df(spark, rows, names)
            return scd2_compress(
                df, keys=["k0"], ts_col="ts", attr_cols=["a0", "a1"]
            ).select("k0", "a0", "a1", "valid_from", "valid_to", "n_obs")

        oracle = (
            "WITH flagged AS (SELECT k0, ts, a0, a1, CASE WHEN "
            "ROW_NUMBER() OVER w = 1 OR NOT (a0 IS NOT DISTINCT FROM "
            "LAG(a0) OVER w AND a1 IS NOT DISTINCT FROM LAG(a1) OVER w) "
            "THEN 1 ELSE 0 END AS f FROM "
            f"{values_sql(rows, names)} "
            "WINDOW w AS (PARTITION BY k0 ORDER BY ts)), "
            "runs AS (SELECT *, SUM(f) OVER (PARTITION BY k0 ORDER BY ts "
            "ROWS UNBOUNDED PRECEDING) AS run FROM flagged), "
            "per AS (SELECT k0, run, a0, a1, CAST(MIN(ts) AS BIGINT) AS "
            "valid_from, CAST(COUNT(*) AS BIGINT) AS n_obs FROM runs "
            "GROUP BY k0, run, a0, a1) "
            "SELECT k0, a0, a1, valid_from, LEAD(valid_from) OVER "
            "(PARTITION BY k0 ORDER BY valid_from) AS valid_to, n_obs FROM per"
        )
        return OracleCase("scd2", spark_build, oracle)

    # -- interval_coalesce ---------------------------------------------------
    def _coalesce(self) -> OracleCase:
        rows = []
        for _ in range(self.rng.randint(2, 40)):
            lo = self.rng.randint(0, 60)
            hi = lo + self.rng.randint(0, 25)  # touching/contained/empty
            rows.append((self.rng.randint(0, 2), lo, hi))
        names = ["k0", "s", "e"]

        def spark_build(spark, rows=rows):
            from pyspark.sql import functions as F

            from keenwa_spark.operators.islands import interval_coalesce

            df = values_df(spark, rows, names, ts_cols={"s", "e"})
            out = interval_coalesce(df, keys=["k0"], start_col="s", end_col="e")
            return out.select(
                "k0",
                F.unix_seconds(F.col("merged_start")).alias("ms"),
                F.unix_seconds(F.col("merged_end")).alias("me"),
                "n_intervals",
            )

        oracle = (
            "WITH o AS (SELECT k0, s, e, MAX(e) OVER (PARTITION BY k0 "
            "ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
            f"PRECEDING) AS pme FROM {values_sql(rows, names)}), "
            "g AS (SELECT *, SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 "
            "ELSE 0 END) OVER (PARTITION BY k0 ORDER BY s, e ROWS "
            "UNBOUNDED PRECEDING) AS grp FROM o) "
            "SELECT k0, CAST(MIN(s) AS BIGINT) AS ms, "
            "CAST(MAX(e) AS BIGINT) AS me, "
            "CAST(COUNT(*) AS BIGINT) AS n_intervals FROM g GROUP BY k0, grp"
        )
        return OracleCase("coalesce", spark_build, oracle)
