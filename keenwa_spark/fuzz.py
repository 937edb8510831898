"""Seeded cross-engine SQL fuzzer over the conformance mini-catalog.

The reference proves search-order independence by re-running golden
plans under seeded rule-order shuffles (reference src/testing.rs:57).
We can do strictly better — execute: generate random queries from a
grammar confined to the SHARED exact dialect (integer arithmetic,
joins, grouping, set ops, IN/EXISTS subqueries — no floats, no
division, no order-dependent output) and run every one on BOTH Spark
and DuckDB over the same mini-catalog data, comparing canonicalized
multisets. Any divergence is either an engine-semantics gap the
conformance corpus missed or a generator rule that strayed outside the
shared dialect — both worth failing loudly.

Dialect confinement rules (each prevents a known cross-engine trap):
- INT columns only, all arithmetic operands CAST to BIGINT: Spark's
  non-ANSI int32 multiply wraps silently where DuckDB promotes.
- no division/modulo (DuckDB '/' is float division), no AVG (decimal
  vs double), SUM/COUNT/MIN/MAX only (exact on integers).
- no ORDER BY/LIMIT in compared output (NULLS FIRST/LAST defaults
  differ; compare is multiset), subqueries only where ANSI pins the
  semantics (IN/NOT IN with 3VL, EXISTS).
- window functions only in deterministic shapes: partition-only
  aggregate windows (SUM/COUNT/MIN/MAX OVER (PARTITION BY k) — frame
  is the whole partition, order-free), and ROW_NUMBER over a TOTAL
  order (every column of the table, each with an explicit NULLS FIRST
  so both engines agree; the mini tables have no full-row duplicates,
  pinned by test).
- CTEs and derived tables wrap any generated select (pure renaming —
  but they exercise both engines' scoping/inlining paths).
- correlated subqueries in the ANSI-pinned shapes only: scalar
  aggregates in the select list (COUNT -> 0 on an empty group,
  SUM/MIN/MAX -> NULL) and correlated EXISTS / correlated IN
  predicates — the decorrelation rewrites are historically the
  buggiest optimizer corner on every engine, which is exactly why
  they belong in the sweep.
- set ops include the ALL multiset forms (INTERSECT ALL / EXCEPT ALL
  — bag semantics are ANSI-pinned), aggregates include DISTINCT args
  (exact on integers; the distinct-rewrite is its own planner path)
  and the ANSI FILTER clause (filtered partial aggregation — COUNT ->
  0, SUM/MIN/MAX -> NULL when nothing passes, pinned identically),
  join ON may carry a non-equi residual conjunct (ANSI outer-join ON
  semantics), FROM may chain THREE tables with mixed join types (the
  reorderer / outer-join-elimination surface; all names stay
  table-qualified since a/ab share column names), window shapes add
  LAG/LEAD (implicit-NULL default) and NTILE over a TOTAL order, and
  GROUP BY may key on a computed expression repeated verbatim in the
  select list (the ANSI-portable form).
- set-op sides may be JOINED two-table selects (the dedup/anti rewrite
  above join output — the pinned ReplaceExceptWithFilter bug's exact
  neighborhood), chains may go three-way with EXPLICIT parens (bare
  INTERSECT precedence is not portable), and a grouped aggregate may
  consume a set-op derived table.
- output aliases (o*/g*/m*/k*/w*) NEVER shadow a source column name:
  the fuzzer's first sweep with shadowing aliases (c0/c1/c2 over table
  c) caught a REAL wrong-results bug in this Spark build —
  ReplaceExceptWithFilter transplants the right side's filter onto the
  left through the swapped output aliases (WHERE c1 IS NULL becomes
  isnotnull(c2)), returning a row ANSI EXCEPT must remove; DuckDB and
  Spark's own anti-join path agree on the correct answer. The repro is
  pinned in tests/test_fuzz.py (xfail until fixed upstream); the
  generator avoids the pattern so sweeps gate on everything else.

Deterministic by seed. Used by tools/fuzz.py sql (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus in CI).
"""

from __future__ import annotations

import random

from keenwa_spark import conformance as cf

TABLES = {
    "a": ["a1", "a2", "a3", "a4"],
    "b": ["b1", "b2", "b3"],
    "c": ["c1", "c2", "c3"],
    "ab": ["a1", "b2"],
}

_CMP = ["=", "<>", "<", "<=", ">", ">="]
_AGGS = ["sum", "count", "min", "max"]
_JOINS = ["JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"]
_SETOPS = [
    "UNION ALL",
    "UNION",
    "INTERSECT",
    "EXCEPT",
    "INTERSECT ALL",
    "EXCEPT ALL",
]


class QueryGen:
    """One seeded generator; ``query()`` yields a self-contained SQL
    string runnable verbatim on Spark and DuckDB, ``case()`` the same
    as a ``conformance.OracleCase``."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self._n = 0  # cases drawn, for the every-8th ordered shape

    def case(self) -> cf.OracleCase:
        """Every 8th case is an ORDER BY/LIMIT shape compared as a row
        SEQUENCE (deterministic total order by construction)."""
        ordered = self._n % 8 == 7
        self._n += 1
        sql = self._ordered_select() if ordered else self.query()
        return cf.OracleCase(
            "ordered" if ordered else "query",
            lambda spark: spark.sql(sql),
            sql,
            ordered,
        )

    # -- scalar expressions (integer-exact) -----------------------------
    def _col(self, cols: list[str]) -> str:
        return f"CAST({self.rng.choice(cols)} AS BIGINT)"

    def _lit(self) -> str:
        return str(self.rng.randint(-50, 5000))

    def _expr(self, cols: list[str], depth: int = 0) -> str:
        r = self.rng.random()
        if depth >= 2 or r < 0.45:
            return self._col(cols) if self.rng.random() < 0.75 else self._lit()
        if r < 0.65:
            op = self.rng.choice(["+", "-", "*"])
            # at most one '*' per chain keeps magnitudes far from int64
            nxt = depth + (2 if op == "*" else 1)
            return f"({self._expr(cols, nxt)} {op} {self._expr(cols, nxt)})"
        if r < 0.8:
            return f"(- {self._expr(cols, depth + 1)})"
        return (
            f"(CASE WHEN {self._pred(cols, depth + 1)} "
            f"THEN {self._expr(cols, depth + 1)} "
            f"ELSE {self._expr(cols, depth + 1)} END)"
        )

    # -- predicates ------------------------------------------------------
    def _pred(self, cols: list[str], depth: int = 0) -> str:
        r = self.rng.random()
        if depth >= 2 or r < 0.5:
            kind = self.rng.random()
            if kind < 0.55:
                return (
                    f"{self._expr(cols, 2)} {self.rng.choice(_CMP)} "
                    f"{self._expr(cols, 2)}"
                )
            if kind < 0.7:
                neg = "NOT " if self.rng.random() < 0.5 else ""
                return f"{self._col(cols)} IS {neg}NULL"
            if kind < 0.85:
                lits = ", ".join(self._lit() for _ in range(self.rng.randint(1, 4)))
                neg = "NOT " if self.rng.random() < 0.3 else ""
                return f"{self._col(cols)} {neg}IN ({lits})"
            lo, hi = sorted(
                (self.rng.randint(-50, 3000), self.rng.randint(-50, 3000))
            )
            return f"{self._col(cols)} BETWEEN {lo} AND {hi}"
        if r < 0.85:
            con = self.rng.choice(["AND", "OR"])
            return (
                f"({self._pred(cols, depth + 1)} {con} "
                f"{self._pred(cols, depth + 1)})"
            )
        return f"(NOT {self._pred(cols, depth + 1)})"

    # -- FROM clause -----------------------------------------------------
    def _from(self) -> tuple[str, list[str]]:
        if self.rng.random() < 0.55:
            t = self.rng.choice(list(TABLES))
            return t, list(TABLES[t])
        three = self.rng.random() < 0.3
        if three:
            # 3-way chain: join ORDER and TYPE mix is where CBO's
            # reorderer and the outer-join-elimination rules live —
            # all names stay table-qualified (a/ab share column names)
            t1, t2, t3 = self.rng.sample(list(TABLES), 3)
        else:
            t1, t2 = self.rng.sample(list(TABLES), 2)
        c1 = self.rng.choice(TABLES[t1])
        c2 = self.rng.choice(TABLES[t2])
        jt = self.rng.choice(_JOINS)
        cols = [f"{t1}.{c}" for c in TABLES[t1]] + [
            f"{t2}.{c}" for c in TABLES[t2]
        ]
        on = f"{t1}.{c1} = {t2}.{c2}"
        if self.rng.random() < 0.25:
            # compound ON: equi key + an extra conjunct — ANSI pins
            # outer-join ON semantics, and the non-equi residual
            # exercises a different physical-join selection
            on = f"{on} AND {self._pred(cols, 2)}"
        frm = f"{t1} {jt} {t2} ON {on}"
        if three:
            jt3 = self.rng.choice(_JOINS)
            # the third ON keys against either prior table
            tl = self.rng.choice([t1, t2])
            on3 = (
                f"{tl}.{self.rng.choice(TABLES[tl])} = "
                f"{t3}.{self.rng.choice(TABLES[t3])}"
            )
            cols += [f"{t3}.{c}" for c in TABLES[t3]]
            frm = f"{frm} {jt3} {t3} ON {on3}"
        return frm, cols

    # -- IN/EXISTS subqueries (ANSI-pinned semantics) --------------------
    def _subquery_pred(self, cols: list[str]) -> str:
        t = self.rng.choice(list(TABLES))
        sc = self.rng.choice(TABLES[t])
        inner_pred = self._pred([sc], 1)
        if self.rng.random() < 0.5:
            neg = "NOT " if self.rng.random() < 0.4 else ""
            return (
                f"{self._col(cols)} {neg}IN "
                f"(SELECT CAST({sc} AS BIGINT) FROM {t} WHERE {inner_pred})"
            )
        neg = "NOT " if self.rng.random() < 0.4 else ""
        return f"{neg}EXISTS (SELECT 1 FROM {t} WHERE {inner_pred})"

    # -- correlated subqueries (decorrelation is where engines break) ----
    def _correlated_select(self) -> str:
        """Outer table aliased t_out; select list carries a correlated
        scalar aggregate (COUNT -> 0 on empty group, SUM/MIN/MAX ->
        NULL — ANSI-pinned on both engines) and the WHERE may carry a
        correlated EXISTS / correlated IN."""
        t_out = self.rng.choice(list(TABLES))
        t_in = self.rng.choice(list(TABLES))
        oc = self.rng.choice(TABLES[t_out])
        ic = self.rng.choice(TABLES[t_in])
        fn = self.rng.choice(_AGGS)
        arg = "*" if fn == "count" else f"CAST({self.rng.choice(TABLES[t_in])} AS BIGINT)"
        corr = f"{t_in}.{ic} = t_out.{oc}"
        extra = f" AND {self._pred([f'{t_in}.{c}' for c in TABLES[t_in]], 2)}"             if self.rng.random() < 0.5 else ""
        scalar = (
            f"(SELECT CAST({fn}({arg}) AS BIGINT) FROM {t_in} "
            f"WHERE {corr}{extra})"
        )
        sel = [f"CAST(t_out.{c} AS BIGINT) AS k{i}" for i, c in enumerate(TABLES[t_out])]
        sel.append(f"{scalar} AS s0")
        where = ""
        r = self.rng.random()
        if r < 0.35:
            neg = "NOT " if self.rng.random() < 0.4 else ""
            where = (
                f" WHERE {neg}EXISTS (SELECT 1 FROM {t_in} "
                f"WHERE {corr}{extra})"
            )
        elif r < 0.6:
            oc2 = self.rng.choice(TABLES[t_out])
            where = (
                f" WHERE CAST(t_out.{oc2} AS BIGINT) IN "
                f"(SELECT CAST({ic} AS BIGINT) FROM {t_in} WHERE {corr})"
            )
        return f"SELECT {', '.join(sel)} FROM {t_out} t_out{where}"

    # -- SELECT statements ----------------------------------------------
    def _select(self) -> str:
        frm, cols = self._from()
        where = ""
        if self.rng.random() < 0.75:
            p = (
                self._subquery_pred(cols)
                if self.rng.random() < 0.25
                else self._pred(cols)
            )
            where = f" WHERE {p}"
        if self.rng.random() < 0.45:  # grouped
            n_keys = self.rng.randint(1, 2)
            keys = self.rng.sample(cols, min(n_keys, len(cols)))
            if self.rng.random() < 0.3:
                # group by a computed expression (repeated verbatim in
                # the select list — the ANSI-portable form). The key
                # MUST reference a column: a pure-literal key (even a
                # parenthesized/negated one — Spark constant-folds
                # first) is parsed as a GROUP BY ORDINAL and errors.
                e = self._expr(cols, 1)
                if not any(c in e for c in cols):
                    e = self._col(cols)
                keys[0] = e
            sel = [f"{k} AS g{i}" for i, k in enumerate(keys)]
            n_aggs = self.rng.randint(1, 3)
            having = ""
            agg_exprs = []
            for i in range(n_aggs):
                fn = self.rng.choice(_AGGS)
                if fn == "count" and self.rng.random() < 0.3:
                    arg = "*"
                elif self.rng.random() < 0.2:
                    # DISTINCT aggregate: exact on integers, and the
                    # distinct-rewrite (expand/partial-dedup) is its
                    # own planner path worth shaking
                    arg = f"DISTINCT {self._col(cols)}"
                else:
                    arg = self._expr(cols, 1)
                filt = ""
                if self.rng.random() < 0.2 and "DISTINCT" not in arg:
                    # ANSI aggregate FILTER clause — its own planner
                    # path (filtered partial aggregation); COUNT -> 0,
                    # SUM/MIN/MAX -> NULL when nothing passes, pinned
                    # identically on both engines
                    filt = f" FILTER (WHERE {self._pred(cols, 2)})"
                agg_exprs.append(f"CAST({fn}({arg}){filt} AS BIGINT)")
                sel.append(f"{agg_exprs[-1]} AS m{i}")
            if self.rng.random() < 0.4:
                having = (
                    f" HAVING {self.rng.choice(agg_exprs)} "
                    f"{self.rng.choice(_CMP)} {self._lit()}"
                )
            return (
                f"SELECT {', '.join(sel)} FROM {frm}{where} "
                f"GROUP BY {', '.join(keys)}{having}"
            )
        distinct = "DISTINCT " if self.rng.random() < 0.2 else ""
        n_out = self.rng.randint(1, 4)
        sel = [f"{self._expr(cols)} AS o{i}" for i in range(n_out)]
        return f"SELECT {distinct}{', '.join(sel)} FROM {frm}{where}"

    # -- window shapes (deterministic by construction) -------------------
    def _window_select(self) -> str:
        t = self.rng.choice(list(TABLES))
        cols = TABLES[t]
        sel = [f"CAST({c} AS BIGINT) AS k{i}" for i, c in enumerate(cols)]
        part = self.rng.choice(cols)
        r = self.rng.random()
        if r < 0.45:
            fn = self.rng.choice(_AGGS)
            arg = "*" if fn == "count" else self._expr(cols, 1)
            sel.append(
                f"CAST({fn}({arg}) OVER (PARTITION BY {part}) AS BIGINT) AS w0"
            )
        elif r < 0.7:
            # total order: every column, explicit NULLS FIRST on each
            # (Spark and DuckDB disagree on the default)
            order = ", ".join(f"{c} NULLS FIRST" for c in cols)
            sel.append(
                f"ROW_NUMBER() OVER (PARTITION BY {part} "
                f"ORDER BY {order}) AS w0"
            )
        else:
            # navigation/bucketing over a TOTAL order (deterministic:
            # no full-row duplicates, explicit NULLS FIRST): LAG/LEAD
            # with the implicit-NULL default, NTILE with tie-free input
            order = ", ".join(f"{c} NULLS FIRST" for c in cols)
            kind = self.rng.choice(["lag", "lead", "ntile"])
            if kind == "ntile":
                w = f"NTILE({self.rng.randint(2, 5)}) OVER (ORDER BY {order})"
            else:
                off = self.rng.randint(1, 3)
                w = (
                    f"{kind}(CAST({self.rng.choice(cols)} AS BIGINT), {off}) "
                    f"OVER (ORDER BY {order})"
                )
            sel.append(f"CAST({w} AS BIGINT) AS w0")
        where = f" WHERE {self._pred(cols, 1)}" if self.rng.random() < 0.4 else ""
        return f"SELECT {', '.join(sel)} FROM {t}{where}"

    def _ordered_select(self) -> str:
        """ORDER BY all columns (explicit NULLS FIRST — the engines'
        defaults differ) + LIMIT: deterministic because the mini
        tables have no full-row duplicates, so the compare can be
        row-SEQUENCE equality — the only shapes that exercise TopK /
        global-sort paths cross-engine."""
        t = self.rng.choice(list(TABLES))
        cols = TABLES[t]
        sel = ", ".join(f"CAST({c} AS BIGINT) AS o{i}" for i, c in enumerate(cols))
        dirs = [
            f"{c} {self.rng.choice(['ASC', 'DESC'])} NULLS FIRST" for c in cols
        ]
        where = f" WHERE {self._pred(cols, 1)}" if self.rng.random() < 0.5 else ""
        limit = f" LIMIT {self.rng.randint(1, 8)}" if self.rng.random() < 0.6 else ""
        return (
            f"SELECT {sel} FROM {t}{where} ORDER BY {', '.join(dirs)}{limit}"
        )

    def _frame_window_select(self) -> str:
        """Aggregate over an explicit ROWS frame on a total order —
        deterministic for ANY aggregate because ROWS frames (unlike
        the default RANGE frame) are defined by position, and the
        order is total."""
        t = self.rng.choice(list(TABLES))
        cols = TABLES[t]
        order = ", ".join(f"{c} NULLS FIRST" for c in cols)
        fn = self.rng.choice(_AGGS)
        arg = "*" if fn == "count" else self._expr(cols, 1)
        lo = self.rng.choice(["UNBOUNDED PRECEDING", "2 PRECEDING", "1 PRECEDING"])
        hi = self.rng.choice(["CURRENT ROW", "1 FOLLOWING"])
        part = f"PARTITION BY {self.rng.choice(cols)} " if self.rng.random() < 0.5 else ""
        sel = [f"CAST({c} AS BIGINT) AS k{i}" for i, c in enumerate(cols)]
        sel.append(
            f"CAST({fn}({arg}) OVER ({part}ORDER BY {order} "
            f"ROWS BETWEEN {lo} AND {hi}) AS BIGINT) AS w0"
        )
        return f"SELECT {', '.join(sel)} FROM {t}"

    def _grouping_select(self) -> str:
        """GROUP BY ROLLUP / CUBE / GROUPING SETS over ONE table with
        no WHERE: the mini-catalog tables are non-empty and the input
        must STAY non-empty, because Spark 4.1.2 drops the required ()
        super-aggregate row on empty input (the pinned wrong-results
        bug, tests/test_fuzz.py) — a filtered/joined source could
        trip it and report a false engine mismatch. GROUPING(key)
        columns disambiguate super-aggregate NULLs from data NULLs in
        the canonical compare."""
        t = self.rng.choice(list(TABLES))
        cols = TABLES[t]
        keys = self.rng.sample(cols, self.rng.randint(1, 2))
        kind = self.rng.choice(["ROLLUP", "CUBE", "SETS"])
        klist = ", ".join(keys)
        if kind == "SETS":
            subsets = [f"({klist})", "()"]
            if len(keys) == 2 and self.rng.random() < 0.5:
                subsets.insert(1, f"({keys[0]})")
            by = f"GROUPING SETS ({', '.join(subsets)})"
        else:
            by = f"{kind}({klist})"
        sel = [f"{k} AS g{i}" for i, k in enumerate(keys)]
        sel += [
            f"CAST(GROUPING({k}) AS BIGINT) AS gr{i}"
            for i, k in enumerate(keys)
        ]
        for i in range(self.rng.randint(1, 2)):
            fn = self.rng.choice(_AGGS)
            arg = "*" if fn == "count" and self.rng.random() < 0.3 else self._col(cols)
            sel.append(f"CAST({fn}({arg}) AS BIGINT) AS m{i}")
        return f"SELECT {', '.join(sel)} FROM {t} GROUP BY {by}"

    def query(self) -> str:
        r = self.rng.random()
        if r < 0.12:
            # CTE / derived-table wrapper around a full select: pure
            # renaming, but exercises scoping + inlining on both sides
            inner = self._select()
            outer_cols = ", ".join(
                c for c in ("g0", "o0", "m0") if f" AS {c}" in inner
            ) or "*"
            if self.rng.random() < 0.5:
                return f"WITH t AS ({inner}) SELECT {outer_cols} FROM t"
            return f"SELECT {outer_cols} FROM ({inner}) AS t"
        if r < 0.18:
            return self._window_select()
        if r < 0.24:
            return self._frame_window_select()
        if r < 0.30:
            return self._correlated_select()
        if r < 0.36:
            return self._grouping_select()
        if r < 0.42:
            return self._setop_select()
        if r < 0.46:
            # aggregate OVER a set-op result (derived table) — the
            # setop's distinct/anti rewrites feed a grouped aggregate,
            # the composition where ReplaceExceptWithFilter-style
            # rewrites meet aggregate pushdown
            inner = self._setop_select()
            fn = self.rng.choice(_AGGS)
            return (
                f"SELECT o0 AS g0, CAST({fn}(o0) AS BIGINT) AS m0, "
                f"CAST(COUNT(*) AS BIGINT) AS m1 "
                f"FROM ({inner}) AS t GROUP BY o0"
            )
        return self._select()

    def _setop_select(self) -> str:
        """Set operation with three escalating side shapes: (a) two
        filtered projections of the same table (arity/types align by
        construction); (b) sides drawn from a JOINED two-table FROM —
        the setop's dedup/anti rewrite now sits above join output,
        where column-lineage rewrites have historically broken (the
        pinned ReplaceExceptWithFilter bug lived exactly here); (c) a
        parenthesized three-way chain mixing two operators (explicit
        parens — ANSI INTERSECT precedence is not portable bare)."""
        t = self.rng.choice(list(TABLES))
        cols = TABLES[t]
        n_out = self.rng.randint(1, len(cols))
        picked = self.rng.sample(cols, n_out)
        sel = ", ".join(
            f"CAST({c} AS BIGINT) AS o{i}" for i, c in enumerate(picked)
        )
        op = self.rng.choice(_SETOPS)
        shape = self.rng.random()
        if shape < 0.3:
            # (b) joined sides: same join FROM both sides, different
            # residual predicates; project the same n_out columns
            frm, jcols = self._from()
            jpicked = self.rng.sample(jcols, min(n_out, len(jcols)))
            jsel = ", ".join(
                f"CAST({c} AS BIGINT) AS o{i}" for i, c in enumerate(jpicked)
            )
            p1, p2 = self._pred(jcols, 1), self._pred(jcols, 1)
            return (
                f"SELECT {jsel} FROM {frm} WHERE {p1} "
                f"{op} SELECT {jsel} FROM {frm} WHERE {p2}"
            )
        p1, p2 = self._pred(cols, 1), self._pred(cols, 1)
        two = (
            f"SELECT {sel} FROM {t} WHERE {p1} "
            f"{op} SELECT {sel} FROM {t} WHERE {p2}"
        )
        if shape < 0.55:
            # (c) three-way chain, explicitly parenthesized
            op2 = self.rng.choice(_SETOPS)
            p3 = self._pred(cols, 1)
            return f"({two}) {op2} SELECT {sel} FROM {t} WHERE {p3}"
        return two
