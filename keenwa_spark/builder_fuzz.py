"""Seeded cross-engine fuzzer for the BUILDER API (VERDICT r09 item 4).

The SQL fuzzer (fuzz.py) exercises ``spark.sql`` text only; the
PlanBuilder's own code paths — join dispatch, USING/NATURAL column
handling, the exists/in_subquery semi/anti rewrites, the
scalar-subquery broadcast-left-join, DISTINCT ON's row_number
emulation, AggregateBuilder's key/alias plumbing — were covered by 18
hand tests but no randomized corpus. The reference's own randomized
axis is builder-level (rule-shuffled golden plans, reference
src/testing.rs:57); we again do strictly better by EXECUTING: generate
random builder PROGRAMS, render each plan twice — once as fluent
PlanBuilder calls run on Spark, once as the equivalent ANSI SQL run on
DuckDB — and compare canonicalized multisets. A divergence is either a
builder-compilation bug, an engine-semantics gap, or a generator rule
outside the shared dialect — all worth failing loudly.

Dialect confinement mirrors fuzz.py (integer-exact, no division, no
order-dependent output except explicit total-order shapes), plus
builder-specific rules:

- every relation is namespaced at the leaf: ``from_(t)`` is followed
  immediately by a project that CASTs every column to BIGINT under a
  globally unique name (x{k}c{i}) — join conditions and correlated
  predicates never need qualification, and generated names can never
  shadow a source column (the alias-shadowing ReplaceExceptWithFilter
  trap pinned in tests/test_fuzz.py);
- join_using/natural_join need SHARED names, so the right leaf is
  generated with its key column(s) forced to the left's name; the SQL
  side selects an explicit column list (key, left rest, right rest) —
  the builder's documented output order;
- not_in_subquery compiles to a plain anti join (the reference's
  null-free rewrite, builder/subqueries.rs:336-366), so the generator
  inserts IS NOT NULL guards on BOTH the probe and the subquery column
  and renders the SQL with the same guards — aligning the compared
  semantics without leaving the builder's contract;
- scalar_subquery subs are uncorrelated single-aggregate plans (the
  builder's broadcast-join compilation is uncorrelated by design;
  correlated scalars live on the SQL surface);
- DISTINCT ON orders by ALL columns (ties are then full-row duplicates
  — either representative is the same row), asc→NULLS FIRST /
  desc→NULLS LAST spelled explicitly on the DuckDB side to match
  Spark's defaults; the ON expression leads the DuckDB ORDER BY
  (the PostgreSQL rule DuckDB inherits);
- ORDER BY / LIMIT / OFFSET appear only as a final total-order wrapper
  compared as a row SEQUENCE.

Deterministic by seed. Used by tools/fuzz.py builder (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus in CI).
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass

from keenwa_spark import conformance as cf
from keenwa_spark.builder import PlanBuilder

_AGGS = ["sum", "count", "min", "max"]
_JOIN_HOWS = ["inner", "left", "right", "full"]
_SETOPS = [
    ("union", "UNION"),
    ("union_all", "UNION ALL"),
    ("intersect", "INTERSECT"),
    ("intersect_all", "INTERSECT ALL"),
    ("except_", "EXCEPT"),
    ("except_all", "EXCEPT ALL"),
]
_CMP = ["=", "<>", "<", "<=", ">", ">="]
_HINTS = ["broadcast", "merge", "shuffle_hash"]


@dataclass
class Plan:
    """One generated program: ``steps`` is the builder call chain (each
    a Callable[[PlanBuilder], PlanBuilder] paired with its printable
    trace line), ``sql`` the DuckDB-equivalent SELECT, ``cols`` the
    output columns in both engines' order."""

    make: Callable[["object"], PlanBuilder]
    sql: str
    cols: list[str]
    code: str  # printable builder-call trace for repro
    ordered: bool = False


class ProgramGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self._k = 0

    def _fresh(self) -> int:
        self._k += 1
        return self._k

    # -- integer-exact expressions over namespaced BIGINT columns --------
    def _lit(self) -> str:
        return str(self.rng.randint(-50, 5000))

    def _expr(self, cols: list[str], depth: int = 0) -> str:
        r = self.rng.random()
        if depth >= 2 or r < 0.5:
            return (
                self.rng.choice(cols) if self.rng.random() < 0.75 else self._lit()
            )
        if r < 0.7:
            op = self.rng.choice(["+", "-", "*"])
            nxt = depth + (2 if op == "*" else 1)  # one '*' per chain
            return f"({self._expr(cols, nxt)} {op} {self._expr(cols, nxt)})"
        if r < 0.82:
            return f"(- {self._expr(cols, depth + 1)})"
        return (
            f"(CASE WHEN {self._pred(cols, depth + 1)} "
            f"THEN {self._expr(cols, depth + 1)} "
            f"ELSE {self._expr(cols, depth + 1)} END)"
        )

    def _pred(self, cols: list[str], depth: int = 0) -> str:
        r = self.rng.random()
        if depth >= 2 or r < 0.55:
            kind = self.rng.random()
            if kind < 0.55:
                return (
                    f"{self._expr(cols, 2)} {self.rng.choice(_CMP)} "
                    f"{self._expr(cols, 2)}"
                )
            if kind < 0.7:
                neg = "NOT " if self.rng.random() < 0.5 else ""
                return f"{self.rng.choice(cols)} IS {neg}NULL"
            if kind < 0.85:
                lits = ", ".join(self._lit() for _ in range(self.rng.randint(1, 4)))
                neg = "NOT " if self.rng.random() < 0.3 else ""
                return f"{self.rng.choice(cols)} {neg}IN ({lits})"
            lo, hi = sorted(
                (self.rng.randint(-50, 3000), self.rng.randint(-50, 3000))
            )
            return f"{self.rng.choice(cols)} BETWEEN {lo} AND {hi}"
        if r < 0.85:
            con = self.rng.choice(["AND", "OR"])
            return (
                f"({self._pred(cols, depth + 1)} {con} "
                f"{self._pred(cols, depth + 1)})"
            )
        return f"(NOT {self._pred(cols, depth + 1)})"

    # -- leaves -----------------------------------------------------------
    def _base(self, force_names: list[str] | None = None) -> Plan:
        """Namespaced leaf: table scan (from_/get), inline VALUES, or
        (rarely) empty(), immediately projected to CAST-BIGINT columns
        under fresh names. ``force_names`` pins the FIRST k output
        names (join_using/natural key sharing)."""
        k = self._fresh()
        r = self.rng.random()
        if force_names and r < 0.06:
            # the 1-column empty() leaf can't satisfy multi-key
            # force_names; use a VALUES leaf instead
            r = 0.1
        if r < 0.06:
            one = self.rng.random() < 0.5
            names = (force_names or []) + [f"x{k}c0"]
            name = names[0]
            exprs = [f"CAST(dummy AS BIGINT) AS {name}"]
            sql = f"SELECT CAST(1 AS BIGINT) AS {name}" + (
                "" if one else " WHERE FALSE"
            )
            code = f"empty({one}).project({exprs})"

            def make(spark, one=one, exprs=exprs):
                return PlanBuilder(spark).empty(return_one_row=one).project(exprs)

            return Plan(make, sql, [name], code)
        if r < 0.18:
            ncols = self.rng.randint(1, 3)
            if force_names:
                ncols = max(ncols, len(force_names))
            nrows = self.rng.randint(1, 4)
            rows = [
                tuple(
                    self.rng.randint(-20, 100) if self.rng.random() < 0.85 else None
                    for _ in range(ncols)
                )
                for _ in range(nrows)
            ]
            names = [
                (force_names[i] if force_names and i < len(force_names) else f"x{k}c{i}")
                for i in range(ncols)
            ]
            schema = ", ".join(f"{n} BIGINT" for n in names)
            vals = ", ".join(
                "(" + ", ".join("NULL" if v is None else str(v) for v in row) + ")"
                for row in rows
            )
            sql = (
                f"SELECT {', '.join(f'CAST({n} AS BIGINT) AS {n}' for n in names)} "
                f"FROM (VALUES {vals}) AS v{k}({', '.join(names)})"
            )
            code = f"values({rows!r}, {schema!r})"

            def make(spark, rows=rows, schema=schema):
                return PlanBuilder(spark).values(rows, schema)

            return Plan(make, sql, names, code)
        t = self.rng.choice(list(cf.MINI_TABLES))
        src_cols = [c.split()[0] for c in cf.MINI_TABLES[t][0].split(",")]
        n_min = len(force_names) if force_names else 1
        n_pick = self.rng.randint(max(n_min, 1), len(src_cols))
        picked = self.rng.sample(src_cols, n_pick)
        names = [
            (force_names[i] if force_names and i < len(force_names) else f"x{k}c{i}")
            for i in range(n_pick)
        ]
        exprs = [
            f"CAST({c} AS BIGINT) AS {n}" for c, n in zip(picked, names)
        ]
        use_get = self.rng.random() < 0.3
        sql = f"SELECT {', '.join(exprs)} FROM {t}"
        if use_get:
            code = f"get({t!r}, {picked!r}).project({exprs!r})"

            def make(spark, t=t, picked=picked, exprs=exprs):
                return PlanBuilder(spark).get(t, picked).project(exprs)

        else:
            code = f"from_({t!r}).project({exprs!r})"

            def make(spark, t=t, exprs=exprs):
                return PlanBuilder(spark).from_(t).project(exprs)

        return Plan(make, sql, names, code)

    def _wrap(self, p: Plan) -> tuple[str, str]:
        """(derived-table SQL fragment, alias) for embedding p.sql."""
        a = f"d{self._fresh()}"
        return f"({p.sql}) AS {a}", a

    # -- combinators --------------------------------------------------------
    def _filter(self, p: Plan) -> Plan:
        pred = self._pred(p.cols)
        frag, _ = self._wrap(p)
        sql = f"SELECT {', '.join(p.cols)} FROM {frag} WHERE {pred}"

        def make(spark, p=p, pred=pred):
            return p.make(spark).select(pred)

        return Plan(make, sql, p.cols, f"{p.code}.select({pred!r})")

    def _project(self, p: Plan) -> Plan:
        k = self._fresh()
        n_out = self.rng.randint(1, max(1, len(p.cols)))
        names = [f"p{k}c{i}" for i in range(n_out)]
        exprs = [f"{self._expr(p.cols)} AS {n}" for n in names]
        frag, _ = self._wrap(p)
        sql = f"SELECT {', '.join(exprs)} FROM {frag}"

        def make(spark, p=p, exprs=exprs):
            return p.make(spark).project(exprs)

        return Plan(make, sql, names, f"{p.code}.project({exprs!r})")

    def _join_on(self, l: Plan, r: Plan) -> Plan:
        how = self.rng.choice(_JOIN_HOWS)
        cond = f"{self.rng.choice(l.cols)} = {self.rng.choice(r.cols)}"
        if self.rng.random() < 0.25:
            cond = f"{cond} AND {self._pred(l.cols + r.cols, 2)}"
        cols = l.cols + r.cols
        hint = self.rng.choice(_HINTS) if self.rng.random() < 0.2 else None
        lf, _ = self._wrap(l)
        rf, _ = self._wrap(r)
        jt = {"inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
              "full": "FULL JOIN"}[how]
        sql = f"SELECT {', '.join(cols)} FROM {lf} {jt} {rf} ON {cond}"

        def make(spark, l=l, r=r, how=how, cond=cond, hint=hint):
            rb = r.make(spark)
            if hint:
                rb = rb.hint(hint)
            return l.make(spark).join_on(rb, how, cond)

        code = (
            f"({l.code}).join_on(({r.code})"
            + (f".hint({hint!r})" if hint else "")
            + f", {how!r}, {cond!r})"
        )
        return Plan(make, sql, cols, code)

    def _join_shared(self, l: Plan) -> Plan:
        """join_using / natural_join: right leaf generated with its
        first column(s) FORCED to shared left names."""
        n_keys = 1 if self.rng.random() < 0.8 else min(2, len(l.cols))
        keys = self.rng.sample(l.cols, n_keys)
        r = self._base(force_names=keys)
        how = self.rng.choice(_JOIN_HOWS)
        natural = self.rng.random() < 0.4
        l_rest = [c for c in l.cols if c not in keys]
        r_rest = [c for c in r.cols if c not in keys]
        cols = keys + l_rest + r_rest
        lf, _ = self._wrap(l)
        rf, _ = self._wrap(r)
        jt = {"inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
              "full": "FULL JOIN"}[how]
        kw = "NATURAL " if natural else ""
        using = "" if natural else f" USING ({', '.join(keys)})"
        sql = (
            f"SELECT {', '.join(cols)} FROM {lf} {kw}{jt} {rf}{using}"
        )

        def make(spark, l=l, r=r, how=how, keys=keys, natural=natural):
            lb, rb = l.make(spark), r.make(spark)
            return (
                lb.natural_join(rb, how)
                if natural
                else lb.join_using(rb, how, keys)
            )

        fn = "natural_join" if natural else "join_using"
        code = f"({l.code}).{fn}(({r.code}), {how!r}" + (
            ")" if natural else f", {keys!r})"
        )
        return Plan(make, sql, cols, code)

    def _cross(self, l: Plan) -> Plan:
        r = self._base()
        cols = l.cols + r.cols
        lf, _ = self._wrap(l)
        rf, _ = self._wrap(r)
        sql = f"SELECT {', '.join(cols)} FROM {lf} CROSS JOIN {rf}"

        def make(spark, l=l, r=r):
            return l.make(spark).cross_join(r.make(spark))

        return Plan(make, sql, cols, f"({l.code}).cross_join({r.code})")

    def _exists(self, l: Plan) -> Plan:
        sub = self._base()
        if self.rng.random() < 0.5:
            sub = self._filter(sub)
        cond = f"{self.rng.choice(l.cols)} = {self.rng.choice(sub.cols)}"
        if self.rng.random() < 0.3:
            cond = f"{cond} AND {self._pred(sub.cols, 2)}"
        neg = self.rng.random() < 0.4
        lf, _ = self._wrap(l)
        sf, _ = self._wrap(sub)
        kw = "NOT EXISTS" if neg else "EXISTS"
        sql = (
            f"SELECT {', '.join(l.cols)} FROM {lf} "
            f"WHERE {kw} (SELECT 1 FROM {sf} WHERE {cond})"
        )

        def make(spark, l=l, sub=sub, cond=cond, neg=neg):
            lb = l.make(spark)
            sb = sub.make(spark)
            return lb.not_exists(sb, cond) if neg else lb.exists(sb, cond)

        fn = "not_exists" if neg else "exists"
        return Plan(
            make, sql, l.cols, f"({l.code}).{fn}(({sub.code}), {cond!r})"
        )

    def _in_subquery(self, l: Plan) -> Plan:
        sub = self._base()
        if self.rng.random() < 0.5:
            sub = self._filter(sub)
        col = self.rng.choice(l.cols)
        sub_col = self.rng.choice(sub.cols)
        neg = self.rng.random() < 0.4
        lf, _ = self._wrap(l)
        if neg:
            # builder not_in compiles to a plain anti join (null-free
            # rewrite) — guard BOTH sides so the compared semantics
            # coincide with SQL NOT IN
            guarded = self._filter_with(sub, f"{sub_col} IS NOT NULL")
            sf, _ = self._wrap(guarded)
            sql = (
                f"SELECT {', '.join(l.cols)} FROM {lf} "
                f"WHERE {col} IS NOT NULL AND {col} NOT IN "
                f"(SELECT {sub_col} FROM {sf})"
            )

            def make(spark, l=l, sub=guarded, col=col, sub_col=sub_col):
                return (
                    l.make(spark)
                    .select(f"{col} IS NOT NULL")
                    .not_in_subquery(col, sub.make(spark), sub_col)
                )

            code = (
                f"({l.code}).select('{col} IS NOT NULL')"
                f".not_in_subquery({col!r}, ({guarded.code}), {sub_col!r})"
            )
            return Plan(make, sql, l.cols, code)
        sf, _ = self._wrap(sub)
        sql = (
            f"SELECT {', '.join(l.cols)} FROM {lf} "
            f"WHERE {col} IN (SELECT {sub_col} FROM {sf})"
        )

        def make(spark, l=l, sub=sub, col=col, sub_col=sub_col):
            return l.make(spark).in_subquery(col, sub.make(spark), sub_col)

        return Plan(
            make,
            sql,
            l.cols,
            f"({l.code}).in_subquery({col!r}, ({sub.code}), {sub_col!r})",
        )

    def _filter_with(self, p: Plan, pred: str) -> Plan:
        frag, _ = self._wrap(p)
        sql = f"SELECT {', '.join(p.cols)} FROM {frag} WHERE {pred}"

        def make(spark, p=p, pred=pred):
            return p.make(spark).select(pred)

        return Plan(make, sql, p.cols, f"{p.code}.select({pred!r})")

    def _scalar_subquery(self, l: Plan) -> Plan:
        sub = self._base()
        if self.rng.random() < 0.5:
            sub = self._filter(sub)
        fn = self.rng.choice(_AGGS)
        arg = "*" if fn == "count" and self.rng.random() < 0.4 else self._expr(
            sub.cols, 1
        )
        alias = f"s{self._fresh()}"
        lf, _ = self._wrap(l)
        sf, _ = self._wrap(sub)
        scalar_sql = f"(SELECT CAST({fn}({arg}) AS BIGINT) FROM {sf})"
        sql = (
            f"SELECT {', '.join(l.cols)}, {scalar_sql} AS {alias} FROM {lf}"
        )
        def make(spark, l=l, sub=sub, fn=fn, arg=arg, alias=alias):
            sb = (
                sub.make(spark)
                .aggregate_builder()
                .add_func(fn, arg, alias="agg0")
                .build()
                .project([f"CAST(agg0 AS BIGINT) AS {alias}"])
            )
            return l.make(spark).scalar_subquery(sb, alias)

        code = (
            f"({l.code}).scalar_subquery(({sub.code}).aggregate_builder()"
            f".add_func({fn!r}, {arg!r}, 'agg0').build()"
            f".project(['CAST(agg0 AS BIGINT) AS {alias}']), {alias!r})"
        )
        return Plan(make, sql, l.cols + [alias], code)

    def _setop(self, l: Plan) -> Plan:
        r = self._base()
        if self.rng.random() < 0.4:
            r = self._filter(r)
        # project both sides to a common fresh arity/name list
        k = self._fresh()
        n = self.rng.randint(1, min(len(l.cols), len(r.cols)))
        names = [f"p{k}c{i}" for i in range(n)]
        l2 = self._project_to(l, names)
        r2 = self._project_to(r, names)
        method, kw = self.rng.choice(_SETOPS)
        sql = f"({l2.sql}) {kw} ({r2.sql})"
        chain3 = self.rng.random() < 0.25
        if chain3:
            r3 = self._project_to(self._base(), names)
            method2, kw2 = self.rng.choice(_SETOPS)
            sql = f"(({l2.sql}) {kw} ({r2.sql})) {kw2} ({r3.sql})"

            def make(spark, l2=l2, r2=r2, r3=r3, m1=method, m2=method2):
                b = getattr(l2.make(spark), m1)(r2.make(spark))
                return getattr(b, m2)(r3.make(spark))

            code = (
                f"(({l2.code}).{method}({r2.code})).{method2}({r3.code})"
            )
            return Plan(make, sql, names, code)

        def make(spark, l2=l2, r2=r2, m=method):
            return getattr(l2.make(spark), m)(r2.make(spark))

        return Plan(
            make, sql, names, f"({l2.code}).{method}({r2.code})"
        )

    def _project_to(self, p: Plan, names: list[str]) -> Plan:
        exprs = [f"{self._expr(p.cols, 1)} AS {n}" for n in names]
        frag, _ = self._wrap(p)
        sql = f"SELECT {', '.join(exprs)} FROM {frag}"

        def make(spark, p=p, exprs=exprs):
            return p.make(spark).project(exprs)

        return Plan(make, sql, list(names), f"{p.code}.project({exprs!r})")

    def _aggregate(self, p: Plan) -> Plan:
        k = self._fresh()
        n_keys = self.rng.randint(0, min(2, len(p.cols)))
        keys = self.rng.sample(p.cols, n_keys)
        n_aggs = self.rng.randint(1, 3)
        agg_specs: list[tuple[str, str, str]] = []  # (fn, arg, alias)
        for i in range(n_aggs):
            fn = self.rng.choice(_AGGS)
            if fn == "count" and self.rng.random() < 0.3:
                arg = "*"
            elif self.rng.random() < 0.2:
                arg = f"DISTINCT {self.rng.choice(p.cols)}"
            else:
                arg = self._expr(p.cols, 1)
            agg_specs.append((fn, arg, f"m{k}_{i}"))
        sel = list(keys) + [
            f"CAST({fn}({arg}) AS BIGINT) AS {al}" for fn, arg, al in agg_specs
        ]
        frag, _ = self._wrap(p)
        having = ""
        having_pred = None
        if self.rng.random() < 0.35:
            fn, arg, al = self.rng.choice(agg_specs)
            cmpop, lit = self.rng.choice(_CMP), self._lit()
            # SQL repeats the aggregate expression (ANSI-portable);
            # the builder filters on the alias post-agg
            having = f" HAVING CAST({fn}({arg}) AS BIGINT) {cmpop} {lit}"
            having_pred = f"{al} {cmpop} {lit}"
        group = f" GROUP BY {', '.join(keys)}" if keys else ""
        sql = f"SELECT {', '.join(sel)} FROM {frag}{group}{having}"
        cols = list(keys) + [al for _, _, al in agg_specs]

        def make(spark, p=p, keys=keys, agg_specs=agg_specs, hp=having_pred):
            ab = p.make(spark).aggregate_builder()
            for fn, arg, al in agg_specs:
                ab = ab.add_func(fn, arg, alias=f"__raw_{al}")
            ab = ab.group_by(*keys)
            if hp is not None:
                al = hp.split()[0]
                ab = ab.having(
                    hp.replace(al, f"CAST(__raw_{al} AS BIGINT)", 1)
                )
            b = ab.build()
            exprs = list(keys) + [
                f"CAST(__raw_{al} AS BIGINT) AS {al}" for _, _, al in agg_specs
            ]
            return b.project(exprs)

        code = (
            f"({p.code}).aggregate_builder()"
            + "".join(
                f".add_func({fn!r}, {arg!r}, '__raw_{al}')"
                for fn, arg, al in agg_specs
            )
            + f".group_by(*{keys!r})"
            + (f".having(...{having_pred!r})" if having_pred else "")
            + ".build().project(cast-normalize)"
        )
        return Plan(make, sql, cols, code)

    def _distinct(self, p: Plan) -> Plan:
        frag, _ = self._wrap(p)
        sql = f"SELECT DISTINCT {', '.join(p.cols)} FROM {frag}"

        def make(spark, p=p):
            return p.make(spark).distinct()

        return Plan(make, sql, p.cols, f"({p.code}).distinct()")

    def _distinct_on(self, p: Plan) -> Plan:
        on = self.rng.choice(p.cols)
        flags = [self.rng.random() < 0.5 for _ in p.cols]
        # Spark asc() = NULLS FIRST, desc() = NULLS LAST — spell both
        # explicitly in DuckDB, with the ON expression leading
        order_terms = [f"{on} ASC NULLS FIRST"] + [
            f"{c} {'DESC NULLS LAST' if d else 'ASC NULLS FIRST'}"
            for c, d in zip(p.cols, flags)
        ]
        frag, _ = self._wrap(p)
        sql = (
            f"SELECT DISTINCT ON ({on}) {', '.join(p.cols)} FROM {frag} "
            f"ORDER BY {', '.join(order_terms)}"
        )

        def make(spark, p=p, on=on, flags=flags):
            return p.make(spark).distinct(
                on=on, order_by=list(p.cols), descending=flags
            )

        code = f"({p.code}).distinct(on={on!r}, order_by=cols, descending={flags!r})"
        return Plan(make, sql, p.cols, code)

    def _window(self, p: Plan) -> Plan:
        alias = f"w{self._fresh()}"
        part = self.rng.choice(p.cols)
        frag, _ = self._wrap(p)
        if self.rng.random() < 0.5:
            fn = self.rng.choice(_AGGS)
            arg = "*" if fn == "count" else self._expr(p.cols, 1)
            func = f"{fn}({arg})"
            over = f"PARTITION BY {part}"
            sql = (
                f"SELECT {', '.join(p.cols)}, "
                f"CAST({func} OVER ({over}) AS BIGINT) AS {alias} FROM {frag}"
            )

            def make(spark, p=p, func=func, part=part, alias=alias):
                return (
                    p.make(spark)
                    .window_aggregate(func, [part], alias=alias)
                    .project(
                        list(p.cols) + [f"CAST({alias} AS BIGINT) AS {alias}"]
                    )
                )

            code = f"({p.code}).window_aggregate({func!r}, [{part!r}], alias={alias!r})"
            return Plan(make, sql, p.cols + [alias], code)
        # row_number over a total order (ties = full-row dups -> same
        # multiset); asc NULLS FIRST / desc NULLS LAST spelled in SQL
        flags = [self.rng.random() < 0.5 for _ in p.cols]
        order_sql = ", ".join(
            f"{c} {'DESC NULLS LAST' if d else 'ASC NULLS FIRST'}"
            for c, d in zip(p.cols, flags)
        )
        sql = (
            f"SELECT {', '.join(p.cols)}, "
            f"CAST(ROW_NUMBER() OVER (PARTITION BY {part} "
            f"ORDER BY {order_sql}) AS BIGINT) AS {alias} FROM {frag}"
        )

        def make(spark, p=p, part=part, flags=flags, alias=alias):
            return (
                p.make(spark)
                .window_aggregate(
                    "row_number()",
                    [part],
                    order_by=list(p.cols),
                    alias=alias,
                    descending=flags,
                )
                .project(list(p.cols) + [f"CAST({alias} AS BIGINT) AS {alias}"])
            )

        code = (
            f"({p.code}).window_aggregate('row_number()', [{part!r}], "
            f"order_by=cols, alias={alias!r}, descending={flags!r})"
        )
        return Plan(make, sql, p.cols + [alias], code)

    def _ordered_wrap(self, p: Plan) -> Plan:
        """Final total-order + LIMIT/OFFSET wrapper, compared as a row
        SEQUENCE."""
        flags = [self.rng.random() < 0.5 for _ in p.cols]
        order_sql = ", ".join(
            f"{c} {'DESC NULLS LAST' if d else 'ASC NULLS FIRST'}"
            for c, d in zip(p.cols, flags)
        )
        off = self.rng.randint(0, 3) if self.rng.random() < 0.5 else 0
        lim = self.rng.randint(1, 8) if self.rng.random() < 0.7 else None
        frag, _ = self._wrap(p)
        sql = (
            f"SELECT {', '.join(p.cols)} FROM {frag} ORDER BY {order_sql}"
        )
        if lim is not None:
            sql += f" LIMIT {lim}"
        if off:
            sql += f" OFFSET {off}"
        if lim is None and off:
            # DuckDB allows bare OFFSET; keep it
            pass

        def make(spark, p=p, flags=flags, off=off, lim=lim):
            b = p.make(spark).order_by(*p.cols, descending=flags)
            if off:
                b = b.offset(off)
            if lim is not None:
                b = b.limit(lim)
            return b

        code = (
            f"({p.code}).order_by(*cols, descending={flags!r})"
            f".offset({off}).limit({lim})"
        )
        return Plan(make, sql, p.cols, code, ordered=True)

    # -- top level ----------------------------------------------------------
    def case(self) -> cf.OracleCase:
        """``plan()`` as an OracleCase; the builder-call trace is the
        case's kind, so a mismatch record is its own repro."""
        p = self.plan()

        def spark_build(spark):
            # select plan.cols explicitly: the SQL rendering lists
            # columns in plan.cols order, while Spark's own output
            # order can differ (natural/USING joins put shared columns
            # in LEFT-column order, not sampled-key order) — column
            # order is not part of the compared contract, values are
            return p.make(spark).build().select(*p.cols)

        return cf.OracleCase(p.code, spark_build, p.sql, p.ordered)

    def plan(self) -> Plan:
        p = self._base()
        n_steps = self.rng.randint(1, 3)
        for _ in range(n_steps):
            r = self.rng.random()
            if r < 0.14:
                p = self._filter(p)
            elif r < 0.24:
                p = self._project(p)
            elif r < 0.36:
                p = self._join_on(p, self._base())
            elif r < 0.46:
                p = self._join_shared(p)
            elif r < 0.50:
                p = self._cross(p)
            elif r < 0.58:
                p = self._exists(p)
            elif r < 0.66:
                p = self._in_subquery(p)
            elif r < 0.72:
                p = self._scalar_subquery(p)
            elif r < 0.78:
                p = self._setop(p)
            elif r < 0.86:
                p = self._aggregate(p)
            elif r < 0.90:
                p = self._distinct(p)
            elif r < 0.94:
                p = self._distinct_on(p)
            else:
                p = self._window(p)
            if self.rng.random() < 0.08:
                a = f"t{self._fresh()}"
                prev = p

                def make(spark, prev=prev, a=a):
                    return prev.make(spark).with_alias(a)

                p = Plan(
                    make, prev.sql, prev.cols,
                    f"({prev.code}).with_alias({a!r})", prev.ordered,
                )
        if self.rng.random() < 0.2:
            p = self._ordered_wrap(p)
        return p
