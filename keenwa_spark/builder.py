"""PlanBuilder — fluent logical-plan construction API.

Mirrors keenwa's ``OperatorBuilder`` surface (reference
src/operators/builder/mod.rs:263-769: from/get :263-268, select :339,
project :382, join_using/join_on/natural_join :430-499, order_by :542,
union/except/intersect [all] :591-621, empty :626, distinct :638,
limit/offset :667-675, aggregate_builder :684, with_alias :751,
build :738) compiled directly to DataFrame transformations — Catalyst
is the memo/search half keenwa implements by hand (reference
src/optimizer.rs), so ``build()`` returns a plain ``DataFrame`` whose
physical plan is already cost-optimized.

Semantics & validation mirrored from the reference:
- methods consume the builder (move semantics in Rust) — here each
  call returns a NEW builder; stale intermediates stay usable;
- operators requiring an input raise ``ArgumentError`` when there is
  none (reference OperatorBuilder errors);
- HAVING is only legal inside an aggregate (reference
  src/sql/mod.rs:386-388) — enforced by AggregateBuilder owning it;
- ``distinct(on=...)`` implements DISTINCT ON via the deterministic
  row_number emulation (no native Spark op; reference
  src/operators/relational/logical/distinct.rs:11-18, SURVEY §7 risk 1)
  and therefore REQUIRES an explicit ordering for determinism;
- array indexing in builder expressions is Python/0-based
  (SURVEY §7 risk 4).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from keenwa_spark.errors import ArgumentError
from keenwa_spark.litdf import local_df

ColumnLike = Union[str, Column]


def _col(c: ColumnLike) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _expr(e: ColumnLike) -> Column:
    return F.expr(e) if isinstance(e, str) else e


_JOIN_TYPES = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "full": "full",
    "cross": "cross",
    "left_semi": "left_semi",
    "right_semi": "right_semi",  # swapped at build (reference join.rs:25)
    "anti": "left_anti",
}


class PlanBuilder:
    """Fluent plan builder over a SparkSession + registered tables.

    >>> b = PlanBuilder(spark)
    >>> df = (b.from_("orders")
    ...        .select("o_totalprice > 100000")
    ...        .join_on(b.new_query().from_("customer"),
    ...                 "inner", "o_custkey = c_custkey")
    ...        .project(["c_name", "o_totalprice"])
    ...        .order_by("o_totalprice", descending=True)
    ...        .limit(10)
    ...        .build())
    """

    def __init__(self, spark: SparkSession, df: DataFrame | None = None):
        self.spark = spark
        self._df = df

    # -- internals ----------------------------------------------------------

    def _require(self) -> DataFrame:
        if self._df is None:
            raise ArgumentError("operator requires an input (call from_/get/values/empty first)")
        return self._df

    def _next(self, df: DataFrame) -> "PlanBuilder":
        return PlanBuilder(self.spark, df)

    def new_query(self) -> "PlanBuilder":
        """Fresh builder sharing the session (reference
        new_query_builder, builder/mod.rs:727-737)."""
        return PlanBuilder(self.spark)

    def sub_query_builder(self) -> "PlanBuilder":
        """Fresh builder for a sub-relation to be embedded in THIS
        query (reference sub_query_builder vs new_relation_builder,
        builder/mod.rs:696-737 — there the distinction threads the
        shared memo/metadata handles; Python closures share the
        session already, so both mirrors build the same object and
        the name carries the intent)."""
        return PlanBuilder(self.spark)

    def new_relation_builder(self) -> "PlanBuilder":
        """Fresh builder for an operator tree that will be JOINED with
        this one (reference new_relation_builder, builder/mod.rs:
        711-721 — distinct from sub_query_builder only in which scope
        it threads: a sibling relation scope vs a child subquery
        scope; Spark DataFrames carry no scope handle, so this is the
        third naming-parity face of the same fresh builder)."""
        return PlanBuilder(self.spark)

    # -- leaves (reference from/get :263-268, values, empty :626) -----------

    def from_(self, table: str) -> "PlanBuilder":
        """Scan all columns of a catalog table."""
        if self._df is not None:
            raise ArgumentError("builder already has an input; use new_query()")
        return self._next(self.spark.table(table))

    def get(self, table: str, columns: Sequence[str]) -> "PlanBuilder":
        """Scan specific columns (reference LogicalGet column list)."""
        if not columns:
            raise ArgumentError("get() requires at least one column")
        return self._next(self.spark.table(table).select(*columns))

    def values(self, rows: Sequence[tuple], schema: str) -> "PlanBuilder":
        """Inline rows (reference LogicalValues, logical/values.rs:9-13),
        planned as a sized LocalRelation (``litdf.local_df``)."""
        return self._next(local_df(self.spark, rows, schema))

    def empty(self, return_one_row: bool = False) -> "PlanBuilder":
        """0- or 1-row relation (reference LogicalEmpty, logical/empty.rs)."""
        df = self.spark.range(1).select(F.lit(1).alias("dummy"))
        return self._next(df if return_one_row else df.limit(0))

    # -- unary operators -----------------------------------------------------

    def select(self, filter_expr: ColumnLike | None = None) -> "PlanBuilder":
        """Filter (reference LogicalSelect; select(None) is a no-op pass,
        mirroring the reference's Option<filter>)."""
        df = self._require()
        return self._next(df.filter(_expr(filter_expr))) if filter_expr is not None else self

    def project(self, exprs: Sequence[ColumnLike]) -> "PlanBuilder":
        if not exprs:
            raise ArgumentError("project() requires at least one expression")
        return self._next(self._require().selectExpr(*exprs) if all(
            isinstance(e, str) for e in exprs
        ) else self._require().select(*[_expr(e) for e in exprs]))

    def order_by(
        self, *cols: ColumnLike, descending: bool | Sequence[bool] = False
    ) -> "PlanBuilder":
        if not cols:
            raise ArgumentError("order_by() requires at least one column")
        flags = [descending] * len(cols) if isinstance(descending, bool) else list(descending)
        if len(flags) != len(cols):
            raise ArgumentError("descending flags must match columns")
        ordering = [
            _col(c).desc() if d else _col(c).asc() for c, d in zip(cols, flags)
        ]
        return self._next(self._require().orderBy(*ordering))

    def distinct(
        self,
        on: ColumnLike | None = None,
        order_by: Sequence[ColumnLike] | None = None,
        descending: Sequence[bool] | None = None,
    ) -> "PlanBuilder":
        """DISTINCT, or DISTINCT ON (single expr, like the reference —
        src/sql/mod.rs:255-266). DISTINCT ON requires an explicit
        ordering so the representative row is deterministic."""
        df = self._require()
        if on is None:
            return self._next(df.distinct())
        if not order_by:
            raise ArgumentError("distinct(on=...) requires order_by for determinism")
        from pyspark.sql.window import Window

        flags = descending or [False] * len(order_by)
        ordering = [
            _col(c).desc() if d else _col(c).asc() for c, d in zip(order_by, flags)
        ]
        w = Window.partitionBy(_expr(on)).orderBy(*ordering)
        return self._next(
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def limit(self, n: int) -> "PlanBuilder":
        if n < 0:
            raise ArgumentError("limit must be >= 0")
        return self._next(self._require().limit(n))

    def offset(self, n: int) -> "PlanBuilder":
        if n < 0:
            raise ArgumentError("offset must be >= 0")
        return self._next(self._require().offset(n))

    def with_alias(self, alias: str) -> "PlanBuilder":
        """Subquery alias (reference with_alias, builder/mod.rs:751)."""
        return self._next(self._require().alias(alias))

    # -- joins (reference :430-499; 8 join types join.rs:12-29) -------------

    def _join(self, right: "PlanBuilder", how: str, *args) -> "PlanBuilder":
        if how not in _JOIN_TYPES:
            raise ArgumentError(f"unknown join type: {how!r} (one of {sorted(_JOIN_TYPES)})")
        left_df, right_df = self._require(), right._require()
        spark_how = _JOIN_TYPES[how]
        if how == "right_semi":
            # reference equivalence: right-semi(L, R) == left-semi(R, L)
            left_df, right_df = right_df, left_df
            spark_how = "left_semi"
        return self._next(left_df.join(right_df, *args, how=spark_how))

    def join_using(self, right: "PlanBuilder", how: str, columns: Sequence[str]) -> "PlanBuilder":
        """Equi-join on shared column names with dedup (JoinCondition::
        Using, reference relational/join.rs:48-53)."""
        if not columns:
            raise ArgumentError("join_using() requires at least one column")
        return self._join(right, how, list(columns))

    def join_on(self, right: "PlanBuilder", how: str, condition: ColumnLike) -> "PlanBuilder":
        """Join on an arbitrary predicate (JoinCondition::On)."""
        return self._join(right, how, _expr(condition))

    def natural_join(self, right: "PlanBuilder", how: str = "inner") -> "PlanBuilder":
        """Join on ALL shared column names (reference :499-505)."""
        left_df, right_df = self._require(), right._require()
        shared = [c for c in left_df.columns if c in set(right_df.columns)]
        if not shared:
            raise ArgumentError("natural join requires at least one shared column")
        return self._join(right, how, shared)

    def cross_join(self, right: "PlanBuilder") -> "PlanBuilder":
        return self._next(self._require().crossJoin(right._require()))

    def hint(self, name: str, *params) -> "PlanBuilder":
        """Physical-strategy hint on this relation (broadcast /
        merge / shuffle_hash / shuffle_replicate_nl, plus
        repartition/rebalance) — the builder's face of the reference's
        PHYSICAL operator menu (SURVEY §2b: its Cascades search picks
        among HashJoin/MergeSortJoin/NestedLoopJoin etc.; Catalyst
        picks too, and a hint pins the choice when the caller knows
        better, e.g. a dimension the stats under-estimate). Unknown
        hint names are ignored by Spark with a warning — same
        advisory semantics as SQL hints."""
        return self._next(self._require().hint(name, *params))

    # -- subquery predicates (reference builder/mod.rs:696-737
    #    sub_query_builder/new_relation_builder; decorrelation entry
    #    points builder/subqueries.rs:186-367) ----------------------------

    def exists(self, sub: "PlanBuilder", condition: ColumnLike) -> "PlanBuilder":
        """Keep rows with a correlated match in ``sub`` — the reference
        decorrelates EXISTS into a left-semi join at build time
        (reference builder/subqueries.rs:186-232); we emit the semi join
        directly. ``condition`` is the correlation predicate."""
        return self._next(
            self._require().join(sub._require(), _expr(condition), "left_semi")
        )

    def not_exists(self, sub: "PlanBuilder", condition: ColumnLike) -> "PlanBuilder":
        """NOT EXISTS → anti join (the reference rewrites to left join +
        IS NULL, builder/subqueries.rs:233-277; left_anti is the same
        result in fewer nodes)."""
        return self._next(
            self._require().join(sub._require(), _expr(condition), "left_anti")
        )

    def in_subquery(self, col: ColumnLike, sub: "PlanBuilder", sub_col: str) -> "PlanBuilder":
        """``col IN (SELECT sub_col FROM sub)`` → left-semi join on
        equality (reference builder/subqueries.rs:281-335)."""
        sub_df = sub._require().select(sub_col)
        return self._next(
            self._require().join(
                sub_df, _col(col) == sub_df[sub_col], "left_semi"
            )
        )

    def not_in_subquery(self, col: ColumnLike, sub: "PlanBuilder", sub_col: str) -> "PlanBuilder":
        """``col NOT IN (SELECT sub_col FROM sub)`` → anti join on
        equality — mirroring the reference's left-join + IS NULL rewrite
        (builder/subqueries.rs:336-366), which assumes a NULL-free
        subquery column. For standard three-valued NOT IN over nullable
        data, use the SQL surface (Spark plans a null-aware anti join
        there; SURVEY §7 risk 2)."""
        sub_df = sub._require().select(sub_col)
        return self._next(
            self._require().join(
                sub_df, _col(col) == sub_df[sub_col], "left_anti"
            )
        )

    def scalar_subquery(self, sub: "PlanBuilder", alias: str) -> "PlanBuilder":
        """Attach the scalar result of ``sub`` as column ``alias``,
        usable in every subsequent ``project``/``select``/``order_by``
        expression exactly like a literal — the builder face of the
        reference's ``Expr::SubQuery`` scalar-subquery expression
        (reference scalar/expr.rs:148, built from a sub-relation via
        ``sub_query_builder``, builder/mod.rs:696-737).

        ``sub`` must produce exactly ONE column (checked here) and —
        per ANSI scalar-subquery semantics — at most one row (an
        aggregate or ``limit(1)``; like the reference, which plans but
        never executes, the builder cannot check cardinality at build
        time — a >1-row sub silently multiplies rows, documented
        divergence). The plan is a broadcast LEFT join on a TRUE
        condition against the 1-row sub-result: Catalyst evaluates
        the subquery once and streams it to every task — and, per
        ANSI (reference ``Expr::SubQuery``), an EMPTY sub-relation
        yields a NULL scalar rather than annihilating the outer
        relation (ADVICE r06 item 4: a cross join would return zero
        rows there)."""
        sub_df = sub._require()
        if len(sub_df.columns) != 1:
            raise ArgumentError(
                "scalar_subquery requires a 1-column sub-relation, got "
                f"{len(sub_df.columns)} columns: {sub_df.columns}"
            )
        scalar = sub_df.select(F.col(sub_df.columns[0]).alias(alias))
        return self._next(
            self._require().join(F.broadcast(scalar), F.lit(True), "left")
        )

    # -- set operators (reference :591-621, set_ops.rs) ---------------------

    def union(self, other: "PlanBuilder") -> "PlanBuilder":
        return self._next(self._require().union(other._require()).distinct())

    def union_all(self, other: "PlanBuilder") -> "PlanBuilder":
        return self._next(self._require().union(other._require()))

    def intersect(self, other: "PlanBuilder") -> "PlanBuilder":
        return self._next(self._require().intersect(other._require()))

    def intersect_all(self, other: "PlanBuilder") -> "PlanBuilder":
        return self._next(self._require().intersectAll(other._require()))

    def except_(self, other: "PlanBuilder") -> "PlanBuilder":
        return self._next(self._require().subtract(other._require()))

    def except_all(self, other: "PlanBuilder") -> "PlanBuilder":
        return self._next(self._require().exceptAll(other._require()))

    # -- aggregate (reference aggregate_builder :684, builder/aggregate.rs) -

    def aggregate_builder(self) -> "AggregateBuilder":
        return AggregateBuilder(self)

    # -- window (reference LogicalWindowAggregate) ---------------------------

    def window_aggregate(
        self,
        func: str,
        partition_by: Sequence[ColumnLike],
        order_by: Sequence[ColumnLike] = (),
        alias: str = "window_value",
        descending: Sequence[bool] | None = None,
    ) -> "PlanBuilder":
        """Append one window-function column (one LogicalWindowAggregate
        node in the reference; reference builder/mod.rs:386-415)."""
        from pyspark.sql.window import Window

        w = Window.partitionBy(*[_expr(p) for p in partition_by])
        if order_by:
            flags = descending or [False] * len(order_by)
            w = w.orderBy(
                *[_col(c).desc() if d else _col(c).asc() for c, d in zip(order_by, flags)]
            )
        if not partition_by and not order_by:
            raise ArgumentError("window_aggregate requires partition_by or order_by")
        return self._next(self._require().withColumn(alias, F.expr(func).over(w)))

    # -- terminal ------------------------------------------------------------

    def build(self) -> DataFrame:
        """Finalize: returns the (Catalyst-optimized) DataFrame —
        keenwa's build() returns the unoptimized Operator and runs the
        Cascades search separately; here planning is fused into
        execution."""
        return self._require()


class AggregateBuilder:
    """Mirrors keenwa's AggregateBuilder (reference
    src/operators/builder/aggregate.rs:20-88): add aggregate expressions
    + group-by keys + optional HAVING, then build back a PlanBuilder."""

    def __init__(self, parent: PlanBuilder):
        self._parent = parent
        self._aggs: list[Column] = []
        self._groups: list[ColumnLike] = []
        self._having: ColumnLike | None = None

    def add_func(self, func: str, col_expr: str, alias: str | None = None) -> "AggregateBuilder":
        """Named aggregate over an expression, e.g. add_func('sum',
        'o_totalprice'). Function inventory mirrors the reference's
        avg/count/max/min/sum (reference scalar/aggregates.rs:10-16) but
        accepts any Spark aggregate (strict superset)."""
        expr = F.expr(f"{func}({col_expr})")
        self._aggs.append(expr.alias(alias) if alias else expr)
        return self

    def add_column(self, col: ColumnLike) -> "AggregateBuilder":
        """Group-by key that is also projected (reference
        aggregate.rs add_column)."""
        self._groups.append(col)
        return self

    def group_by(self, *cols: ColumnLike) -> "AggregateBuilder":
        self._groups.extend(cols)
        return self

    def having(self, predicate: ColumnLike) -> "AggregateBuilder":
        """HAVING — only legal here, mirroring the reference's rule that
        HAVING requires an aggregate (reference sql/mod.rs:386-388)."""
        self._having = predicate
        return self

    def build(self) -> PlanBuilder:
        df = self._parent._require()
        if not self._aggs:
            raise ArgumentError("aggregate requires at least one aggregate expression")
        keys = [_expr(g) for g in dict.fromkeys(self._groups)]
        out = df.groupBy(*keys).agg(*self._aggs) if keys else df.agg(*self._aggs)
        if self._having is not None:
            out = out.filter(_expr(self._having))
        return self._parent._next(out)
