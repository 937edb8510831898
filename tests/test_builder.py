"""PlanBuilder unit tests — mirrors the reference's builder e2e tests
(reference src/tests/mod.rs:17-65, OperatorBuilder fluent chains) but
asserts EXECUTED results, which the reference cannot (no executor).
"""

from __future__ import annotations

import pytest

from keenwa_spark.builder import PlanBuilder
from keenwa_spark.errors import ArgumentError


@pytest.fixture()
def b(views):
    return PlanBuilder(views)


def test_scan_project_filter_limit(b):
    rows = (
        b.from_("nation")
        .select("n_regionkey = 0")
        .project(["n_nationkey", "n_name"])
        .order_by("n_nationkey")
        .limit(3)
        .build()
        .collect()
    )
    assert [r.n_nationkey for r in rows] == [0, 5, 10]


def test_get_column_pruning(b, views):
    df = b.get("customer", ["c_custkey", "c_name"]).build()
    assert df.columns == ["c_custkey", "c_name"]


def test_values_and_empty(b):
    vals = b.values([(1, "x"), (2, "y")], "id INT, tag STRING").build().collect()
    assert len(vals) == 2
    assert b.new_query().empty(return_one_row=True).build().count() == 1
    assert b.new_query().empty(return_one_row=False).build().count() == 0


def test_new_relation_builder_joins_sibling_tree(b, views):
    """Reference naming parity (builder/mod.rs:711-721): the sibling-
    relation entry point builds a tree joinable with the current one."""
    left = b.from_("nation")
    right = left.new_relation_builder().from_("region")
    out = left.join_on(right, "inner", "n_regionkey = r_regionkey").build()
    assert out.count() == 25


def test_all_join_types_execute(b):
    left = b.from_("customer")
    counts = {}
    for how in ["inner", "left", "right", "full", "left_semi", "right_semi", "anti"]:
        right = b.new_query().from_("orders")
        counts[how] = (
            left.join_on(right, how, "c_custkey = o_custkey").build().count()
        )
    assert counts["left"] >= counts["inner"]
    assert counts["full"] >= counts["left"]
    assert counts["left_semi"] + counts["anti"] == b.new_query().from_("customer").build().count()
    # right_semi(customer, orders) == orders with a matching customer
    assert counts["right_semi"] <= b.new_query().from_("orders").build().count()


def test_subquery_predicates_match_sql(b, views):
    """exists/not_exists/in_subquery/not_in_subquery compile to
    semi/anti joins matching the equivalent SQL subqueries (reference
    decorrelation entry points, builder/subqueries.rs:186-367)."""
    urgent = b.new_query().from_("orders").select("o_orderpriority = '1-URGENT'")
    got = (
        b.from_("customer")
        .exists(urgent, "c_custkey = o_custkey")
        .build()
        .count()
    )
    want = views.sql(
        "SELECT count(*) FROM customer c WHERE EXISTS (SELECT 1 FROM orders o "
        "WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')"
    ).collect()[0][0]
    assert got == want > 0

    n01 = b.new_query().from_("nation").select("n_regionkey IN (0, 1)")
    got_in = (
        b.from_("customer")
        .in_subquery("c_nationkey", n01, "n_nationkey")
        .build()
        .count()
    )
    want_in = views.sql(
        "SELECT count(*) FROM customer WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))"
    ).collect()[0][0]
    assert got_in == want_in > 0

    total = b.new_query().from_("customer").build().count()
    n01b = b.new_query().from_("nation").select("n_regionkey IN (0, 1)")
    got_not_in = (
        b.from_("customer")
        .not_in_subquery("c_nationkey", n01b, "n_nationkey")
        .build()
        .count()
    )
    # complement partition: IN + NOT IN == all (null-free key)
    assert got_in + got_not_in == total

    urgent2 = b.new_query().from_("orders").select("o_orderpriority = '1-URGENT'")
    got_ne = (
        b.from_("customer").not_exists(urgent2, "c_custkey = o_custkey").build().count()
    )
    assert got + got_ne == total


def test_join_using_dedups_key(b):
    df = (
        b.from_("nation")
        .project(["n_regionkey AS r_regionkey", "n_name"])
        .join_using(b.new_query().from_("region"), "inner", ["r_regionkey"])
        .build()
    )
    assert df.columns.count("r_regionkey") == 1


def test_natural_join_requires_shared_column(b):
    with pytest.raises(ArgumentError):
        b.from_("nation").natural_join(b.new_query().from_("region"))


def test_set_ops(b):
    cust = b.from_("customer").project(["c_nationkey AS k"])
    supp = b.new_query().from_("supplier").project(["s_nationkey AS k"])
    union_all = cust.union_all(supp).build().count()
    assert union_all == cust.build().count() + supp.build().count()
    assert cust.union(supp).build().count() <= 25
    assert cust.intersect(supp).build().count() <= 25
    assert cust.except_all(supp).build().count() <= union_all


def test_aggregate_builder_having(b):
    rows = (
        b.from_("orders")
        .aggregate_builder()
        .add_column("o_orderstatus")
        .add_func("count", "*", alias="n")
        .having("n > 10")
        .build()
        .order_by("n", descending=True)
        .build()
        .collect()
    )
    assert all(r.n > 10 for r in rows)


def test_aggregate_requires_exprs(b):
    with pytest.raises(ArgumentError):
        b.from_("orders").aggregate_builder().build()


def test_distinct_on_deterministic(b):
    df = (
        b.from_("orders")
        .distinct(on="o_custkey", order_by=["o_totalprice", "o_orderkey"],
                  descending=[True, False])
        .build()
    )
    pdf = df.toPandas()
    assert pdf["o_custkey"].is_unique
    with pytest.raises(ArgumentError):
        b.new_query().from_("orders").distinct(on="o_custkey")


def test_errors_without_input(b):
    fresh = b.new_query()
    with pytest.raises(ArgumentError):
        fresh.select("1 = 1")
    with pytest.raises(ArgumentError):
        fresh.limit(5)
    with pytest.raises(ArgumentError):
        b.from_("nation").join_on(b.new_query(), "inner", "1=1")


def test_unknown_join_type(b):
    with pytest.raises(ArgumentError):
        b.from_("nation").join_on(b.new_query().from_("region"), "sideways", "1=1")


def test_builder_immutability(b):
    base = b.from_("nation")
    filtered = base.select("n_regionkey = 0")
    assert base.build().count() == 25
    assert filtered.build().count() == 5


def test_scalar_subquery_in_filter_and_project(b):
    """Builder Expr::SubQuery analog (VERDICT r05 missing item 1): the
    scalar attaches once and is usable like a literal downstream."""
    avg_pop = (
        b.sub_query_builder()
        .from_("nation")
        .aggregate_builder()
        .add_func("avg", "CAST(n_regionkey AS DOUBLE)", alias="m")
        .build()
    )
    out = (
        b.from_("nation")
        .scalar_subquery(avg_pop, "m")
        .select("n_regionkey > m")
        .project(["n_nationkey", "n_regionkey - m AS above_by"])
        .build()
    )
    rows = out.collect()
    # regionkeys are 0..4 uniformly over 25 nations -> mean 2.0
    assert len(rows) == 10
    assert all(r["above_by"] > 0 for r in rows)


def test_scalar_subquery_empty_sub_yields_null(b):
    """ADVICE r06 item 4: an EMPTY sub-relation must yield a NULL
    scalar (ANSI), not annihilate the outer relation."""
    empty = (
        b.sub_query_builder()
        .from_("nation")
        .select("n_nationkey < 0")
        .project(["n_nationkey AS m"])
        .limit(1)
    )
    out = b.from_("region").scalar_subquery(empty, "m").build()
    rows = out.collect()
    assert len(rows) == 5  # outer cardinality preserved
    assert all(r["m"] is None for r in rows)


def test_scalar_subquery_requires_one_column(b):
    wide = b.sub_query_builder().from_("region")
    with pytest.raises(ArgumentError):
        b.from_("nation").scalar_subquery(wide, "x")


def test_hint_pins_physical_join_strategy(b):
    """§2b physical-operator menu via builder hints: the same logical
    join plans as SMJ or BHJ depending on the hint."""
    from keenwa_spark.plans import summarize

    left = b.from_("customer")
    right = b.new_query().from_("nation")
    merged = left.join_on(
        right.hint("merge"), "inner", "c_nationkey = n_nationkey"
    ).build()
    s_m = summarize(merged)
    assert s_m.sort_merge_joins >= 1 and s_m.broadcast_joins == 0

    bcast = left.join_on(
        b.new_query().from_("nation").hint("broadcast"),
        "inner",
        "c_nationkey = n_nationkey",
    ).build()
    s_b = summarize(bcast)
    assert s_b.broadcast_joins >= 1 and s_b.sort_merge_joins == 0


def test_values_compiles_to_local_relation(b):
    """Inline rows, scalar or nested, plan as a JVM LocalRelation
    (LocalTableScan) under their declared types."""
    df = b.values([(1, "x", None), (2, "y", 3.5)], "id INT, tag STRING, v DOUBLE").build()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    # declared types are honored even for all-NULL cells
    assert df.schema.simpleString() == "struct<id:int,tag:string,v:double>"
    arr = b.new_query().values([([1, 2],)], "xs ARRAY<INT>").build()
    assert arr.collect()[0].xs == [1, 2]
    assert "LocalTableScan" in arr._jdf.queryExecution().executedPlan().toString()


def test_values_timestamps_ignore_the_process_time_zone(b):
    """A naive datetime cell is read in the session time zone (UTC),
    like a SQL TIMESTAMP literal, whatever the Python process's TZ.
    ``createDataFrame(list)`` converts it with the process TZ, which
    under America/Los_Angeles read it back 8 hours later."""
    import datetime
    import os
    import time

    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    try:
        dt = datetime.datetime(2020, 1, 2, 3, 4, 5, 123456)
        df = b.values([([dt],)], "ts ARRAY<TIMESTAMP>").build()
        got = df.selectExpr("unix_micros(ts[0]) AS us").collect()[0].us
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert got == 1577934245123456
