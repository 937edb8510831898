"""Driver rows become DataFrames in one place: ``litdf.local_df``.

It plans them as a sized Arrow ``LocalRelation``. A ``createDataFrame``
of a Python list instead builds a pickled Python-RDD scan, which has
no size estimate, runs Python workers to scan, and reads naive
datetimes in the process time zone.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

#: ``createDataFrame`` calls allowed outside litdf.py: module -> why
CREATE_DATAFRAME_OK = {
    "pipeline/clustering.py": "passes a columnar pandas frame, which "
    "goes through Arrow as a sized LocalRelation",
}


def _create_dataframe_modules() -> set[str]:
    root = pathlib.Path(__file__).resolve().parents[1] / "keenwa_spark"
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                found.add(rel)
    return found


def test_no_create_dataframe_outside_litdf():
    """Driver rows go through ``litdf.local_df``; a new
    ``createDataFrame`` call needs an entry above."""
    assert _create_dataframe_modules() == {"litdf.py", *CREATE_DATAFRAME_OK}


def test_local_df_is_a_sized_jvm_relation(spark):
    """float64 cells stay bit-exact; NULL and empty arrays, nested
    struct-in-array schemas and zero rows keep their types; the plan is
    a LocalTableScan with no Python node, sized under the planner's
    no-estimate default; building it runs no Spark job."""
    from keenwa_spark.litdf import local_df

    sc = spark.sparkContext
    group = "local_df_build"
    sc.setJobGroup(group, group)
    try:
        rows = [(1, [0.1, 2.5e-17, float(2**53 - 1)]), (2, None), (3, [])]
        df = local_df(spark, rows, "cid INT, cv ARRAY<DOUBLE>")
        nested = local_df(
            spark,
            [([(0, [(1, [0.5])])],)],
            "books ARRAY<STRUCT<sub: INT, codes: ARRAY<STRUCT<pos: INT, "
            "cv: ARRAY<DOUBLE>>>>>",
        )
        empty = local_df(spark, [], "x INT")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    out = {r.cid: r.cv for r in df.collect()}
    assert out[1] == [0.1, 2.5e-17, float(2**53 - 1)]
    assert out[2] is None and out[3] == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Python" not in plan
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert size < int(spark.conf.get("spark.sql.defaultSizeInBytes").rstrip("b"))
    assert nested.collect()[0].books[0].codes[0].cv == [0.5]
    assert empty.count() == 0 and empty.schema.simpleString() == "struct<x:int>"
    with pytest.raises(ValueError, match="has 1 cells"):
        local_df(spark, [(1,)], "a INT, b INT")
