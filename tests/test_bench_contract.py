"""The bench.py contract: one stdout JSON line that fits the
CAPTURE_BUDGET capture window, and a timing helper that records wall
and process-tree CPU for the same best run and the codegen compiles
of all three runs."""

from __future__ import annotations

import json

import bench


def test_line_fits_capture_at_worst_case_figures():
    """The real headline names with 999.999 s wall and CPU per query
    and a 3-digit sf still give a parseable line inside the budget,
    carrying every query and none of the retired cross-round keys."""
    walls = {n: 999.999 for n in bench.HEADLINE}
    detail = bench.headline_detail(
        walls, dict(walls), {n: 1.0 for n in walls}, {n: 9999 for n in walls},
        100.0,
    )
    line = bench.compact_line(detail)
    assert len(line) <= bench.CAPTURE_BUDGET
    body = json.loads(line)
    assert set(body) == {
        "metric", "value", "unit", "sf", "queries", "cpu_s", "detail_file"
    }
    assert list(body["queries"]) == bench.HEADLINE
    assert body["sf"] == 100.0
    assert body["detail_file"] == "BENCH_DETAIL.json"
    retired = ("prev_round", "regressions", "probe", "control")
    assert not [k for k in body if k.startswith(retired)]


def test_cpu_between_drops_processes_that_ended():
    """A process that ended between two readings (a Python worker the
    PySpark daemon stopped, whose CPU leaves the tree) counts in
    neither; one that started in between counts in full, even on a
    reused pid."""
    import os

    before = {"self": 1.0, (10, "5"): 3.0, (11, "6"): 275.9}
    after = {"self": 1.5, (10, "5"): 4.0, (11, "8"): 0.25}
    assert bench.cpu_between(before, after) == 1.75

    reading = bench.cpu_reading(os.getpid())
    assert reading["self"] > 0
    assert [k for k in reading if k != "self" and k[0] == os.getpid()]


def test_time_best_of_3_records_wall_and_cpu(views):
    """One tiny headline query through the timing helper: wall and CPU
    are both measured, and the detail's value is the sum of the
    per-query walls it records. A projection no earlier test ran (its
    literal is inlined into the generated class) compiles at least one
    class, and the detail carries the count under
    ``queries_codegen_compiles``."""
    import time

    from conftest import SF_DIR
    from keenwa_spark.queries import load_all

    fn = load_all()["q6_forecast_revenue"].fn
    wall, cpu, spread, rows, _ = bench.time_best_of_3(
        lambda: fn(views, SF_DIR).count(), views
    )
    assert wall > 0
    assert cpu > 0
    assert spread >= 1.0
    assert rows == 1

    fresh = f"id * {time.time_ns()} AS x"
    *_, compiles = bench.time_best_of_3(
        lambda: len(views.range(3).selectExpr(fresh).collect()), views
    )
    assert compiles >= 1

    walls = {"q6_forecast_revenue": wall, "fresh": 0.1234}
    detail = bench.headline_detail(
        walls,
        {n: cpu for n in walls},
        {n: spread for n in walls},
        {"q6_forecast_revenue": 0, "fresh": compiles},
        0.001,
    )
    assert detail["value"] == round(sum(detail["queries"].values()), 3)
    assert detail["cpu_s"] == round(sum(detail["queries_cpu_s"].values()), 3)
    assert detail["queries_codegen_compiles"] == {
        "q6_forecast_revenue": 0, "fresh": compiles
    }
