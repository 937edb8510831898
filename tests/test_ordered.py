"""Two-pass global-order operators (operators/ordered.py) and the
global-window plan audit they exist to satisfy (VERDICT r05 items 1-5):
exact equivalence against the single-partition window reference
formulation, plus the detector's flag/exempt matrix — including the
deliberately injected offender the audit must catch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from keenwa_spark.operators.ordered import (
    with_global_cumsum,
    with_global_prev_min,
    with_global_row_number,
)
from keenwa_spark.plans import final_plan_text, partitionless_windows


def _executed(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def vals(spark):
    # deterministic pseudo-random doubles with ties (v repeats every 97)
    return spark.range(4000).select(
        F.col("id"),
        ((F.col("id") * 37) % 97).cast("double").alias("v"),
        ((F.col("id") * 13) % 5).cast("bigint").alias("w"),
    )


def test_global_row_number_matches_window(vals):
    got = with_global_row_number(vals, ["v", "id"], "v", out_col="i", n_buckets=8)
    exp = vals.withColumn(
        "i", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
    )
    assert {(r["id"], r["i"]) for r in got.collect()} == {
        (r["id"], r["i"]) for r in exp.collect()
    }


def test_global_row_number_descending(vals):
    got = with_global_row_number(
        vals, ["v", "id"], "v", out_col="i", descending=True, n_buckets=8
    )
    exp = vals.withColumn(
        "i",
        F.row_number().over(Window.orderBy(F.col("v").desc(), "id")).cast("bigint"),
    )
    assert {(r["id"], r["i"]) for r in got.collect()} == {
        (r["id"], r["i"]) for r in exp.collect()
    }


def test_global_cumsum_matches_window(vals):
    got = with_global_cumsum(vals, ["v", "id"], "v", {"cw": "w"}, n_buckets=8)
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    exp = vals.withColumn("cw", F.sum("w").over(w))
    assert {(r["id"], r["cw"]) for r in got.collect()} == {
        (r["id"], r["cw"]) for r in exp.collect()
    }


def test_global_prev_min_matches_window(vals):
    got = with_global_prev_min(
        vals, ["v", "id"], "v", min_of="w", out_col="pm", descending=True, n_buckets=8
    )
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    exp = vals.withColumn("pm", F.min("w").over(w))
    assert {(r["id"], r["pm"]) for r in got.collect()} == {
        (r["id"], r["pm"]) for r in exp.collect()
    }


def test_constant_bucket_column_degenerates_safely(spark):
    """All-equal bucket values collapse every cut — one bucket, still
    exact (the n_buckets=1 degenerate case must equal the window)."""
    d = spark.range(500).select(
        F.lit(1.0).alias("v"), F.col("id"), (F.col("id") % 7).alias("w")
    )
    got = with_global_row_number(d, ["v", "id"], "v", out_col="i", n_buckets=8)
    assert {(r["id"], r["i"]) for r in got.collect()} == {
        (i, i + 1) for i in range(500)
    }


def test_global_rank_has_no_partitionless_window(vals):
    """The whole point: the plan must contain ZERO single-partition
    windows (the per-bucket window is partitioned by the bucket)."""
    got = with_global_row_number(vals, ["v", "id"], "v", out_col="i", n_buckets=8)
    assert partitionless_windows(_executed(got)) == []


# ---- detector matrix -------------------------------------------------------


def test_detector_flags_injected_global_window(spark):
    """VERDICT r05 item 2 done-criterion: a deliberately injected
    partitionless window must fail the audit."""
    from tools.registry_audit import audit_flags

    d = spark.range(1000).withColumn("v", (F.col("id") * 37) % 101)
    bad = d.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    plan = _executed(bad)
    assert len(partitionless_windows(plan)) >= 1
    assert any("Window" in f for f in audit_flags(plan, "injected_query"))


def test_detector_flags_global_unordered_window(spark):
    d = spark.range(1000).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    assert len(partitionless_windows(_executed(d))) >= 1


def test_detector_ignores_partitioned_window(spark):
    d = spark.range(1000).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy(F.col("id") % 10).orderBy("id")),
    )
    assert partitionless_windows(_executed(d)) == []


def test_detector_ignores_partition_only_window(spark):
    d = spark.range(1000).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy(F.col("id") % 10))
    )
    assert partitionless_windows(_executed(d)) == []


def test_detector_exempts_topk_bounded_window(spark):
    """rank <= k over a global order plans a TakeOrderedAndProject
    below the window — bounded input, must NOT flag."""
    d = spark.range(1000).withColumn("v", (F.col("id") * 37) % 101)
    topk = d.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("v").desc(), "id"))
    ).where("rn <= 10")
    assert partitionless_windows(_executed(topk)) == []


def test_mega_tie_bucket_sub_splits_and_stays_exact(spark):
    """Adversarial skew: one value owns 90% of the rows. With a
    numeric tie_bucket_col the mega-tie bucket sub-splits (no
    near-single-partition straggler) and the rank is still exactly
    the reference window's."""
    from keenwa_spark.operators.ordered import _BKT, _bucketed

    d = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") < 1800, F.lit(5.0))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    b, n_final, _stats = _bucketed(d, "v", "id", False, 8)
    assert n_final > 8  # the tied bucket actually split
    sizes = [r["c"] for r in b.groupBy(_BKT).agg(F.count(F.lit(1)).alias("c")).collect()]
    assert max(sizes) < 1800  # no bucket holds the whole tie
    got = with_global_row_number(
        d, ["v", "id"], "v", out_col="i", n_buckets=8, tie_bucket_col="id"
    )
    exp = d.withColumn(
        "i", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
    )
    assert {(r["id"], r["i"]) for r in got.collect()} == {
        (r["id"], r["i"]) for r in exp.collect()
    }


def test_heavy_mixed_bucket_refines_primary_cuts(spark):
    """A heavy bucket with MANY distinct values (bad first fit) gets
    finer primary cuts — exactness preserved."""
    # clumped distribution: 95% of mass in [0, 1), the rest spread
    d = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") < 1900, (F.col("id") % 97) / 100.0)
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    got = with_global_row_number(
        d, ["v", "id"], "v", out_col="i", n_buckets=4, tie_bucket_col="id"
    )
    exp = d.withColumn(
        "i", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
    )
    assert {(r["id"], r["i"]) for r in got.collect()} == {
        (r["id"], r["i"]) for r in exp.collect()
    }


@pytest.mark.parametrize(
    "qname",
    ["pl_curriculum_stages", "ev_spend_gini", "pl_numeric_drift_ks",
     "op_skyline_orders"],
)
def test_rewritten_queries_have_no_partitionless_window(views, qname):
    """Per-change protection for the four VERDICT r05 rewrites: their
    executed plans must never regrow a single-partition window (the
    registry-wide audit catches this offline; this pins it in CI)."""
    import os

    from keenwa_spark.queries import load_all

    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    df = load_all()[qname].fn(views, sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert partitionless_windows(plan) == []


def test_row_number_property_random_distributions(spark):
    """Property sweep: the two-pass rank equals the reference window
    across distribution shapes (uniform / heavy-tie / clustered /
    few-distinct), with and without a tie split column."""
    import random

    rng = random.Random(60)
    shapes = {
        "uniform": lambda i: rng.random() * 1000,
        "heavy_tie": lambda i: 7.0 if rng.random() < 0.8 else rng.random(),
        "clustered": lambda i: float(rng.choice([1, 2, 3])) + rng.random() / 1e6,
        "few_distinct": lambda i: float(rng.randrange(4)),
    }
    for name, gen in shapes.items():
        data = [(i, gen(i)) for i in range(1500)]
        d = spark.createDataFrame(data, "id long, v double")
        for tie in (None, "id"):
            got = with_global_row_number(
                d, ["v", "id"], "v", out_col="i", n_buckets=8, tie_bucket_col=tie
            )
            exp = d.withColumn(
                "i", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
            )
            assert {(r["id"], r["i"]) for r in got.collect()} == {
                (r["id"], r["i"]) for r in exp.collect()
            }, (name, tie)


def test_exact_interpolated_percentiles_bit_match_aggregate(spark):
    """The distributed exact percentile must be BIT-identical to
    Spark's percentile aggregate (the interpolation form
    (h-x)*lo + (x-l)*hi is exactly what the aggregate evaluates) —
    including under ties and at the endpoints."""
    import random

    from keenwa_spark.operators.ordered import exact_interpolated_percentiles

    rng = random.Random(11)
    data = [(i, round(rng.random() * 100, 3)) for i in range(4000)]
    data += [(10000 + i, 42.0) for i in range(400)]  # heavy tie
    d = spark.createDataFrame(data, "id long, v double")
    probs = [0.0, 0.01, 1 / 3, 0.5, 0.9, 0.999, 1.0]
    ref = d.agg(
        F.percentile("v", F.array(*[F.lit(p) for p in probs])).alias("c")
    ).collect()[0]["c"]
    got = exact_interpolated_percentiles(d, "v", probs, n_buckets=8)
    assert got == list(ref)


def test_exact_interpolated_percentiles_empty(spark):
    from keenwa_spark.operators.ordered import exact_interpolated_percentiles

    d = spark.createDataFrame([], "v double")
    assert exact_interpolated_percentiles(d, "v", [0.5]) == []


@pytest.mark.parametrize("dense", [False, True])
@pytest.mark.parametrize("descending", [False, True])
def test_global_rank_and_dense_rank_match_window(vals, dense, descending):
    from keenwa_spark.operators.ordered import with_global_rank

    got = with_global_rank(
        vals, "v", out_col="rk", descending=descending, dense=dense, n_buckets=8
    )
    order = F.col("v").desc() if descending else F.col("v")
    fn = F.dense_rank() if dense else F.rank()
    exp = vals.withColumn("rk", fn.over(Window.orderBy(order)).cast("bigint"))
    assert {(r["id"], r["rk"]) for r in got.collect()} == {
        (r["id"], r["rk"]) for r in exp.collect()
    }


def test_non_numeric_bucket_column_rejected(spark):
    d = spark.createDataFrame([("a", 1)], "s string, id int")
    with pytest.raises(ValueError, match="must be numeric"):
        with_global_row_number(d, ["s", "id"], "s")


def test_bad_n_buckets_rejected(vals):
    with pytest.raises(ValueError, match="n_buckets"):
        with_global_row_number(vals, ["v", "id"], "v", n_buckets=0)


def test_grouped_exact_percentiles_bit_match_aggregate(spark):
    """Per-group distributed exact percentiles must be bit-identical
    to the grouped percentile aggregate, including a mega-tie group."""
    import random

    from keenwa_spark.operators.ordered import grouped_exact_percentiles

    rng = random.Random(5)
    data = [(i % 4, round(rng.random() * 100, 3)) for i in range(8000)]
    data += [(1, 42.0)] * 300
    d = spark.createDataFrame(data, "g int, v double")
    probs = [0.01, 0.25, 0.5, 0.99]
    ref = {
        r["g"]: list(r["c"])
        for r in d.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(p) for p in probs])).alias("c"))
        .collect()
    }
    got = {
        r["g"]: [r[f"__q{i}"] for i in range(len(probs))]
        for r in grouped_exact_percentiles(d, "v", ["g"], probs).collect()
    }
    assert got == ref


def test_global_rank_mega_tie_no_straggler(spark):
    """A 90%-one-value corpus: ranks stay exact AND the plan's window
    runs over the distinct-value table, never the raw rows."""
    from keenwa_spark.operators.ordered import with_global_rank

    d = spark.range(3000).select(
        F.col("id"),
        F.when(F.col("id") < 2700, F.lit(5.0))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    for dense in (False, True):
        got = with_global_rank(d, "v", out_col="rk", dense=dense, n_buckets=8)
        fn = F.dense_rank() if dense else F.rank()
        exp = d.withColumn("rk", fn.over(Window.orderBy("v")).cast("bigint"))
        assert {(r["id"], r["rk"]) for r in got.collect()} == {
            (r["id"], r["rk"]) for r in exp.collect()
        }


def test_registry_audit_main_exits_1_on_injected_offender(spark, monkeypatch):
    """VERDICT r05 item 2, literal done-criterion: the audit PROCESS
    exits 1 when the registry contains a partitionless-window query."""
    import keenwa_spark.queries as q
    from keenwa_spark.queries import QuerySpec
    from tools import registry_audit

    def bad(s, sf_dir):
        d = s.range(500).withColumn("v", (F.col("id") * 37) % 101)
        return d.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        )

    def fake_load_all():
        return {"injected_bad": QuerySpec(name="injected_bad", fn=bad)}

    monkeypatch.setattr(q, "load_all", fake_load_all)
    monkeypatch.setattr(
        "keenwa_spark.session.get_spark", lambda *a, **k: spark
    )
    with pytest.raises(SystemExit) as e:
        registry_audit.main()
    assert e.value.code == 1


def test_global_cumsum_descending_matches_window(vals):
    got = with_global_cumsum(
        vals, ["v", "id"], "v", {"cw": "w"}, descending=True, n_buckets=8
    )
    w = Window.orderBy(F.col("v").desc(), "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    exp = vals.withColumn("cw", F.sum("w").over(w))
    assert {(r["id"], r["cw"]) for r in got.collect()} == {
        (r["id"], r["cw"]) for r in exp.collect()
    }


def test_grouped_percentiles_rejects_empty_probs(spark):
    from keenwa_spark.operators.ordered import grouped_exact_percentiles

    d = spark.createDataFrame([(1, 1.0)], "g int, v double")
    with pytest.raises(ValueError, match="probs"):
        grouped_exact_percentiles(d, "v", ["g"], [])


# ---- round-7 fixes (ADVICE r06 items 1-3, VERDICT r06 items 2+7) -----------


def test_global_rank_keeps_null_rows_nullsafe_join(spark):
    """ADVICE r06 item 1: RANK() OVER (ORDER BY col) ranks NULL rows
    (NULLS FIRST asc); the join-back must be null-safe so they
    survive — row count preserved, NULL ranks match the window."""
    from keenwa_spark.operators.ordered import with_global_rank

    d = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(
            ((F.col("id") * 37) % 83).cast("double")
        ).alias("v"),
    )
    for dense in (False, True):
        for descending in (False, True):
            got = with_global_rank(
                d, "v", out_col="rk", dense=dense, descending=descending,
                n_buckets=8,
            )
            assert got.count() == 1000, (dense, descending)
            order = F.col("v").desc() if descending else F.col("v")
            fn = F.dense_rank() if dense else F.rank()
            exp = d.withColumn(
                "rk", fn.over(Window.orderBy(order)).cast("bigint")
            )
            assert {(r["id"], r["rk"]) for r in got.collect()} == {
                (r["id"], r["rk"]) for r in exp.collect()
            }, (dense, descending)


def test_global_rank_join_back_broadcasts_small_domain(vals):
    """VERDICT r06 item 7: with a small distinct domain the ranks side
    must take the broadcast path (no shuffle of df on the join key)."""
    from keenwa_spark.operators.ordered import with_global_rank

    got = with_global_rank(vals, "v", out_col="rk", n_buckets=8)
    got.collect()
    assert "BroadcastHashJoin" in final_plan_text(got)


def test_mega_tie_bigint_beyond_double_precision(spark):
    """ADVICE r06 item 2: two distinct bigint values that collide at
    double precision (2^53 and 2^53+1), one of them a mega-tie — the
    native-typed comparisons must keep them apart and the global
    row number exact."""
    hv = 2**53
    d = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") < 1800, F.lit(hv))
        .when(F.col("id") < 1900, F.lit(hv + 1))
        .otherwise(F.col("id"))
        .cast("bigint")
        .alias("v"),
    )
    assert float(hv) == float(hv + 1)  # the collision is real
    got = with_global_row_number(
        d, ["v", "id"], "v", out_col="i", n_buckets=8, tie_bucket_col="id"
    )
    exp = d.withColumn(
        "i", F.row_number().over(Window.orderBy("v", "id")).cast("bigint")
    )
    assert {(r["id"], r["i"]) for r in got.collect()} == {
        (r["id"], r["i"]) for r in exp.collect()
    }


def test_global_cumsum_nullable_all_null_bucket_prefix(spark):
    """ADVICE r06 item 3: a row in bucket k>0 whose LOCAL prefix is
    all-NULL must take the earlier buckets' running sum (not NULL),
    while a row with no non-null value anywhere before it stays NULL
    — exactly the window semantics."""
    d = spark.range(2000).select(
        F.col("id"),
        F.col("id").cast("double").alias("v"),
        # NULL except a narrow early band: rows id>=100 in later
        # buckets have all-NULL local prefixes; rows id<50 have no
        # non-null anywhere before them (must stay NULL)
        F.when((F.col("id") >= 50) & (F.col("id") < 100), F.col("id") % 7)
        .cast("bigint")
        .alias("w"),
    )
    got = with_global_cumsum(d, ["v", "id"], "v", {"cw": "w"}, n_buckets=8)
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    exp = d.withColumn("cw", F.sum("w").over(w))
    assert {(r["id"], r["cw"]) for r in got.collect()} == {
        (r["id"], r["cw"]) for r in exp.collect()
    }
    # the scenario is actually exercised: late rows are non-NULL
    assert got.where((F.col("id") > 500) & F.col("cw").isNull()).count() == 0
    assert got.where((F.col("id") < 50) & F.col("cw").isNotNull()).count() == 0


def _spark_jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_mega_tie_detection_free_refit_bounded(spark):
    """VERDICT r07 item 1 done-criterion: heavy-value detection must be
    FREE when no skew exists — the balanced tie path runs exactly the
    jobs the plain path needs (quantile fit + offset stats + action),
    with the detection signal read off the stats collect instead of a
    dedicated value-count pass (the r7 shape that regressed
    ev_spend_gini 1.49x). A genuine mega-tie pays exactly three extra
    jobs: the bucket-restricted value count, the shared
    percentile_approx grid, and the re-stats over the refined
    assignment."""
    flat = spark.range(2000).select(
        F.col("id"), ((F.col("id") * 37) % 997).cast("double").alias("v")
    )
    tied = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") < 1800, F.lit(5.0))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    # AQE splits multi-stage actions into a variable number of jobs;
    # disable it here so one action == one job and the pass count is
    # exactly observable
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs_flat = _spark_jobs(
            spark,
            "kw-r7-flat",
            lambda: with_global_row_number(
                flat, ["v", "id"], "v", out_col="i", n_buckets=8,
                tie_bucket_col="id",
            ).count(),
        )
        jobs_tied = _spark_jobs(
            spark,
            "kw-r7-tied",
            lambda: with_global_row_number(
                tied, ["v", "id"], "v", out_col="i", n_buckets=8,
                tie_bucket_col="id",
            ).count(),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    # balanced: approxQuantile fit + stats collect + the final count —
    # NOTHING else (no detection pass); skewed: + value scan + grid +
    # re-stats
    assert jobs_flat == 3, jobs_flat
    assert jobs_tied == jobs_flat + 3, (jobs_flat, jobs_tied)
