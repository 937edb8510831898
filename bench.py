"""Headline timer: the headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query runs best-of-3 after a warmup query primes the JVM and the
file listing; timing includes plan + execution (count), which is what
a user experiences. Next to each query's best wall it records the
process-tree CPU seconds of that same run (the driver JVM with its
local executors and Python workers, plus this process), which host
steal inflates far less than wall time, and the classes Janino
compiled over the three runs.

Prints ONE JSON line:
  {"metric": "...", "value": <total wall sec>, "unit": "sec", "sf": <sf>,
   "queries": {name: sec, ...}, "cpu_s": <total cpu sec>,
   "detail_file": "BENCH_DETAIL.json"}

and rewrites BENCH_DETAIL.json with the full record (per-query wall,
CPU, spread and codegen compiles, the DuckDB yardstick, LSH bucket
skew). This is a timer, not a regression gate: regressions are judged
by paired ``perfbench/run.py`` runs of the parent and the change.

Headline set: one representative of each heavy plan family — star-join
agg (flagship), full-scan agg (TPC-H Q1 shape), multi-CTE join, window
top-N, sessionization (two window passes + agg), correlated scalar
subquery, MinHash-LSH dedup, brute-force ANN and the pipeline families
added since.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.procstat import descendants, self_cpu_s

#: directory that receives BENCH_DETAIL.json (tools/capture_plans.py
#: writes its plans/ tree under it too)
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

_TICK = os.sysconf("SC_CLK_TCK")

DETAIL_FILE = "BENCH_DETAIL.json"

HEADLINE = [
    "flagship_top_customers",
    "agg_group_having",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q18_large_volume_customer",
    "q9_product_profit",
    "q21_waiting_supplier",
    "cte_reuse",
    "win_topn_per_group",
    "ev_sessionize",
    "subq_scalar_correlated",
    "op_asof_attribution",
    "op_hypertable_rollup",
    "op_interval_overlap",
    "pl_search_topk",
    "pl_minhash_lsh_pairs",
    "pl_ann_cosine_topk",
    "pl_ann_ivf_topk",
    "pl_corpus_curation",
    # round-5 session additions: CDC full-outer merge, corpus-trained
    # LM scoring (explode + two model aggs + scoring join), bounded
    # basket self-join — each a new heavy plan family
    "op_snapshot_diff",
    "pl_lm_surprisal",
    "ev_type_cooccurrence",
    # round-6 additions: fused chunk->pack (single doc-level exchange)
    # and the two-pass range-bucket global rank that replaced the
    # single-partition NTILE / Lorenz-rank windows
    "pl_chunk_pack_fused",
    "pl_curriculum_stages",
    "ev_spend_gini",
    # the end-to-end curation flagship: gate -> dedup -> sample -> pack
    "pl_training_data_flow",
    # round-7 additions: sketch aggregate (HLL++ + exact-distinct
    # oracle side) and the shard-export manifest (hash assignment +
    # order-independent checksum agg)
    "pl_sketch_distinct_bounds",
    "pl_shard_manifest",
    # round-8 additions: DSIR hashed-ngram importance weights (explode
    # -> broadcast bucket model -> doc-keyed integer partials) and
    # PQ+refine ANN (driver codebook fit, shuffle-free encode, ADC
    # scan, broadcast-shortlist exact rerank)
    "pl_dsir_weights",
    "pl_ann_pq_refined_topk",
    # round-9 addition: the composed IVF-PQ shape (coarse prune +
    # residual-codebook ADC; both fits on one bounded sample)
    "pl_ann_ivfpq_topk",
    # round-10 session-2 additions: Bloom-filter decontamination (bit_or
    # bitmap build + zero-join dense-probe projection), count-min heavy
    # hitters (mergeable counter sketch + broadcast point queries), and
    # the token-vote classifier (vocab-bounded window argmax train +
    # token-join inference) — the new portable-sketch / text-model
    # plan families
    "pl_bloom_decontaminate",
    "pl_cms_heavy_hitters",
    "pl_token_vote_classify",
    # round-11 addition: per-cell-codebook IVF-PQ (rotation-free LOPQ,
    # adopted from the r11 per-cell study for +0.11..+0.27 recall@5) —
    # same broadcast-model plan family as ivfpq, model join key = cid
    "pl_ann_lopq_topk",
]


#: the TPC-H-shape headline rows (the first block of HEADLINE) timed on
#: DuckDB too — an ABSOLUTE same-box yardstick (VERDICT r07 item 5: the
#: "2x of recorded baseline" bar is self-referential because the
#: reference publishes no execution numbers). Context, not a gate:
#: DuckDB single-node at sf0.1 is vectorized C++ with zero JVM/job
#:  overhead — the regime where Spark's distributed machinery is pure
#: cost — so the ratio is an upper bound on per-query overhead, not a
#: scale prediction.
DUCK_YARDSTICK = 10


def bucket_skew_stats(spark, sf_dir: str) -> dict[str, dict]:
    """Max bucket size seen BEFORE the viral-bucket cap for both capped
    LSH/band families (minhash text LSH on the documents table, aHash
    banding on the fixture image set) — one tiny aggregate row each,
    identical bucket population to the operators' own (shared
    ``_*_band_buckets`` builders). Tracks the cap's headroom as SF
    grows; never part of any timed measurement."""
    from keenwa_spark.pipeline.dedup import minhash_bucket_stats
    from keenwa_spark.pipeline.multimodal import (
        ahash_bucket_stats,
        ahash_fingerprints,
    )
    from keenwa_spark.queries import ensure_views
    from keenwa_spark.queries.multimodal_queries import _image_df

    ensure_views(spark, sf_dir)
    spark.sparkContext.setJobDescription("bench: lsh bucket-skew stats (untimed)")
    out: dict[str, dict] = {}
    row = minhash_bucket_stats(spark.table("documents")).collect()[0]
    out["minhash_lsh"] = row.asDict()
    row = ahash_bucket_stats(ahash_fingerprints(_image_df(spark))).collect()[0]
    out["ahash_band"] = row.asDict()
    spark.sparkContext.setJobDescription(None)
    return out


def duckdb_yardstick(registry, sf_dir: str) -> dict[str, float]:
    """Best-of-3 DuckDB wall-clock for each yardstick query's ORACLE
    SQL over the same parquet files (oracles are semantically identical
    ANSI SQL — the same text the correctness gate value-matches)."""
    from tools.check_correctness import duck_con

    con = duck_con(sf_dir)
    con.execute("SELECT count(*) FROM lineitem")  # touch/warm the files
    out: dict[str, float] = {}
    for name in HEADLINE[:DUCK_YARDSTICK]:
        sql = registry[name].oracle
        times = []
        for _ in range(3):
            t0 = time.time()
            con.execute(sql).fetchall()
            times.append(time.time() - t0)
        out[name] = round(min(times), 3)
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def cpu_reading(pid: int) -> dict:
    """CPU seconds per process, each with its reaped children's: this
    process under ``"self"``, and ``pid`` and each live descendant under
    ``(pid, start time)``."""
    out = {"self": self_cpu_s()}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue  # exited while we walked the tree
        # utime stime cutime cstime (fields 14-17), starttime (22)
        out[(p, fields[19])] = sum(int(x) for x in fields[11:15]) / _TICK
    return out


def cpu_between(before: dict, after: dict) -> float:
    """CPU seconds used between two ``cpu_reading``s. A process that
    ended in between drops out of both readings: PySpark's worker daemon
    ignores SIGCHLD, so a Python worker stopped after a minute idle
    takes its CPU out of the tree instead of adding it to a parent's,
    and subtracting its first reading can make the total negative."""
    return sum(c - before.get(k, 0.0) for k, c in after.items())


def time_best_of_3(run, spark) -> tuple[float, float, float, int, int]:
    """(best wall, CPU of that same run, max/min wall spread, rows,
    classes compiled) over three calls of ``run()``, which returns a row
    count. CPU is the process-tree CPU of ``spark``'s JVM plus this
    process, read outside the wall window. Best-of-3 because
    same-session runs of one query vary up to 2x on this kind of shared
    host; the spread keeps that visible. Compiles are summed over all
    three runs: a nonzero count on a warm query means the codegen cache
    is evicting its classes."""
    from keenwa_spark.session import codegen_stats

    pid = jvm_pid(spark)
    compiles0, _ = codegen_stats(spark)
    runs = []
    for _ in range(3):
        cpu0 = cpu_reading(pid)
        t0 = time.perf_counter()
        rows = run()
        wall = time.perf_counter() - t0
        runs.append((wall, cpu_between(cpu0, cpu_reading(pid))))
    compiles = codegen_stats(spark)[0] - compiles0
    wall, cpu = min(runs)
    return wall, cpu, max(w for w, _ in runs) / wall, rows, compiles


def headline_detail(
    walls: dict[str, float],
    cpus: dict[str, float],
    spreads: dict[str, float],
    compiles: dict[str, int],
    sf: float,
) -> dict:
    """The detail record's timing part; ``value`` is the sum of the
    recorded (rounded) per-query walls, so the two always agree."""
    queries = {n: round(t, 3) for n, t in walls.items()}
    return {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": sf,
        "queries": queries,
        "cpu_s": round(sum(cpus.values()), 3),
        "queries_cpu_s": {n: round(c, 3) for n, c in cpus.items()},
        "spread": {n: round(s, 2) for n, s in spreads.items()},
        "queries_codegen_compiles": dict(compiles),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from keenwa_spark.queries import load_all
    from keenwa_spark.session import get_spark

    registry = load_all()
    spark = get_spark("keenwa_spark_bench")

    # warmup: prime file listing + codegen paths (not timed)
    registry["get_scan"].fn(spark, sf_dir).count()

    walls: dict[str, float] = {}
    cpus: dict[str, float] = {}
    spreads: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name in HEADLINE:
        fn = registry[name].fn
        walls[name], cpus[name], spreads[name], n, compiles[name] = (
            time_best_of_3(lambda: fn(spark, sf_dir).count(), spark)
        )
        print(
            f"# {name}: {walls[name]:.2f}s wall, {cpus[name]:.2f}s cpu"
            f" ({n} rows, spread {spreads[name]:.2f}x,"
            f" {compiles[name]} compiles)",
            file=sys.stderr,
        )
    detail = headline_detail(walls, cpus, spreads, compiles, sf)

    # absolute yardstick: DuckDB wall-clock of the same oracle SQL on
    # the same box/files for the TPC-H-shape rows (context, not a gate)
    duck = duckdb_yardstick(registry, sf_dir)
    ratios = {
        n: round(detail["queries"][n] / d, 2) for n, d in duck.items() if d > 0
    }
    geo = round(
        math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios)), 2
    ) if ratios else None
    print(
        f"# duckdb yardstick (spark/duck, sf={sf}): geomean {geo}x "
        + " ".join(f"{n}={r}x" for n, r in ratios.items()),
        file=sys.stderr,
    )
    detail["duckdb"] = {
        "queries_sec": duck,
        "spark_over_duck": ratios,
        "geomean_ratio": geo,
    }

    # bucket-skew headroom for the capped LSH/band families, computed
    # OUTSIDE the timed region. (An Observation riding the operators'
    # own agg jobs was prototyped first, but AQE drops CollectMetrics
    # accumulators from non-final query stages — observedMetrics came
    # back empty; recomputing the tiny stats row untimed is the honest
    # fallback.)
    detail["skew"] = bucket_skew_stats(spark, sf_dir)
    print(f"# lsh bucket skew: {json.dumps(detail['skew'])}", file=sys.stderr)

    detail_path = os.path.join(BENCH_DIR, DETAIL_FILE)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")
    print(f"# full detail -> {detail_path}", file=sys.stderr)

    print(compact_line(detail))


#: the bench stdout is captured only up to its last ~2000 chars; the
#: line must stay inside (tests/test_bench_contract.py pins it)
CAPTURE_BUDGET = 1800


def compact_line(detail: dict) -> str:
    """The ONE stdout JSON line: totals plus per-query walls to 10 ms;
    everything else lives in the detail file."""
    return json.dumps(
        {
            "metric": detail["metric"],
            "value": detail["value"],
            "unit": detail["unit"],
            "sf": detail["sf"],
            "queries": {n: round(t, 2) for n, t in detail["queries"].items()},
            "cpu_s": detail["cpu_s"],
            "detail_file": DETAIL_FILE,
        }
    )


if __name__ == "__main__":
    main()
