"""Round-10 100x scale probes (VERDICT r09 item 3): every prior probe
stopped at 10x; the brief's bar is "survives 100x". Three
scale-critical families, each staged as a REAL 100x corpus in /tmp
parquet (read back fresh so the probes measure the operator, not the
staging union) and probed at 1x / 10x / 100x:

1. **Two-pass exact global ordering** (operators/ordered.py
   with_global_row_number over events.value): events 100k -> 1M -> 10M
   rows. The claim: driver state stays bounded (<= n_buckets-1
   quantile cuts + one <= n_buckets-row stats collect) regardless of
   input size, wall grows ~linearly, never a single-partition sort.
   Recorded: wall, rows, len(cuts) (the ENTIRE driver state).

2. **minhash_lsh_pairs** (pipeline/dedup.py): documents 5k -> 50k ->
   500k docs, staged as per-copy-salted near-duplicate copies ("c{i} "
   text prefix keeps shingle Jaccard ~0.95 across copies) — the
   adversarial regime where every (band,bkey) bucket goes viral with
   ~100 members. The claim: ONE (band,bkey) shuffle; max_bucket caps
   the pair expansion so output stays bounded-per-bucket. Recorded:
   wall, candidate pairs, plan exchange count.

3. **ivfpq_search** (pipeline/pq.py): embeddings 2k -> 20k -> 200k
   vectors. The claim: both fits on ONE bounded sample; the corpus is
   never shuffled (assignment/encode/ADC all broadcast-side).
   Recorded: wall, plan counts (corpus-side exchanges).

Staged data is cleaned by the OS (/tmp); re-running re-stages only
missing sizes. Prints SCALE.md-ready rows.

Run: python tools/r10_scale100_probe.py [probe ...] (default: all)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STAGE = "/tmp/keenwa_r10_scale100"


def _time(build, runs: int = 3) -> tuple[float, int]:
    best, n = float("inf"), 0
    for _ in range(runs):
        t0 = time.time()
        n = build().count()
        best = min(best, time.time() - t0)
    return best, n


def _plan_counts(df) -> str:
    from keenwa_spark.plans import summarize

    df.count()
    s = summarize(df)
    return (
        f"exch={s.exchanges} bhj={s.broadcast_joins} smj={s.sort_merge_joins}"
        f" nlj={s.nested_loop_joins} cart={s.cartesian_products}"
        f" py={s.python_evals}"
    )


def _stage(spark, name: str, factor: int, build) -> str:
    path = f"{STAGE}/{name}_{factor}x"
    if not os.path.exists(path + "/_SUCCESS"):
        build(factor).write.mode("overwrite").parquet(path)
    return path


def stage_events(spark, factor: int) -> str:
    def build(f):
        ev = spark.read.parquet(f"{BASE}/events.parquet")
        parts = [
            ev.select(
                (F.col("event_id") + F.lit(i * 100_000_000)).alias("event_id"),
                # shift ts by i microseconds and value by a tiny
                # i-derived epsilon so the 100x column isn't a pure
                # 100-way tie explosion (copies stay near-identical,
                # ties still heavy inside each copy)
                F.expr(f"ts + make_interval(0,0,0,0,0,0,{i}*1e-6)").alias("ts"),
                "user_id",
                "event_type",
                (F.col("value") + F.lit(i * 1e-9)).alias("value"),
                "props",
            )
            for i in range(f)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return _stage(spark, "events", factor, build)


def stage_documents(spark, factor: int) -> str:
    def build(f):
        d = spark.read.parquet(f"{BASE}/documents.parquet")
        parts = [
            d.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.concat(F.lit(f"c{i} "), F.col("text")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            for i in range(f)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return _stage(spark, "documents", factor, build)


def stage_embeddings(spark, factor: int) -> str:
    def build(f):
        e = spark.read.parquet(f"{BASE}/embeddings.parquet")
        parts = [
            e.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(f)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return _stage(spark, "embeddings", factor, build)


def probe_ordered(spark) -> None:
    from keenwa_spark.operators.ordered import fit_bucket_cuts, with_global_row_number

    print("## with_global_row_number over events.value (1x/10x/100x = 100k/1M/10M rows)")
    for factor in (1, 10, 100):
        path = stage_events(spark, factor)
        runs = 3 if factor < 100 else 2

        def build(path=path):
            ev = spark.read.parquet(path)
            return with_global_row_number(
                ev, order_by=["value", "event_id"], bucket_col="value"
            )

        out = build()
        cuts = fit_bucket_cuts(spark.read.parquet(path), "value")
        wall, n = _time(build, runs)
        print(
            f"{factor}x: wall {wall:.2f}s rows {n} "
            f"driver_state={len(cuts)} cuts [{_plan_counts(out)}]"
        )


def probe_lsh(spark) -> None:
    from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

    print("## minhash_lsh_pairs (1x/10x/100x = 5k/50k/500k docs, salted copies ~0.95 Jaccard)")
    for factor in (1, 10, 100):
        path = stage_documents(spark, factor)
        runs = 3 if factor < 100 else 2

        def build(path=path):
            return minhash_lsh_pairs(spark.read.parquet(path))

        out = build()
        wall, n = _time(build, runs)
        print(f"{factor}x: wall {wall:.2f}s pairs {n} [{_plan_counts(out)}]")
    # the viral-bucket guard: at 100x every (band,bkey) bucket holds
    # ~100 salted copies (pair output is QUADRATIC in duplication by
    # definition — 27M pairs above is the true answer, not a blowup);
    # max_bucket below the copy count drops the viral buckets and
    # bounds the output, which is exactly the 100 TB contract
    path = stage_documents(spark, 100)

    def build_capped():
        return minhash_lsh_pairs(spark.read.parquet(path), max_bucket=50)

    wall, n = _time(build_capped, 2)
    print(f"100x max_bucket=50: wall {wall:.2f}s pairs {n}")


def probe_cc(spark) -> None:
    """LSH -> connected components over the salted near-dup corpus:
    every base doc's ~100 copies must collapse to ONE component, so the
    component count is a SEMANTIC check at scale (expect ~n_base), not
    just a wall-clock row.

    Each row names the path connected_components took, read from the
    labels' plan: ``driver`` (a LocalRelation: at most
    clustering.SMALL_GRAPH_MAX_PAIRS pairs) or ``distributed`` (the
    hop/jump loop). At 1x and 10x a second row forces the distributed
    loop (threshold 0) and must give the same node and component
    counts; 100x is above the threshold, so its one row must already
    be distributed."""
    from keenwa_spark.pipeline import clustering
    from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

    default_max = clustering.SMALL_GRAPH_MAX_PAIRS
    print("## lsh -> connected_components (1x/10x/100x; component count ~= base docs)")
    for factor in (1, 10, 100):
        path = stage_documents(spark, factor)
        docs = spark.read.parquet(path)
        t0 = time.time()
        pairs = minhash_lsh_pairs(docs, max_bucket=200).localCheckpoint(
            eager=True
        )
        n_pairs = pairs.count()
        t_pairs = time.time() - t0
        counts = set()
        for max_pairs in (default_max, 0) if factor < 100 else (default_max,):
            clustering.SMALL_GRAPH_MAX_PAIRS = max_pairs
            try:
                t0 = time.time()
                cc = clustering.connected_components(pairs)
                n_comp = cc.select("component").distinct().count()
                n_nodes = cc.count()
                t_cc = time.time() - t0
            finally:
                clustering.SMALL_GRAPH_MAX_PAIRS = default_max
            plan = cc._jdf.queryExecution().optimizedPlan().toString()
            cc_path = "driver" if "LocalRelation" in plan else "distributed"
            forced = " (forced)" if max_pairs == 0 else ""
            print(
                f"{factor}x: pairs {n_pairs} in {t_pairs:.1f}s; "
                f"CC {cc_path}{forced} {n_nodes} nodes -> {n_comp} "
                f"components in {t_cc:.1f}s"
            )
            counts.add((n_nodes, n_comp))
        if len(counts) != 1:
            raise RuntimeError(f"{factor}x: paths disagree: {sorted(counts)}")
        if factor == 100 and cc_path != "distributed":
            raise RuntimeError("100x must take the distributed path")


def probe_ivfpq(spark) -> None:
    from keenwa_spark.pipeline.pq import ivfpq_search

    print("## ivfpq_search (1x/10x/100x = 2k/20k/200k vectors; fits stay bounded)")
    for factor in (1, 10, 100):
        path = stage_embeddings(spark, factor)
        runs = 3 if factor < 100 else 2

        def build(path=path):
            e = spark.read.parquet(path)
            return ivfpq_search(
                e, e.filter("vec_id < 10"), k_cells=4, nprobe=2,
                m=4, k_codes=8, topk=5,
            )

        out = build()
        wall, n = _time(build, runs)
        print(f"{factor}x: wall {wall:.2f}s rows {n} [{_plan_counts(out)}]")


def main() -> None:
    from keenwa_spark.session import get_spark

    spark = get_spark("r10_scale100_probe")
    which = set(sys.argv[1:]) or {"ordered", "lsh", "ivfpq", "cc"}
    if "ordered" in which:
        probe_ordered(spark)
    if "lsh" in which:
        probe_lsh(spark)
    if "ivfpq" in which:
        probe_ivfpq(spark)
    if "cc" in which:
        probe_cc(spark)


if __name__ == "__main__":
    main()
