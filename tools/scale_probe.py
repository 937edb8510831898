"""Scale harness: run the engine's operator families on corpora staged
at 1x/10x/100x of one base directory, record one row per family and
scale in SCALE.json, and rewrite SCALE.md's measured tables from it.

    python tools/scale_probe.py [FAMILY ...] [--x 1,10]

FAMILY defaults to every family in ``FAMILIES``; ``--x`` defaults to
1,10. The base directory is SPARK_GRAFT_SF_DIR (default: the sf0.1
testdata directory, as for bench.py). Each corpus is written once per base directory
and staging rule under /tmp/keenwa_scale and reused while its
``_SUCCESS`` marker exists; delete the directory to stage it again.

A row is ``{family, x, base, rows, wall_s, cpu_s, jobs, driver_state,
path, census, jvm_hwm_mb, checks, measured}``; SCALE.md ("Scale
probes") says how each is measured. A failed semantic check raises
``ScaleCheckError``, so the run stops with exit status 1.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import subprocess
import sys
import time
import uuid
import zlib
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import cpu_between, cpu_reading, jvm_pid  # noqa: E402
from perfbench.procstat import hwm_mb  # noqa: E402

STAGE_ROOT = "/tmp/keenwa_scale"
SCALE_JSON = os.path.join(REPO, "SCALE.json")
SCALE_MD = os.path.join(REPO, "SCALE.md")

ROW_KEYS = (
    "family", "x", "base", "rows", "wall_s", "cpu_s", "jobs",
    "driver_state", "path", "census", "jvm_hwm_mb", "checks", "measured",
)


class ScaleCheckError(AssertionError):
    """A family's semantic check failed."""


def check(m: dict, name: str, ok: bool, detail: str = "") -> None:
    if not ok:
        raise ScaleCheckError(f"{name}: {detail}")
    m.setdefault("checks", []).append(name)


#: corpus -> (rule, build(spark, base, x) -> DataFrame). The rule text
#: is recorded in SCALE.json and keys the staged path.
STAGING: dict[str, tuple[str, Callable]] = {}


def _staging(name: str, rule: str):
    def register(build):
        STAGING[name] = (rule, build)
        return build

    return register


def _h(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()[:8]


def stage_path(base: str, name: str, x: int) -> str:
    base = os.path.abspath(base)
    key = f"{os.path.basename(base)}-{_h(base)}"
    return os.path.join(STAGE_ROOT, key, f"{name}_{x}x-{_h(STAGING[name][0])}")


def stage(spark, base: str, name: str, x: int) -> str:
    """Path of corpus ``name`` at ``x`` times ``base``; written on
    first use and read back fresh, so a probe measures the operator and
    not the staging union."""
    path = stage_path(base, name, x)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        STAGING[name][1](spark, base, x).write.mode("overwrite").parquet(path)
    return path


def read(spark, base: str, name: str, x: int):
    from keenwa_spark.sources.readers import read_parquet

    return read_parquet(spark, stage(spark, base, name, x))


def _table(spark, base: str, table: str):
    from keenwa_spark.sources.readers import read_parquet

    return read_parquet(spark, os.path.join(base, f"{table}.parquet"))


def _copies(x: int, copy):
    out = copy(0)
    for i in range(1, x):
        out = out.unionByName(copy(i))
    return out


@_staging(
    "events",
    "x copies of events; copy i: event_id + i*10^9, user_id + (i % 3)*10^6, "
    "ts + i microseconds, value + i*1e-9",
)
def _events(spark, base, x):
    ev = _table(spark, base, "events")
    return _copies(x, lambda i: ev.select(
        (F.col("event_id") + i * 10**9).alias("event_id"),
        F.expr(f"timestamp_micros(unix_micros(ts) + {i})").alias("ts"),
        (F.col("user_id") + (i % 3) * 10**6).alias("user_id"),
        "event_type", (F.col("value") + i * 1e-9).alias("value"), "props",
    ))


@_staging(
    "documents",
    "x copies of documents; copy i: doc_id + i*10^7, text prefixed "
    "with 'c{i} ' (copies are ~0.95-Jaccard near-duplicates)",
)
def _documents(spark, base, x):
    d = _table(spark, base, "documents")
    return _copies(x, lambda i: d.select(
        (F.col("doc_id") + i * 10**7).alias("doc_id"),
        F.concat(F.lit(f"c{i} "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    ))


@_staging(
    "embeddings",
    "x copies of embeddings; copy i: vec_id + i*10^6, embedding[0] + "
    "0.01*i (copies stay near their original but are not identical)",
)
def _embeddings(spark, base, x):
    e = _table(spark, base, "embeddings")
    return _copies(x, lambda i: e.select(
        (F.col("vec_id") + i * 10**6).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + i * 0.01).cast("float")),
            F.slice("embedding", 2, 1 << 20),
        ).alias("embedding"),
        "label",
    ))


@_staging(
    "linkage",
    "clean names: events/20*x rows '{7-digit id}nm person' (a 4-char "
    "prefix block per 1000 ids) plus events/50*x rows 'aaaa viral "
    "{id % 97}' sharing one prefix block",
)
def _linkage(spark, base, x):
    n = _table(spark, base, "events").count()
    benign = spark.range(n // 20 * x).select(
        F.col("id").alias("rid"), F.format_string("%07dnm person", F.col("id")).alias("name"))
    viral = spark.range(n // 50 * x).select(
        (F.col("id") + 10**9).alias("rid"),
        F.format_string("aaaa viral %d", F.col("id") % 97).alias("name"))
    return benign.unionByName(viral)


@_staging(
    "megatie",
    "10*events*x rows (id, v): 90% share v=42.0, the rest spread over "
    "~100k distinct doubles",
)
def _megatie(spark, base, x):
    return spark.range(10 * _table(spark, base, "events").count() * x).select(
        "id",
        F.when(F.col("id") % 10 < 9, F.lit(42.0))
        .otherwise((F.col("id") % 100003).cast("double") + 1e6)
        .alias("v"),
    )


@_staging(
    "purchase_edges",
    "x copies of orders join lineitem as 'c{custkey}' -> 's{suppkey}' "
    "edges; copy i shifts both keys by i*10^6",
)
def _purchase_edges(spark, base, x):
    o, li = _table(spark, base, "orders"), _table(spark, base, "lineitem")
    e = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
    )
    return _copies(x, lambda i: e.select(
        F.concat(F.lit("c"), (F.col("ck") + i * 10**6).cast("string")).alias("src"),
        F.concat(F.lit("s"), (F.col("sk") + i * 10**6).cast("string")).alias("dst"),
    ))


@_staging(
    "mmr_candidates",
    "10*x queries over the staged embeddings: query q holds the 12 "
    "lowest vec_id with vec_id % (10*x) = q, rel = (vec_id % 97)/97",
)
def _mmr_candidates(spark, base, x):
    from pyspark.sql.window import Window

    nq = 10 * x
    w = Window.partitionBy("query_id").orderBy("vec_id")
    return (
        read(spark, base, "embeddings", x)
        .select((F.col("vec_id") % nq).alias("query_id"), "vec_id", "embedding",
                ((F.col("vec_id") % 97) / F.lit(97.0)).alias("rel"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 12)
        .drop("rn")
    )


#: PNG variants per copy; seeding them by copy keeps near-dup group
#: depth constant while the group count grows with x
P_IMG = 72


def _png_variant(seed: int, pi: int) -> bytes:
    from keenwa_spark.pipeline.png import encode_png

    if pi == P_IMG - 1:
        return b"\x89PNG-corrupt" + bytes((seed + i) % 256 for i in range(64))
    w, h = 8 + (pi % 5) * 4, 8 + (pi // 12) * 2
    ch = 1 if pi % 3 == 0 else 3
    # LCG pixels: aHash thresholds each cell against the grid mean, so
    # the seed must change spatial structure, not just brightness
    state = seed * 1_000_003 + pi * 7_919 + 12_345
    out = bytearray(w * h * ch)
    for i in range(len(out)):
        state = (state * 1103515245 + 12345) & 0x7FFFFFFF
        out[i] = (state >> 16) & 0xFF
    return encode_png(w, h, ch, bytes(out))


@_staging(
    "png",
    "x copies of embeddings-count PNGs; copy c cycles 72 LCG-pixel "
    "variants seeded by c (8-24 px, 1 or 3 channels, one corrupt slot)",
)
def _png(spark, base, x):
    n = _table(spark, base, "embeddings").count()
    variants = spark.createDataFrame(
        [(c, p, bytearray(_png_variant(c, p))) for c in range(x) for p in range(P_IMG)],
        "copy_idx long, pool_idx long, payload binary",
    )
    skel = spark.range(x * n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / n).cast("long").alias("copy_idx"),
        (F.col("id") % P_IMG).alias("pool_idx"),
    )
    return skel.join(F.broadcast(variants), ["copy_idx", "pool_idx"]).select("doc_id", "payload")


def _y4m_pool() -> list[bytes]:
    from keenwa_spark.pipeline.y4m import encode_y4m

    pool = []
    for k in range(16):
        w, h = 8 + (k % 3) * 4, 8
        cs = ("C420jpeg", "C444", "Cmono")[k % 3]
        fsz = {"C420jpeg": w * h + 2 * (w // 2) * (h // 2), "C444": 3 * w * h}.get(cs, w * h)
        frames = [bytes((i * 31 + k * 7 + f * 101) % 256 for i in range(fsz))
                  for f in range(2 + k % 4)]
        pool.append(encode_y4m(w, h, frames, colorspace=cs))
    return pool + [b"not-a-y4m-stream" * 4]  # drop path


def _pcm_pool() -> list[bytes]:
    return [
        bytes((zlib.crc32(bytes([k, i % 251])) + i) % 256 for i in range(1024 + 256 * (k % 12)))
        for k in range(32)
    ]


def _payload_copies(spark, pool: list[bytes], n: int, x: int):
    one = spark.createDataFrame(
        [(i, bytearray(pool[i % len(pool)])) for i in range(n)],
        "doc_id long, payload binary",
    )
    return _copies(x, lambda i: one.select(
        (F.col("doc_id") + i * 10**7).alias("doc_id"), "payload"))


@_staging(
    "y4m",
    "x id-shifted copies (doc_id + i*10^7) of embeddings/10 clips cycling "
    "16 Y4M streams (C420jpeg/C444/Cmono, 2-5 frames) and one invalid",
)
def _y4m(spark, base, x):
    n = _table(spark, base, "embeddings").count()
    return _payload_copies(spark, _y4m_pool(), max(1, n // 10), x)


@_staging(
    "pcm",
    "x id-shifted copies (doc_id + i*10^7) of embeddings-count signed "
    "8-bit PCM buffers cycling 32 crc-derived waveforms",
)
def _pcm(spark, base, x):
    return _payload_copies(spark, _pcm_pool(), _table(spark, base, "embeddings").count(), x)


def runs(x: int) -> int:
    return 2 if x >= 100 else 3


def measure(spark, run, x: int) -> dict:
    """Best of ``runs(x)`` calls of ``run()``, which returns a row count
    or ``(rows, jobs outside this job group)``. Wall, CPU and jobs are
    those of the fastest call; CPU is read outside the wall window."""
    sc = spark.sparkContext
    tracker = spark._jsc.sc().statusTracker()
    pid = jvm_pid(spark)
    best = None
    for _ in range(runs(x)):
        group = f"scale_probe-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, group)
        try:
            cpu0 = cpu_reading(pid)
            t0 = time.perf_counter()
            out = run()
            wall = time.perf_counter() - t0
            cpu = cpu_between(cpu0, cpu_reading(pid))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rows, extra_jobs = out if isinstance(out, tuple) else (out, 0)
        jobs = len(tracker.getJobIdsForGroup(group)) + extra_jobs
        if best is None or wall < best["wall_s"]:
            best = {"rows": rows, "wall_s": round(wall, 3), "cpu_s": round(cpu, 3), "jobs": jobs}
    best["jvm_hwm_mb"] = round(hwm_mb(pid))
    return best


def execute(df) -> int:
    """Run ``df``'s own QueryExecution to the end and count its rows on
    the executors: every column is computed (``Dataset.count`` would
    prune them), and the executed plan is the final adaptive one."""
    return int(df._jdf.queryExecution().toRdd().count())


def measure_df(spark, build, x: int) -> dict:
    """``measure`` of ``execute(build())``, plus the executed plan's
    census and the ``scale_shape`` check: no cartesian product and no
    unbounded single-partition window."""
    from keenwa_spark.plans import executed_plan_text, partitionless_windows, summarize

    last = []

    def run():
        last[:] = [build()]
        return execute(last[0])

    m = measure(spark, run, x)
    m["census"] = dataclasses.asdict(summarize(last[0]))
    windows = partitionless_windows(executed_plan_text(last[0]))
    check(m, "scale_shape", m["census"]["cartesian_products"] == 0 and not windows,
          f"census {m['census']}, single-partition windows {windows}")
    return m


@dataclasses.dataclass
class Family:
    name: str
    group: str
    run: Callable
    #: checks every row must carry
    checks: tuple[str, ...]
    #: (name, fn(rows by x)) run over all scales of one invocation; it
    #: raises ScaleCheckError on failure
    across: tuple[str, Callable] | None = None


FAMILIES: dict[str, Family] = {}


def family(name: str, group: str, checks: tuple[str, ...], across=None):
    def register(fn):
        FAMILIES[name] = Family(name, group, fn, checks, across)
        return fn

    return register


def _no_join(m: dict) -> bool:
    c = m["census"]
    return c["broadcast_joins"] + c["sort_merge_joins"] + c["nested_loop_joins"] == 0


#: registry queries run against a catalog whose events/documents/
#: embeddings are the staged corpora
QUERIES = [
    "ev_sessionize", "ev_type_rollup", "op_asof_attribution", "op_hypertable_rollup",
    "op_rolling_anomaly", "pl_dedup_exact", "pl_minhash_lsh_pairs", "pl_lsh_verified_pairs",
    "pl_ann_ivf_topk", "pl_pack_sequences", "pl_chunk_pack_fused", "pl_training_data_flow",
    "pl_curriculum_stages", "pl_text_stats", "pl_lm_surprisal", "pl_sketch_distinct_bounds",
    "pl_shard_manifest", "pl_dsir_weights",
]
SCALED_TABLES = ("events", "documents", "embeddings")


def catalog_dir(spark, base: str, x: int) -> str:
    """A directory of links: the staged events/documents/embeddings at
    ``x`` and every other table of ``base``."""
    from keenwa_spark.catalog import STANDARD_TABLES

    d = os.path.join(os.path.dirname(stage_path(base, "events", x)), f"catalog_{x}x")
    os.makedirs(d, exist_ok=True)
    for t in STANDARD_TABLES:
        src = (stage(spark, base, t, x) if t in SCALED_TABLES
               else os.path.join(os.path.abspath(base), f"{t}.parquet"))
        dst = os.path.join(d, f"{t}.parquet")
        if os.path.lexists(dst):
            os.remove(dst)
        if os.path.exists(src):
            os.symlink(src, dst)
    return d


def _query_family(name: str):
    def run(spark, base, x):
        from keenwa_spark.queries import ensure_views, load_all

        fn, d = load_all()[name].fn, catalog_dir(spark, base, x)
        try:
            return measure_df(spark, lambda: fn(spark, d), x)
        finally:
            ensure_views(spark, base)  # leave the session on the base views

    return run


for _q in QUERIES:
    FAMILIES[_q] = Family(_q, "queries", _query_family(_q), ("scale_shape",))


@family("linkage", "text", ("scale_shape", "spine"))
def _linkage_family(spark, base, x):
    from keenwa_spark.pipeline.linkage import fuzzy_link

    clean = read(spark, base, "linkage", x)
    # dirty: drop one mid-name char, so levenshtein = 1 within the block
    dirty = clean.select(
        (F.col("rid") + 2 * 10**9).alias("rid"),
        F.expr("concat(substring(name, 1, 5), substring(name, 7, length(name)))").alias("name"),
    )
    m = measure_df(spark, lambda: fuzzy_link(
        dirty, clean, dirty_id="rid", dirty_name="name",
        clean_id="rid", clean_name="name", max_block=1_000), x)
    spine = (dirty.select("rid", F.trim(F.lower(F.col("name"))).alias("nm"))
             .where(F.col("nm").isNotNull()).distinct().count())
    # max_block drops candidate pairs, never a dirty row
    check(m, "spine", m["rows"] == spine, f"{m['rows']} rows != {spine} distinct dirty rows")
    return m


@family("pagerank", "graph", ("scale_shape", "exact_fold"))
def _pagerank_family(spark, base, x):
    from keenwa_spark.pipeline.clustering import pagerank

    edges, fast = read(spark, base, "purchase_edges", x), []

    def build():
        fast[:] = [pagerank(edges, n_iter=5, exact_fold=False)]
        return fast[0]

    m = measure_df(spark, build, x)
    exact = pagerank(edges, n_iter=5, exact_fold=True).alias("e")
    diff = fast[0].alias("f").join(exact, "node").select(F.max(
        F.abs(F.col("f.rank") - F.col("e.rank"))
        / F.greatest(F.abs(F.col("e.rank")), F.lit(1e-300))
    )).first()[0]
    # the hub-safe SUM may differ from the sorted fold in summation order only
    check(m, "exact_fold", diff < 1e-9, f"max relative difference {diff}")
    return m


@family("cc", "graph", ("scale_shape", "cc_paths"))
def _cc_family(spark, base, x):
    from keenwa_spark.pipeline import clustering
    from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(read(spark, base, "documents", x), max_bucket=200)
    pairs = pairs.localCheckpoint(eager=True)
    n_pairs, labels = pairs.count(), []

    def build():
        labels[:] = [clustering.connected_components(pairs)]
        return labels[0].select("component").distinct()

    def path(cc) -> str:
        plan = cc._jdf.queryExecution().optimizedPlan().toString()
        return "driver" if "LocalRelation" in plan else "distributed"

    def nodes_and_components(cc) -> tuple:
        return tuple(cc.agg(F.count("*"), F.countDistinct("component")).first())

    m = measure_df(spark, build, x)
    m["path"] = path(labels[0])
    m["driver_state"] = n_pairs if m["path"] == "driver" else 0
    counts = {nodes_and_components(labels[0])}
    if x < 100:
        default = clustering.SMALL_GRAPH_MAX_PAIRS
        clustering.SMALL_GRAPH_MAX_PAIRS = 0
        try:
            forced = clustering.connected_components(pairs)
            forced_path = path(forced)
            counts.add(nodes_and_components(forced))
        finally:
            clustering.SMALL_GRAPH_MAX_PAIRS = default
        ok = len(counts) == 1 and forced_path == "distributed"
        detail = f"{m['path']} vs forced {forced_path}: (nodes, components) {sorted(counts)}"
    else:
        ok, detail = m["path"] == "distributed", f"{n_pairs} pairs took the {m['path']} path"
    check(m, "cc_paths", ok, detail)
    return m


def _one_row_per_doc(m: dict, n: int) -> dict:
    check(m, "one_row_per_doc", m["rows"] == n, f"{m['rows']} rows for {n} docs")
    return m


@family("dup_spans", "text", ("scale_shape", "one_row_per_doc"))
def _dup_spans_family(spark, base, x):
    from keenwa_spark.pipeline.dedup import duplicated_spans

    m = measure_df(spark, lambda: duplicated_spans(read(spark, base, "documents", x)), x)
    return _one_row_per_doc(m, read(spark, base, "documents", x).count())


@family("dsir", "text", ("scale_shape", "one_row_per_doc"))
def _dsir_family(spark, base, x):
    from keenwa_spark.pipeline.dsir import dsir_weights

    m = measure_df(spark, lambda: dsir_weights(
        read(spark, base, "documents", x), F.expr("lang = 'en'")), x)
    return _one_row_per_doc(m, read(spark, base, "documents", x).count())


@family("lsh", "text", ("scale_shape",))
def _lsh_family(spark, base, x):
    from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

    return measure_df(spark, lambda: minhash_lsh_pairs(read(spark, base, "documents", x)), x)


@family("lsh_capped", "text", ("scale_shape", "capped"))
def _lsh_capped_family(spark, base, x):
    from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

    m = measure_df(spark, lambda: minhash_lsh_pairs(
        read(spark, base, "documents", x), max_bucket=50), x)
    full = minhash_lsh_pairs(read(spark, base, "documents", x)).count()
    check(m, "capped", m["rows"] <= full, f"{m['rows']} capped pairs > {full} uncapped")
    return m


@family("bloom", "text", ("scale_shape", "no_join"))
def _bloom_family(spark, base, x):
    from keenwa_spark.pipeline.bloom import bloom_decontaminate

    bits = 1 << 20

    def build():
        docs = read(spark, base, "documents", x)
        return bloom_decontaminate(docs.where(F.col("doc_id") % 97 != 0),
                                   docs.where(F.col("doc_id") % 97 == 0), n=4, m_bits=bits)

    m = measure_df(spark, build, x)
    m["driver_state"] = bits // 32  # the packed filter words
    check(m, "no_join", _no_join(m), f"census {m['census']}")
    return m


@family("cms", "text", ("scale_shape", "sketch_bounded"))
def _cms_family(spark, base, x):
    from keenwa_spark.pipeline.dedup import normalized_text
    from keenwa_spark.pipeline.hashing import spark_hash64
    from keenwa_spark.pipeline.sketches import cms_build, cms_estimate

    d, w = 4, 512

    def tokens():
        return (read(spark, base, "documents", x)
                .select(F.explode(F.split(F.expr(normalized_text("text")), " ")).alias("tok"))
                .where(F.col("tok") != "")
                .select("tok", F.expr(spark_hash64("tok")).alias("h")))

    def build():
        hashed = tokens()
        sketch = cms_build(hashed.select("h"), "h", d=d, w=w)
        top = (hashed.groupBy("tok", "h").agg(F.count(F.lit(1)).alias("true_cnt"))
               .orderBy(F.desc("true_cnt"), F.asc("tok")).limit(20))
        return cms_estimate(top, sketch, "h", key_cols=("tok", "true_cnt"), d=d, w=w)

    m = measure_df(spark, build, x)
    m["driver_state"] = cms_build(tokens().select("h"), "h", d=d, w=w).count()
    check(m, "sketch_bounded", m["driver_state"] <= d * w,
          f"{m['driver_state']} sketch rows > d*w = {d * w}")
    return m


@family("vote", "text", ("scale_shape", "model_broadcast"))
def _vote_family(spark, base, x):
    from keenwa_spark.pipeline.classify import token_class_model, token_vote_classify

    docs = read(spark, base, "documents", x)
    model = token_class_model(docs.where("doc_id % 10 < 8"), "lang").localCheckpoint(eager=True)
    m = measure_df(spark, lambda: token_vote_classify(
        read(spark, base, "documents", x).where("doc_id % 10 >= 8"), model), x)
    c = m["census"]
    check(m, "model_broadcast", c["broadcast_joins"] >= 1 and c["sort_merge_joins"] == 0,
          f"census {c}")
    return m


@family("bpe", "text", ("one_row_per_round",))
def _bpe_family(spark, base, x):
    from keenwa_spark.pipeline.bpe import bpe_train

    merges = []

    def run():
        merges[:] = bpe_train(read(spark, base, "documents", x), rounds=4)
        return len(merges)

    m = measure(spark, run, x)
    m["driver_state"] = len(merges)
    check(m, "one_row_per_round", [r[0] for r in merges] == [1, 2, 3, 4], f"merges {merges}")
    return m


def _topk_check(m: dict, queries: int, topk: int = 5) -> None:
    check(m, "topk_rows", m["rows"] == queries * topk,
          f"{m['rows']} rows for {queries} queries x top-{topk}")


def _ann_queries(e):
    return e.where("vec_id < 10")


@family("pq", "ann", ("scale_shape", "topk_rows"))
def _pq_family(spark, base, x):
    from keenwa_spark.pipeline.pq import pq_search

    def build():
        e = read(spark, base, "embeddings", x)
        return pq_search(e, _ann_queries(e), m=4, k_codes=8, topk=5, refine=50)

    m = measure_df(spark, build, x)
    _topk_check(m, _ann_queries(read(spark, base, "embeddings", x)).count())
    return m


def _ivfpq(local_books: bool):
    def run(spark, base, x):
        from keenwa_spark.pipeline.pq import ivfpq_search

        def build():
            e = read(spark, base, "embeddings", x)
            return ivfpq_search(e, _ann_queries(e), k_cells=4, nprobe=2, m=4, k_codes=8,
                                topk=5, local_books=local_books)

        m = measure_df(spark, build, x)
        _topk_check(m, _ann_queries(read(spark, base, "embeddings", x)).count())
        return m

    return run


family("ivfpq", "ann", ("scale_shape", "topk_rows"))(_ivfpq(False))
family("lopq", "ann", ("scale_shape", "topk_rows"))(_ivfpq(True))


@family("mmr", "ann", ("scale_shape", "k_per_query"))
def _mmr_family(spark, base, x):
    from keenwa_spark.pipeline.similarity import mmr_rerank_grouped

    m = measure_df(spark, lambda: mmr_rerank_grouped(
        read(spark, base, "mmr_candidates", x), k=4, lam=0.7), x)
    nq = read(spark, base, "mmr_candidates", x).select("query_id").distinct().count()
    check(m, "k_per_query", m["rows"] == 4 * nq, f"{m['rows']} rows for {nq} queries")
    return m


def _semdedup_linear(rows: dict) -> None:
    for x, r in rows.items():
        ratio = r["wall_s"] / rows[1]["wall_s"]
        if x > 1 and ratio > 1.2 * x:
            raise ScaleCheckError(f"linear: {x}x/1x wall ratio {ratio:.1f} > {1.2 * x:.0f}")


@family("semdedup", "ann", ("scale_shape",), across=("linear", _semdedup_linear))
def _semdedup_family(spark, base, x):
    from keenwa_spark.pipeline.similarity import semantic_dedup

    k = 8 * x

    def build():
        emb = read(spark, base, "embeddings", x).select("vec_id", "embedding")
        cents = emb.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cv"))
        return semantic_dedup(emb, cents, threshold=0.3)

    m = measure_df(spark, build, x)
    m["driver_state"] = k
    return m


@family("ordered", "ordered", ("scale_shape", "dense_row_numbers"))
def _ordered_family(spark, base, x):
    from keenwa_spark.operators.ordered import fit_bucket_cuts, with_global_row_number

    m = measure_df(spark, lambda: with_global_row_number(
        read(spark, base, "events", x), order_by=["value", "event_id"], bucket_col="value"), x)
    m["driver_state"] = len(fit_bucket_cuts(read(spark, base, "events", x), "value"))
    out = with_global_row_number(
        read(spark, base, "events", x), order_by=["value", "event_id"], bucket_col="value")
    lo, hi, n = out.select(F.min("i"), F.max("i"), F.countDistinct("i")).first()
    check(m, "dense_row_numbers", (lo, hi, n) == (1, m["rows"], m["rows"]),
          f"row numbers {lo}..{hi}, {n} distinct, for {m['rows']} rows")
    return m


@family("megatie", "ordered", ("scale_shape", "n_out"))
def _megatie_family(spark, base, x):
    from keenwa_spark.operators.ordered import _bucketed, fit_bucket_cuts, with_global_row_number

    df, buckets = read(spark, base, "megatie", x), 64
    m = measure_df(spark, lambda: with_global_row_number(
        read(spark, base, "megatie", x), ["v", "id"], "v", out_col="i",
        n_buckets=buckets, tie_bucket_col="id", materialize=False), x)
    _, n_final, _ = _bucketed(df, "v", "id", False, buckets)
    m["driver_state"] = len(fit_bucket_cuts(df, "v", buckets)) + n_final
    n = df.count()
    check(m, "n_out", m["rows"] == n, f"{m['rows']} rows out of {n}")
    return m


@family("asof", "temporal", ("scale_shape", "no_join"))
def _asof_family(spark, base, x):
    from keenwa_spark.operators.asof import asof_join

    def build():
        ev = read(spark, base, "events", x)
        views = ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("event_id").alias("view_id"))
        return asof_join(ev.where(F.col("event_type") == "purchase"), views,
                         on="user_id", left_ts="ts", right_ts="ts")

    m = measure_df(spark, build, x)
    check(m, "no_join", _no_join(m), f"census {m['census']}")
    return m


@family("overlap", "temporal", ("scale_shape", "equi_join"))
def _overlap_family(spark, base, x):
    from keenwa_spark.operators.range_join import interval_overlap_join

    def build():
        ev = read(spark, base, "events", x)

        def side(kind, name, minutes):
            return ev.where(F.col("event_type") == kind).select(
                "user_id", F.col("event_id").alias(f"{name}_id"),
                F.col("ts").alias(f"{name}_lo"),
                F.expr(f"ts + INTERVAL {minutes} MINUTES").alias(f"{name}_hi"))

        return interval_overlap_join(
            side("error", "err", 10), side("purchase", "pur", 15),
            "err_lo", "err_hi", "pur_lo", "pur_hi", on=["user_id"], bin_width_seconds=300)

    m = measure_df(spark, build, x)
    check(m, "equi_join", m["census"]["nested_loop_joins"] == 0, f"census {m['census']}")
    return m


@family("snapshot_diff", "temporal", ("scale_shape", "keyed_join"))
def _snapshot_diff_family(spark, base, x):
    from keenwa_spark.operators.cdc import snapshot_diff

    def build():
        ev = read(spark, base, "events", x)

        def state(lo: str, hi: str):
            return (
                ev.where((F.col("ts") >= F.lit(lo).cast("timestamp"))
                         & (F.col("ts") < F.lit(hi).cast("timestamp")))
                .groupBy("user_id")
                .agg(F.count("*").alias("n_events"),
                     F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                     .alias("total_value"),
                     F.max(F.to_date("ts")).alias("last_day"))
            )

        return snapshot_diff(state("2024-01-06", "2024-01-16"),
                             state("2024-01-21", "2024-01-31"), keys=["user_id"])

    m = measure_df(spark, build, x)
    check(m, "keyed_join", m["census"]["nested_loop_joins"] == 0, f"census {m['census']}")
    return m


STREAM_SCHEMA = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
                 "value DOUBLE, props STRING")


def _drain(spark, stream_df, output_mode: str, sink: str, progress: list):
    """Drain with AvailableNow; return (output rows, the stream's jobs).
    Only small results may use the memory sink, which collects every
    emitted row to the driver."""
    w = stream_df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    name = f"scale_{uuid.uuid4().hex[:8]}"
    q = (w.format("memory").queryName(name) if sink == "memory" else w.format("noop")).start()
    q.awaitTermination()
    progress[:] = q.recentProgress
    # a stream runs its jobs in a job group named after its run id
    jobs = len(spark._jsc.sc().statusTracker().getJobIdsForGroup(str(q.runId)))
    if sink == "memory":
        n = spark.table(name).count()
        spark.catalog.dropTempView(name)
    else:
        n = sum(int((p.get("sink") or {}).get("numOutputRows") or 0) for p in progress)
    return n, jobs


def _state_rows(m: dict, progress: list) -> None:
    """State-store rows after the drain, read from the progress metrics."""
    rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")]
    check(m, "state_from_progress", bool(rows), "no stateOperators.numRowsTotal in progress")
    m["driver_state"] = rows[-1]


@family("stream_window", "streaming", ("state_from_progress",))
def _stream_window_family(spark, base, x):
    from keenwa_spark.streaming import windowed_type_counts

    path, progress = stage(spark, base, "events", x), []
    m = measure(spark, lambda: _drain(spark, windowed_type_counts(
        spark.readStream.schema(STREAM_SCHEMA).parquet(path),
        window="1 day", watermark="2 hours"), "complete", "memory", progress), x)
    _state_rows(m, progress)
    return m


@family("stream_dedup", "streaming", ("state_from_progress", "noop_sink"))
def _stream_dedup_family(spark, base, x):
    from keenwa_spark.streaming import dedup_stream

    path, progress = stage(spark, base, "events", x), []
    m = measure(spark, lambda: _drain(spark, dedup_stream(
        spark.readStream.schema(STREAM_SCHEMA).parquet(path),
        keys=["event_id"], watermark="2 hours"), "append", "noop", progress), x)
    _state_rows(m, progress)
    sink = (progress[-1].get("sink") or {}).get("description", "")
    check(m, "noop_sink", "noop" in sink.lower(), f"sink {sink!r}")
    return m


def _census_stable(rows: dict) -> None:
    seen = {json.dumps(r["census"], sort_keys=True) for r in rows.values()}
    if len(seen) != 1:
        raise ScaleCheckError(f"census_stable: censuses differ across scales: {sorted(seen)}")


def _multimodal(corpus: str, op: str, map_only: bool):
    def run(spark, base, x):
        from keenwa_spark.pipeline import multimodal as mm

        ops = {
            "decode": lambda df: mm.decode_real(df).where("format <> 'invalid'"),
            "resize": lambda df: mm.resize_images(df, 8, 8),
            "ahash": lambda df: mm.ahash_near_dup_pairs(mm.ahash_fingerprints(df), max_hamming=3),
            "frames": mm.explode_video_frames,
            "features": mm.pcm_features,
        }
        m = measure_df(spark, lambda: ops[op](read(spark, base, corpus, x)), x)
        if map_only:
            c = m["census"]
            check(m, "map_only", c["exchanges"] == 0 and c["python_evals"] == 1, f"census {c}")
        return m

    return run


for _name, _map in (
    ("png_decode", True), ("png_resize", True), ("png_ahash", False),
    ("y4m_frames", True), ("pcm_features", True),
):
    _corpus, _op = _name.split("_")
    family(
        _name, "multimodal", ("scale_shape", "map_only") if _map else ("scale_shape",),
        across=("census_stable", _census_stable),
    )(_multimodal(_corpus, _op, _map))


def run_family(spark, base: str, fam: Family, xs: list[int], measured: str = "") -> list[dict]:
    """One row per scale, checks verified; nothing is written."""
    rows = {}
    for x in xs:
        t0 = time.time()
        try:
            m = fam.run(spark, base, x)
        except ScaleCheckError as e:
            raise ScaleCheckError(f"{fam.name} {x}x: {e}") from None
        r = {k: None for k in ROW_KEYS} | m
        r.update(family=fam.name, x=x, base=os.path.basename(os.path.abspath(base)),
                 checks=m.get("checks", []), measured=measured)
        rows[x] = {k: r[k] for k in ROW_KEYS}
        print(f"{fam.name} {x}x: rows {r['rows']} wall {r['wall_s']}s cpu {r['cpu_s']}s "
              f"jobs {r['jobs']} state {r['driver_state']} path {r['path']} "
              f"checks {r['checks']} ({time.time() - t0:.0f}s)", flush=True)
    required = set(fam.checks)
    if fam.across and 1 in rows and len(rows) > 1:
        fam.across[1](rows)
        for r in rows.values():
            r["checks"].append(fam.across[0])
        required.add(fam.across[0])
    for r in rows.values():
        missing = required - set(r["checks"])
        if missing:
            raise ScaleCheckError(f"{fam.name} {r['x']}x: checks did not run: {sorted(missing)}")
    return list(rows.values())


def load() -> dict:
    with open(SCALE_JSON) as f:
        return json.load(f)


def save(data: dict) -> None:
    order = {name: i for i, name in enumerate(FAMILIES)}
    data["rows"].sort(key=lambda r: (order.get(r["family"], len(order)), r["family"], r["x"]))
    with open(SCALE_JSON, "w") as f:
        json.dump(data, f, indent=1)
        f.write("\n")


def commit() -> str:
    """HEAD's short hash, with ``+`` when keenwa_spark/ differs from it."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=REPO, capture_output=True, text=True).stdout

    dirty = git("status", "--porcelain", "--", "keenwa_spark").strip()
    return git("rev-parse", "--short", "HEAD").strip() + ("+" if dirty else "")


_BEGIN, _END = "<!-- generated by render(): {} -->", "<!-- end generated: {} -->"

_CENSUS = (
    ("exch", "exchanges"), ("bhj", "broadcast_joins"), ("smj", "sort_merge_joins"),
    ("nlj", "nested_loop_joins"), ("cart", "cartesian_products"), ("py", "python_evals"),
)


def _num(v, fmt: str = "{:,}") -> str:
    return "—" if v is None else fmt.format(v)


def _render_rows(rows: list[dict]) -> str:
    out = ["| family | x | rows | wall (s) | vs 1x | CPU (s) | jobs | driver state "
           "| path | census | JVM MB | measured |", "|---" * 12 + "|"]
    # a ratio only between rows of one run
    one = {(r["family"], r["measured"]): r["wall_s"] for r in rows if r["x"] == 1}
    for r in rows:
        c = r["census"]
        w1 = one.get((r["family"], r["measured"]))
        ratio = r["wall_s"] / w1 if r["x"] != 1 and r["wall_s"] and w1 else None
        out.append(
            f"| {r['family']} | {r['x']}x | {_num(r['rows'])} | {_num(r['wall_s'], '{:.2f}')} "
            f"| {_num(ratio, '{:.1f}')} | {_num(r['cpu_s'], '{:.2f}')} | {_num(r['jobs'])} "
            f"| {_num(r['driver_state'])} | {r['path'] or '—'} "
            f"| {' '.join(f'{k}={c[f]}' for k, f in _CENSUS) if c else '—'} "
            f"| {_num(r['jvm_hwm_mb'])} | {r['measured']} |"
        )
    return "\n".join(out)


def _render_audit(audit: dict) -> str:
    out = [f"Measured at {audit['measured']} on {audit['base']}.", "",
           "| query | BHJ | SMJ | NLJ | Cart | Exch | PyEval | GW | Pushed |", "|---" * 9 + "|"]
    for r in audit["rows"]:
        out.append(
            f"| {r['query']} | {r['bhj']} | {r['smj']} | {r['nlj']} | {r['cart']} "
            f"| {r['exch']} | {r['py']} | {r['gw']} | {'yes' if r['pushed'] else 'no'} |"
        )
    return "\n".join(out)


def render(data: dict) -> dict[str, str]:
    """SCALE.md's generated blocks, by name, from SCALE.json's data."""
    blocks = {
        "audit": _render_audit(data["audit"]),
        "staging": "\n".join(
            ["| corpus | rule |", "|---|---|"]
            + [f"| {name} | {rule} |" for name, rule in data["staging"].items()]
        ),
    }
    for group in dict.fromkeys(f.group for f in FAMILIES.values()):
        blocks[group] = _render_rows(
            [r for r in data["rows"] if r["family"] in FAMILIES
             and FAMILIES[r["family"]].group == group]
        )
    return blocks


def splice(text: str, blocks: dict[str, str]) -> str:
    """``text`` with each block's body replaced between its markers."""
    for name, body in blocks.items():
        begin, end = _BEGIN.format(name), _END.format(name)
        i, j = text.index(begin) + len(begin), text.index(end)
        text = f"{text[:i]}\n{body}\n{text[j:]}"
    return text


def write_md(data: dict) -> None:
    with open(SCALE_MD) as f:
        text = f.read()
    with open(SCALE_MD, "w") as f:
        f.write(splice(text, render(data)))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("families", nargs="*", metavar="FAMILY",
                    help=f"default: all of {', '.join(FAMILIES)}")
    ap.add_argument("--x", default="1,10", help="scales, comma-separated (default 1,10)")
    args = ap.parse_args(argv)
    unknown = [f for f in args.families if f not in FAMILIES]
    if unknown:
        ap.error(f"unknown families {unknown}; known: {', '.join(FAMILIES)}")
    xs = sorted({int(v) for v in args.x.split(",")})
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from keenwa_spark.session import get_spark

    spark = get_spark("scale_probe")
    data = load()
    data["staging"] = {name: rule for name, (rule, _) in STAGING.items()}
    measured = commit()
    for name in args.families or FAMILIES:
        rows = run_family(spark, base, FAMILIES[name], xs, measured)
        data["rows"] = [r for r in data["rows"] if (r["family"], r["x"]) not in
                        {(n["family"], n["x"]) for n in rows}] + rows
        save(data)
        write_md(data)


if __name__ == "__main__":
    main()
