"""IVF (inverted-file) approximate nearest neighbor: coarse k-means
quantizer + cell-probed search.

The second scale path next to sign-LSH (similarity.py): train K coarse
centroids with a few Lloyd iterations, assign the corpus to cells
(the inverted file), and search only the query's ``nprobe`` nearest
cells.

Scale design (the faiss IVF recipe, re-expressed for Spark):
- the coarse quantizer is FIT ON A BOUNDED SAMPLE (``train_rows``,
  default 100k vectors) collected to the driver — model-fit state,
  constant in corpus size, the same documented bounded-metadata
  exception as similarity.py's query matrix. Lloyd then runs in-driver
  (trivial at K x sample sizes); the 100 TB corpus never participates
  in training, only in one ASSIGNMENT pass;
- corpus assignment is a shuffle-free single pass: the centroid model
  enters the plan as a 1-row sized LocalRelation carrying an
  ``array<struct<cid, cv>>`` column, which the planner broadcasts
  (BroadcastNestedLoopJoin against one row), so the PLAN stays
  constant-size at any K. The r3 variant inlined all K x dim doubles
  as SQL literals — every pass re-compiled an O(K*dim) codegen
  expression (1.8x slower end-to-end at sf0.1 and plan-analysis-fatal
  at production K); the r2 variant exploded corpus x K rows through a
  window (a corpus-sized shuffle). Both replaced by the
  broadcast-model map;
- queries probe only their ``nprobe`` nearest cells; the probe side
  (queries x nprobe) is broadcast so the inverted corpus never
  shuffles on cid.

Everything is DETERMINISTIC so the whole pipeline — training included —
is exactly oracle-checkable in DuckDB:
- the training sample is ``vid < train_rows`` (no RNG; at production
  feed a uniform id-sample and/or raise the cap consciously);
- init: centroids = sample vectors with ids 0..K-1;
- assignment: squared-L2 SEQUENTIAL fold over dimensions, ties broken
  by lowest cell id — the driver-side numpy kernel accumulates dim by
  dim (vectorized over rows), which performs the identical IEEE
  operation sequence as the SQL ``aggregate(zip_with(...))`` fold;
- centroid update: per-dimension mean via SORTED sequential fold (the
  float aggregation rule from similarity.label_centroids), replayed
  in-driver with plain Python float adds over the sorted values;
- a fixed iteration count (no data-dependent stopping); cells that
  lose all members drop out of the model (matching the SQL replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keenwa_spark.litdf import local_df

_COS = (
    "aggregate(zip_with(v, qv, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, d) -> acc + d)"
    " / sqrt(aggregate(transform(v, x -> x * x), CAST(0 AS DOUBLE), (acc, d) -> acc + d))"
    " / sqrt(aggregate(transform(qv, x -> x * x), CAST(0 AS DOUBLE), (acc, d) -> acc + d))"
)

#: per-centroid (squared-L2 dist, cid) structs from the broadcast
#: ``cells`` column — same sequential fold as the oracle; struct
#: ordering is lexicographic, so array_min/array_sort give argmin with
#: the deterministic cid tie-break
_CELL_DISTS = (
    "transform(cells, c -> struct("
    "aggregate(zip_with(v, c.cv, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS DOUBLE), (acc, d) -> acc + d) AS dist, c.cid AS cid))"
)

#: default training-sample cap: vectors with vid < this are collected
#: to the driver for quantizer fitting (bounded model-fit state)
TRAIN_ROWS = 100_000

#: centroid model: list of (cid, vector) held driver-side
Cents = list[tuple[int, list[float]]]


def _as_vecs(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # NULL vectors can neither train a quantizer nor be assigned to a
    # cell — excluded here so every IVF pass shares the rule (a corpus
    # that is ALL null then hits ivf_train's loud empty-corpus error)
    return emb.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
    )


def _cells_df(spark: SparkSession, cents: Cents) -> DataFrame:
    """The centroid model as ONE row of ``array<struct<cid, cv>>``, a
    sized LocalRelation (litdf.local_df): centroid data never appears
    in the plan text (constant-size codegen at any K)."""
    return local_df(
        spark,
        [([(cid, cv) for cid, cv in cents],)],
        "cells ARRAY<STRUCT<cid: INT, cv: ARRAY<DOUBLE>>>",
    )


def _with_cells(vecs: DataFrame, cents: Cents) -> DataFrame:
    """Corpus rows annotated with the broadcast ``cells`` model column
    (BroadcastNestedLoopJoin vs 1 row — no shuffle, no row blow-up)."""
    return vecs.crossJoin(_cells_df(vecs.sparkSession, cents))


def _assign_ids(X, cents: Cents):
    """Nearest-centroid index per row of ``X`` — numpy, but with the
    accumulation SEQUENTIAL OVER DIMENSIONS (vectorized over rows), so
    each row's distance is the identical IEEE sequence as the SQL
    fold; argmin's first-occurrence rule = lowest-cid tie-break."""
    import numpy as np

    C = np.array([cv for _, cv in cents], dtype=np.float64)  # (k, dim)
    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(X.shape[1]):
        diff = X[:, j : j + 1] - C[:, j][None, :]
        acc = acc + diff * diff
    return np.argmin(acc, axis=1)


def _train_sample(
    emb: DataFrame, id_col: str, vec_col: str, train_rows: int
) -> list[tuple[int, list[float]]]:
    """The bounded training sample, collected once and sorted by id —
    shared by the coarse fit and (in IVF-PQ) the residual-codebook
    fit, so composed trainers cost ONE sample job, not one per stage."""
    rows = sorted(
        (int(r.vid), list(r.v))
        for r in _as_vecs(emb, id_col, vec_col)
        .filter(F.col("vid") < train_rows)
        .collect()
    )
    if not rows:
        raise ValueError(
            "cannot train an IVF quantizer on an empty corpus "
            f"(no rows with {id_col} < {train_rows}); a silently empty "
            "centroid model would make every downstream search return "
            "nothing — fail loudly instead"
        )
    return rows


def _lloyd(X, rows: list[tuple[int, list[float]]], k_cells: int, iters: int) -> Cents:
    """The deterministic Lloyd loop of the module docstring (fixed
    init = ids < k_cells, sequential-over-dims assignment, sorted-fold
    means, fixed iterations, empty cells drop) — factored out so
    IVF-PQ composes it without re-collecting the sample. Float op
    sequences are IDENTICAL to the pre-factor _train."""
    import numpy as np

    cents: Cents = [(vid, v) for vid, v in rows if vid < k_cells]
    for _ in range(iters):
        assign = _assign_ids(X, cents)
        new: Cents = []
        for ci, (cid, _) in enumerate(cents):
            members = X[assign == ci]
            if len(members) == 0:
                continue  # empty cell drops out (matches the SQL replay)
            # sorted fold, r14: np.sort + builtin sum is BIT-IDENTICAL
            # to the old sorted()+loop (same ascending multiset, and
            # builtin sum left-folds with the same IEEE double adds;
            # 0.0 + x == x exactly) while sorting in C — the python
            # per-element loop dominated driver fit time at production
            # sample sizes (train_rows x dim sorts).
            S = np.sort(members, axis=0)
            nm = len(members)
            cv = [sum(S[:, d].tolist(), 0.0) / nm for d in range(X.shape[1])]
            new.append((cid, cv))
        cents = new
    return cents


def _train(
    emb: DataFrame,
    k_cells: int,
    iters: int,
    id_col: str,
    vec_col: str,
    train_rows: int = TRAIN_ROWS,
) -> Cents:
    """Fit the coarse quantizer on the bounded sample, in-driver (module
    docstring). One Spark job (the sample collect); Lloyd itself is
    K x sample numpy work."""
    import numpy as np

    rows = _train_sample(emb, id_col, vec_col, train_rows)
    X = np.array([v for _, v in rows], dtype=np.float64)
    return _lloyd(X, rows, k_cells, iters)


def ivf_train(
    emb: DataFrame,
    k_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = TRAIN_ROWS,
) -> DataFrame:
    """Train the coarse quantizer; returns (cid, cv) centroids as a
    DataFrame (API mirror of the other pipeline trainers)."""
    cents = _train(emb, k_cells, iters, id_col, vec_col, train_rows)
    return local_df(
        emb.sparkSession,
        [(cid, cv) for cid, cv in cents],
        "cid INT, cv ARRAY<DOUBLE>",
    )


def ivf_assign(
    emb: DataFrame,
    cents: Cents,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    backend: str = "auto",
) -> DataFrame:
    """The inverted file: (vid, v, cid) with the cell id computed on
    the corpus row itself — one shuffle-free pass, constant-size plan.

    Backends (both bit-identical — same IEEE fold order, same lowest-cid
    tie-break):
    - ``sql``: the broadcast-model HOF map, pure JVM. Per-row cost is
      O(K*dim) INTERPRETED lambda steps (higher-order functions don't
      codegen), fine at small models;
    - ``numpy``: Arrow-batched ``mapInPandas`` against the centroid
      matrix shipped in the task closure — vectorized over rows,
      sequential over dims. At production models (K >= 1024, dim 768)
      this is the only sane per-row cost; the corpus crosses the Arrow
      boundary once, the blessed batch pattern;
    - ``auto``: sql while K*dim <= 384, else numpy. MEASURED crossover
      (tools/ivf_crossover.py, 100k-row corpus, best-of-3, warm JVM):
      sql wins at K*dim=256 (0.8s vs 1.4s), numpy from 512 up (0.5s
      vs ~1.0s) and the gap widens linearly in K*dim (sql 34s vs
      numpy 3.5s at K*dim=65536) — the Arrow crossing is a flat
      ~0.5s while interpreted HOF steps scale with the model. Full
      table in SCALE.md.
    """
    vecs = _as_vecs(emb, id_col, vec_col)
    if backend == "auto":
        kdim = len(cents) * (len(cents[0][1]) if cents else 0)
        backend = "sql" if kdim <= 384 else "numpy"
    if backend == "sql":
        return (
            _with_cells(vecs, cents)
            .withColumn("cid", F.expr(f"array_min({_CELL_DISTS}).cid"))
            .drop("cells")
        )
    import numpy as np
    import pandas as pd

    c_ids = np.array([cid for cid, _ in cents], dtype=np.int32)
    c_mat = np.array([cv for _, cv in cents], dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            acc = np.zeros((len(pdf), len(c_ids)), dtype=np.float64)
            for j in range(c_mat.shape[1]):  # sequential over dims
                diff = X[:, j : j + 1] - c_mat[:, j][None, :]
                acc = acc + diff * diff
            best = np.argmin(acc, axis=1)  # first hit = lowest cid
            yield pd.DataFrame(
                {"vid": pdf["vid"], "v": pdf["v"], "cid": c_ids[best]}
            )

    vid_t = vecs.schema["vid"].dataType.simpleString()
    return vecs.mapInPandas(assign, f"vid {vid_t}, v ARRAY<DOUBLE>, cid INT")


def ivf_search(
    emb: DataFrame,
    queries: DataFrame,
    k_cells: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = TRAIN_ROWS,
    assign_backend: str = "auto",
    cents: Cents | None = None,
) -> DataFrame:
    """Train + probe: top-k cosine neighbors from the query's nprobe
    nearest cells. Output (query_id, neighbor_id, cos_sim, rnk).

    ``cents``: a prebuilt quantizer (ivf_train output rows as the
    driver-side list, or ivf_load) — skips the fit entirely, the
    production pattern (train once on a bounded sample, save, search
    many times; refitting per search both wastes the sample collect
    and, worse, silently re-derives cell ids against any stored
    assignment). When given, k_cells/iters/train_rows are ignored."""
    if cents is None:
        cents = _train(emb, k_cells, iters, id_col, vec_col, train_rows)
    inverted = ivf_assign(emb, cents, id_col, vec_col, assign_backend)

    # nprobe nearest cells per query: sort the per-cell (dist, cid)
    # array and explode the prefix — same single-pass map as ivf_assign
    probed = _with_cells(_as_vecs(queries, id_col, vec_col), cents).select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(
            F.expr(
                f"transform(slice(array_sort({_CELL_DISTS}), 1, "
                f"{int(nprobe)}), s -> s.cid)"
            )
        ).alias("cid"),
    )
    scored = (
        # probe side = queries x nprobe rows, but the query vectors
        # carry their source scan's estimate: unhinted, the planner
        # would broadcast or shuffle the corpus side instead
        inverted.join(F.broadcast(probed), "cid")
        .filter(F.col("vid") != F.col("query_id"))
        .withColumn("cos_sim", F.expr(_COS))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vid").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


#: parquet layout of a saved quantizer; ``ivf_load`` reads with it, so
#: loading needs no schema inference
IVF_SCHEMA = "cid INT, cv ARRAY<DOUBLE>"


def ivf_save(spark: SparkSession, cents: Cents, path: str) -> None:
    """Persist a trained quantizer as parquet — the reusable-index
    half of the IVF story: train once on a bounded sample, save, and
    every later ingest/search session loads the SAME cells instead of
    re-training (retraining would silently re-shuffle cell ids and
    invalidate any stored assignment). float64 roundtrips parquet
    bit-exactly, so loaded models assign identically (pinned in
    tests/test_pipeline_extras.py)."""
    local_df(
        spark, [(cid, cv) for cid, cv in cents], IVF_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(path)


def ivf_load(spark: SparkSession, path: str) -> Cents:
    """Load a quantizer saved by ``ivf_save`` back into the driver-side
    model shape ``ivf_assign``/``ivf_search`` consume. The model is
    K x dim doubles — driver-bounded by construction (same budget as
    training's driver fit)."""
    rows = spark.read.schema(IVF_SCHEMA).parquet(path).orderBy("cid").collect()
    return [(int(r["cid"]), list(r["cv"])) for r in rows]
