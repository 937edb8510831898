"""Embedding similarity search over ``array<float>`` columns.

Brute-force cosine top-k is the correctness baseline; sign-LSH
bucketing is the scale path. Dot products run as higher-order SQL
functions (zip_with + aggregate) inside whole-stage codegen — no
Python in the loop. Element folds are sequential left-to-right, which
both Spark and DuckDB honor, so scores are bit-deterministic and
oracle-checkable.

100 TB design notes:
- brute force is query_count x corpus — fine when the QUERY side is
  small (broadcast it); never materialize corpus x corpus;
- sign-LSH buckets the corpus once (a cheap projection), then probes
  only matching buckets: the shuffle is corpus-sized, the join is
  bucket-local. Recall is tunable by probing adjacent buckets
  (hamming-1 neighbors), orthogonal to the plumbing shown here;
- for real workloads the bucketer would be random hyperplanes; sign
  bits of leading dimensions keep the oracle exactly replicable
  without shipping a projection matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: cosine similarity between two array<double> columns, sequential fold
_COS = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    " / sqrt(aggregate(transform({a}, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    " / sqrt(aggregate(transform({b}, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
)


def _as_double(col: str) -> str:
    return f"transform({col}, x -> CAST(x AS DOUBLE))"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    The query side is broadcast (it is small by construction); the
    corpus streams through codegen once. Output: (query_id,
    neighbor_id, cos_sim) with a deterministic rank tie-break on
    neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.expr(_as_double(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.expr(_as_double(vec_col)).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.expr(_COS.format(a="qv", b="cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


def _sign_bucket(vec_col: str, bits: int = 8) -> str:
    """Bucket id from the sign bits of the first ``bits`` dimensions."""
    terms = " + ".join(
        f"(CASE WHEN {vec_col}[{i}] > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"({terms})"


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's sign-LSH
    bucket (2^bits buckets). One corpus-side bucket projection, then a
    bucket-equi join — the shuffle is on the bucket key, never
    all-pairs.

    ``multiprobe=1`` (the DEFAULT — justified by measurement, below)
    additionally probes every bucket at Hamming distance 1 from the
    query's bucket (the classic multi-probe LSH recall lift): the
    QUERY side fans out to ``bits + 1`` probe rows — still small
    enough for the planner to broadcast — while the corpus side is
    untouched, so the join stays bucket-local and the corpus is still
    scanned once. Measured recall@5 at bits=8 (SCALE.md ANN recall tables): 0.01 -> 0.10 on
    the adversarial i.i.d.-random sf0.1 embeddings and 0.36 -> 0.74 on
    the clustered mixture-of-Gaussians fixture
    (pipeline/fixtures.py) — multiprobe dominates single-probe on BOTH
    distributions for a (bits+1)x probe fan-out confined to the
    query side, hence the shipped default. Pass
    ``multiprobe=0`` for the minimal single-bucket plan."""
    if multiprobe not in (0, 1):
        raise ValueError(f"multiprobe must be 0 or 1, got {multiprobe}")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(_as_double(vec_col)).alias("qv"),
        F.expr(_sign_bucket(vec_col, bits)).alias("bucket"),
    )
    if multiprobe:
        # probe set = own bucket + one bit flipped per position; probe
        # buckets are pairwise distinct, so no (query, neighbor) dups
        q = q.select(
            "query_id",
            "qv",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bits}), i -> CASE WHEN i = 0 "
                    "THEN bucket ELSE bucket ^ shiftleft(CAST(1 AS BIGINT), i - 1) END)"
                )
            ).alias("bucket"),
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(_as_double(vec_col)).alias("cv"),
        F.expr(_sign_bucket(vec_col, bits)).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.expr(_COS.format(a="qv", b="cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid via posexplode -> mean per dimension.

    The shuffle key is (label, dim) — the standard partial-aggregate
    pattern. Determinism: float sums are made order-independent by
    folding the per-group values in SORTED order (sort_array +
    sequential aggregate fold) — bit-identical on any partitioning and
    in any engine whose list fold is sequential. Decimal routes do NOT
    work here: float->decimal casts round differently per engine
    (repr-based vs binary-based), and per-element quantization ties
    accumulate over thousands of elements."""
    sorted_fold = (
        "aggregate(sort_array(collect_list(CAST(v AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        emb.select(F.col(label_col), F.posexplode(vec_col).alias("dim", "v"))
        .groupBy(label_col, "dim")
        .agg(
            (F.expr(sorted_fold) / F.count("v")).alias("centroid_v"),
            F.count("v").cast("bigint").alias("n_vecs"),
        )
        .select(
            label_col,
            F.col("dim").cast("bigint").alias("dim"),
            "centroid_v",
            "n_vecs",
        )
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k with a VECTORIZED pandas_udf backend: one numpy
    matmul per Arrow batch against the (small, broadcast-as-closure)
    query matrix, instead of per-row SQL folds.

    When to prefer over ``cosine_topk``: wide embeddings x many queries —
    numpy's BLAS matmul amortizes where per-row expression folds don't.
    Tradeoff: scores use BLAS accumulation order, so they match the
    exact SQL fold only to ~1e-12 (fine for ranking; not for bit-exact
    oracles — which is why the oracle-checked entry uses the SQL fold).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = StructType(
        [
            StructField("neighbor_id", LongType()),
            StructField("query_ids", ArrayType(LongType())),
            StructField("sims", ArrayType(DoubleType())),
        ]
    )

    def score(batches):
        for pdf in batches:
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c_norm = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_norm @ q_norm.T  # (batch, n_queries)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].astype("int64"),
                    "query_ids": [q_ids.tolist()] * len(pdf),
                    "sims": [row.tolist() for row in sims],
                }
            )

    scored = (
        corpus.select(id_col, vec_col)
        .mapInPandas(score, out_schema)
        .select(
            "neighbor_id",
            F.explode(F.arrays_zip("query_ids", "sims")).alias("z"),
        )
        .select(
            F.col("z.query_ids").alias("query_id"),
            "neighbor_id",
            F.col("z.sims").alias("cos_sim"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


def near_dup_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.98,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space near-duplicate pairs: cosine >= threshold among
    same-sign-bucket candidates (near-identical vectors share all
    leading sign bits). Bucketed self-join — the candidate set is
    bucket-local, never corpus^2."""
    c = emb.select(
        F.col(id_col),
        F.expr(_as_double(vec_col)).alias("v"),
        F.expr(_sign_bucket(vec_col, bits)).alias("bucket"),
    )
    a = c.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), "bucket")
    b = c.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.expr(_COS.format(a="va", b="vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cv",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid by
    cosine (ties broken on the smaller centroid id), then flag as
    duplicate any row with a SAME-cluster neighbor at
    ``cos >= threshold`` and a smaller id — the greedy
    keep-lowest-id policy, one deterministic pass.

    ``centroids`` is any small (cent_id, vector) relation — a k-means
    fit (ivf_train), label_centroids output, or a deterministic seed
    pick. Returns one row per input vector:
    ``(id_col, cluster_id, cos_to_centroid, is_dup)``.

    100 TB notes: the centroid side is k rows and explicitly
    broadcast, so assignment is a map-side join + partial-aggregate
    argmax — the corpus is never shuffled for it; the only
    corpus-sized exchanges are the id join-back and the single
    cluster_id self-join, whose candidate pairs are cluster-local,
    never corpus^2 (the same containment argument as
    near_dup_cosine_pairs' sign buckets). For exact duplicate-GROUP
    semantics (transitive closure instead of the greedy flag), feed
    the same-cluster pairs to clustering.connected_components /
    dedup_groups.

    Reference parity: the reference has no embedding operators; this
    extends the pipeline layer the same way dedup.py does (SURVEY §2
    beyond-reference additions).
    """
    c = emb.select(
        F.col(id_col), F.expr(_as_double(vec_col)).alias("v")
    )
    k = centroids.select(
        F.col(cent_id_col).alias("cent_id"),
        F.expr(_as_double(cent_vec_col)).alias("cv"),
    )
    scored = c.join(F.broadcast(k)).withColumn(
        "cos_c", F.expr(_COS.format(a="v", b="cv"))
    )
    # argmax via struct-max: (cos, -cent_id) orders ties to the
    # smaller centroid id; partial aggregation keeps it map-side.
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("cos_c"), (-F.col("cent_id")).alias("neg_cent")
            )
        ).alias("best")
    )
    asg = best.select(
        F.col(id_col),
        (-F.col("best.neg_cent")).cast("bigint").alias("cluster_id"),
        F.col("best.cos_c").alias("cos_to_centroid"),
    ).join(c, id_col)
    a = asg.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), "cluster_id"
    )
    b = asg.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "cluster_id"
    )
    dup_ids = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_ab", F.expr(_COS.format(a="va", b="vb")))
        .filter(F.col("cos_ab") >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        asg.drop("v")
        .join(dup_ids, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            "cos_to_centroid",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def filtered_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_predicate: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered vector search: exact top-k cosine neighbors among the
    corpus rows satisfying ``corpus_predicate`` (a SQL boolean over the
    corpus columns, e.g. a metadata/label/date constraint).

    The predicate is applied BEFORE the broadcast join, so it pushes
    into the corpus scan (partition/row-group pruning at 100 TB) and
    the distance computation only touches qualifying vectors —
    pre-filtering, not the post-filter-then-hope-k-survive pattern
    that breaks filtered ANN recall in IVF-style indexes. With a
    selective predicate, exact search over the filtered subset is
    usually CHEAPER than an approximate index over everything.
    """
    return cosine_topk(
        corpus.where(corpus_predicate), queries, k=k,
        id_col=id_col, vec_col=vec_col,
    )


def _centroid_assign(
    emb: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """Shared core of the centroid evaluators: fit per-label centroids,
    broadcast them as ONE row of (label, vector) structs, and assign
    every embedding to its nearest centroid by squared L2 with the
    lowest-label tie-break. Returns (label, pred) per vector.

    Rows missing either the label or the vector are excluded up
    front: a NULL label cannot train a centroid and a NULL vector
    cannot be assigned (all-NULL-column sweep find — they previously
    leaked a phantom NULL-label group into the report)."""
    emb = emb.where(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    cents = label_centroids(emb, label_col=label_col, vec_col=vec_col)
    cvecs = cents.groupBy(label_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, centroid_v))), "
            "x -> x.centroid_v)"
        ).alias("cv")
    )
    model = cvecs.agg(
        F.expr(
            f"array_sort(collect_list(struct({label_col} AS cid, cv AS cv)))"
        ).alias("cells")
    )
    dists = (
        "transform(cells, c -> struct("
        f"aggregate(zip_with({vec_col}, c.cv, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d, c.cid AS cid))"
    )
    return emb.crossJoin(model).select(
        F.col(label_col),
        F.expr(f"array_min({dists}).cid").alias("pred"),
    )


def centroid_classify(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid classification report: fit per-label centroids
    (``label_centroids`` — deterministic sorted-fold means), assign
    every vector to its nearest centroid by squared L2 (lowest-label
    tie-break), and report per TRUE label: n, n_correct, accuracy —
    the quickest label-quality / separability check on an embedding
    table (low accuracy = labels not linearly separated in the space,
    or mislabeled data).

    Plan: the centroid model collapses to ONE row of
    (label, vector) structs broadcast onto the corpus scan (the IVF
    assignment shape — shuffle-free, constant-size plan at any corpus
    size); distances are sequential per-dimension folds, bit-exact
    cross-engine.
    """
    assigned = _centroid_assign(emb, label_col, vec_col)
    n = F.count(F.lit(1)).cast("bigint")
    n_correct = F.sum(
        F.when(F.col("pred") == F.col(label_col), 1).otherwise(0)
    ).cast("bigint")
    return (
        assigned.groupBy(label_col)
        .agg(
            n.alias("n"),
            n_correct.alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.col("n_correct").cast("double") / F.col("n").cast("double"),
        )
    )


def centroid_confusion(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Confusion matrix of the nearest-centroid classifier: one row
    per (true label, predicted centroid) with its count — the
    which-labels-bleed-into-which view behind ``centroid_classify``'s
    accuracy numbers. Same broadcast one-row model and deterministic
    lowest-label tie-break."""
    return (
        _centroid_assign(emb, label_col, vec_col)
        .groupBy(label_col, "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _safe_cos(a: str, b: str) -> str:
    """Cosine with a zero-norm guard: a zero vector has no direction,
    so its similarity to anything is 0 (it competes on relevance
    alone) — the bare cosine would DIVIDE_BY_ZERO under ANSI mode.
    CASE is lazy per row: the ELSE branch never evaluates on the zero
    side, and when the guard is false the expression IS the bare
    sequential-fold cosine, bit-identical to the oracle's."""
    nsq_a = f"aggregate(transform({a}, x -> x * x), CAST(0 AS DOUBLE), (acc, z) -> acc + z)"
    nsq_b = f"aggregate(transform({b}, x -> x * x), CAST(0 AS DOUBLE), (acc, z) -> acc + z)"
    return (
        f"CASE WHEN {nsq_a} = CAST(0 AS DOUBLE) OR {nsq_b} = CAST(0 AS DOUBLE) "
        f"THEN CAST(0 AS DOUBLE) ELSE " + _COS.format(a=a, b=b) + " END"
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein 1998) of a BOUNDED candidate set: greedily pick ``k``
    items maximizing

        lam * relevance  -  (1 - lam) * max cosine to already-picked

    (first pick = argmax relevance; empty-set similarity is 0) with
    ties broken by ascending id. The retrieval step hands back
    near-duplicate top hits; MMR is the standard de-redundancy pass
    between retrieval and consumption (RAG context packing, dedup of
    search results, diverse few-shot selection).

    COLLECT-FREE iterative DataFrame form: each of the k rounds is an
    anti-join of the candidates against the picked set, a broadcast
    expansion against the (<= k-row) picked vectors for the max-sim,
    and an argmax via orderBy + LIMIT 1 — which plans as
    TakeOrderedAndProject, a bounded heap, never a full sort. The
    picked frame is lazily localCheckpoint-ed per round so lineage
    stays linear in k instead of quadratic. Candidates are top-N
    retrieval output, bounded by construction (the same bounded-model
    contract as the IVF centroid fit) — k and N are O(1) in corpus
    size, so every job here is O(N·k) work regardless of data scale.

    Output: (pick, id_col, rel_col, mmr_score), one row per pick in
    pick order (fewer than k rows when the candidate set is smaller).
    All score arithmetic is per-row double math over the sequential-
    fold cosine — bit-identical cross-engine, so a greedy trace is
    oracle-checkable step by step (the DuckDB twin unrolls the k
    rounds as CTEs, like the PageRank oracle).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    lam_e = F.lit(float(lam))
    om_e = F.lit(float(1.0 - lam))
    cand = (
        candidates.select(
            F.col(id_col).alias("__id"),
            F.col(rel_col).cast("double").alias("__rel"),
            F.expr(_as_double(vec_col)).alias("__v"),
        )
        .localCheckpoint(eager=False)
    )
    sel = (
        cand.orderBy(F.col("__rel").desc(), "__id")
        .limit(1)
        .select(
            "__id", "__rel", "__v",
            (lam_e * F.col("__rel")).alias("__score"),
            F.lit(1).cast("bigint").alias("pick"),
        )
        .localCheckpoint(eager=False)
    )
    for i in range(2, k + 1):
        picked_vecs = sel.select(
            F.col("__id").alias("__sid"), F.col("__v").alias("__sv")
        )
        rem = cand.join(sel.select("__id"), "__id", "left_anti")
        max_sim = (
            rem.crossJoin(picked_vecs)
            .withColumn("__sim", F.expr(_safe_cos("__v", "__sv")))
            .groupBy("__id")
            .agg(F.max("__sim").alias("__ms"))
        )
        best = (
            rem.join(max_sim, "__id")
            .withColumn(
                "__score", lam_e * F.col("__rel") - om_e * F.col("__ms")
            )
            .orderBy(F.col("__score").desc(), "__id")
            .limit(1)
            .select(
                "__id", "__rel", "__v", "__score",
                F.lit(i).cast("bigint").alias("pick"),
            )
        )
        sel = sel.unionByName(best).localCheckpoint(eager=False)
    return sel.select(
        F.col("pick"),
        F.col("__id").alias(id_col),
        F.col("__rel").alias(rel_col),
        F.col("__score").alias("mmr_score"),
    )


def mmr_rerank_grouped(
    candidates: DataFrame,
    k: int,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query MMR: diversify EVERY query's bounded candidate list in
    the same ``k`` greedy rounds — the multi-query face of
    ``mmr_rerank`` (a retrieval system reranks a batch of queries, not
    one). Each round picks, PER QUERY, the argmax of
    lam*rel - (1-lam)*max cosine to that query's already-picked set:
    the global LIMIT 1 becomes a row_number over the query partition,
    so ONE windowed pass serves every query and wall-clock stays O(k)
    rounds regardless of query count. Queries whose candidate list is
    exhausted simply stop growing. Same boundedness contract as
    mmr_rerank (candidates are top-N retrieval output), same zero-norm
    guard, same collect-free shape.

    Output: (query_col, pick, id_col, rel_col, mmr_score)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    lam_e, om_e = F.lit(float(lam)), F.lit(float(1.0 - lam))
    cand = (
        candidates.select(
            F.col(query_col).alias("__q"),
            F.col(id_col).alias("__id"),
            F.col(rel_col).cast("double").alias("__rel"),
            F.expr(_as_double(vec_col)).alias("__v"),
        )
        .localCheckpoint(eager=False)
    )
    w1 = Window.partitionBy("__q").orderBy(F.col("__rel").desc(), "__id")
    sel = (
        cand.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select(
            "__q", "__id", "__rel", "__v",
            (lam_e * F.col("__rel")).alias("__score"),
            F.lit(1).cast("bigint").alias("pick"),
        )
        .localCheckpoint(eager=False)
    )
    for i in range(2, k + 1):
        picked = sel.select(
            F.col("__q").alias("__sq"),
            F.col("__id").alias("__sid"),
            F.col("__v").alias("__sv"),
        )
        rem = cand.join(sel.select("__q", "__id"), ["__q", "__id"], "left_anti")
        sims = (
            rem.join(picked, F.col("__q") == F.col("__sq"))
            .withColumn("__sim", F.expr(_safe_cos("__v", "__sv")))
            .groupBy("__q", "__id")
            .agg(F.max("__sim").alias("__ms"))
        )
        w = Window.partitionBy("__q").orderBy(F.col("__score").desc(), "__id")
        best = (
            rem.join(sims, ["__q", "__id"])
            .withColumn("__score", lam_e * F.col("__rel") - om_e * F.col("__ms"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "__q", "__id", "__rel", "__v", "__score",
                F.lit(i).cast("bigint").alias("pick"),
            )
        )
        sel = sel.unionByName(best).localCheckpoint(eager=False)
    return sel.select(
        F.col("__q").alias(query_col),
        F.col("pick"),
        F.col("__id").alias(id_col),
        F.col("__rel").alias(rel_col),
        F.col("__score").alias("mmr_score"),
    )


def semantic_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag training vectors whose
    cosine to ANY benchmark vector reaches ``threshold`` — the
    paraphrase- and translation-tolerant complement to the n-gram
    (pipeline/decontaminate.py) and MinHash-band (fuzzy) checks, which
    miss semantically-equivalent rewrites that share no surface form.

    Per train row: ``n_hits`` (benchmark vectors at >= threshold),
    ``max_sim`` (the closest benchmark similarity — order-independent
    MAX over bit-deterministic fold cosines, so oracle-exact) and
    ``contaminated``. Zero-norm vectors score 0 (the _safe_cos guard).

    Plan: benchmark is broadcast (eval sets are small by nature), the
    corpus is scanned ONCE through codegen — scoring is corpus x
    eval_count inside the projection, never a corpus shuffle. At very
    large eval sets compose with sign-LSH bucketing first (the
    near_dup_cosine_pairs pattern); this exact form is also the
    verifier for that composition. Empty benchmark -> empty report
    (vacuously clean, same contract as the n-gram decontaminator)."""
    t = train.select(
        F.col(id_col), F.expr(_as_double(vec_col)).alias("__tv")
    )
    b = benchmark.select(F.expr(_as_double(vec_col)).alias("__bv"))
    scored = t.crossJoin(F.broadcast(b)).withColumn(
        "__sim", F.expr(_safe_cos("__tv", "__bv"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count_if(F.col("__sim") >= threshold).alias("n_hits"),
            F.max("__sim").alias("max_sim"),
        )
        .withColumn("contaminated", F.col("n_hits") >= 1)
    )
