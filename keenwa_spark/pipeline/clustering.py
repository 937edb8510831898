"""Near-duplicate clustering: candidate pairs -> dedup groups.

The missing last step of every dedup pipeline: LSH/Jaccard emit PAIRS,
but retention decisions need GROUPS ("keep one doc per connected
component"). ``connected_components`` labels every node of the pair
graph with the smallest doc_id it reaches, by one of two paths chosen
by the pair count it measures:

- **Small graphs (at most ``SMALL_GRAPH_MAX_PAIRS`` pairs).** The pair
  list is collected once (Arrow) and solved on the driver by a
  vectorised numpy union-find (``min_id_components``). The labels come
  back as a LocalRelation, which the planner sizes exactly, so the
  consumer's components join broadcasts under
  ``autoBroadcastJoinThreshold``. No per-round Spark job runs.
- **Larger graphs.** Iterative min-label propagation on Spark: each
  round is one hop (every node adopts the smallest label among itself
  and its neighbours) plus one pointer jump, so convergence takes
  O(log(diameter)) rounds. Each round is two shuffles over the EDGE
  list, which for dedup is far smaller than the corpus; the driver
  only reads a convergence sum OBSERVED on the round's own
  materialization job — no data collects and no extra per-round action
  runs. This is the standard large-graph CC pattern (GraphX /
  GraphFrames use the same alternating join-aggregate rounds). The
  checkpointed labels carry no size, so consumer joins fall back to a
  sort-merge join (or an AQE runtime conversion) instead of a forced
  broadcast.

Determinism: labels are min(doc_id) on both paths, so results are
unique regardless of execution order or path — exactly
oracle-checkable (DuckDB recursive CTE computes the same
min-reachable-id closure). Pairs with a null endpoint are not edges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

#: Largest pair list solved on the driver. Its graph has at most 2M
#: nodes, so the (doc_id, component) LocalRelation is at most
#: 2M x 24 B = 48 MB by Catalyst's row-size estimate: under the
#: session's 64 MB autoBroadcastJoinThreshold (and under Arrow's 48 MB
#: local-relation threshold, so createDataFrame keeps it a
#: LocalRelation), and small in driver memory. Above it the distributed
#: loop is the only path (SCALE.md's 100x graph has 26.8M pairs).
SMALL_GRAPH_MAX_PAIRS = 1_000_000


def connected_components(
    pairs: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """Components of the undirected graph given by (id_a, id_b) pairs.

    Returns (doc_id, component) where component = min doc_id reachable.
    Only nodes appearing in pairs are returned (singletons are their own
    component by definition — callers union them in if needed). A pair
    with a null endpoint is dropped: it is not an edge.

    The pair list is read once: lineage cut by a lazy local checkpoint,
    then at most ``SMALL_GRAPH_MAX_PAIRS + 1`` rows collected. If that
    is the whole list, the graph is solved on the driver
    (``min_id_components``) and returned as a LocalRelation — a
    consumer's executed plan then shows a ``LocalTableScan``, which
    records the path taken. Otherwise the distributed hop/jump loop
    runs over the checkpointed pairs (``max_rounds`` bounds it; it
    raises RuntimeError rather than return partially-merged
    components). Both paths return the same canonical labels.
    """
    pairs = (
        pairs.select("id_a", "id_b")
        .where(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
        .localCheckpoint(eager=False)
    )
    head = pairs.limit(SMALL_GRAPH_MAX_PAIRS + 1).toPandas()
    if len(head) > SMALL_GRAPH_MAX_PAIRS:
        return _distributed_components(pairs, max_rounds)
    if head.empty:
        # OptimizeLimitZero turns this into an empty LocalRelation that
        # keeps the id type; pandas cannot (an empty frame skips Arrow)
        return pairs.select(
            F.col("id_a").alias("doc_id"), F.col("id_a").alias("component")
        ).limit(0)
    nodes, component = min_id_components(
        head["id_a"].to_numpy(), head["id_b"].to_numpy()
    )
    # Arrow createDataFrame of a pandas frame plans as a LocalRelation
    # with an exact size (a Python list would become a pickled-RDD scan)
    return pairs.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": nodes, "component": component})
    )


def min_id_components(
    id_a: np.ndarray, id_b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side connected components of the edges ``id_a[i] --
    id_b[i]``: returns (nodes, component), nodes sorted and unique,
    component[i] the smallest node reachable from nodes[i].

    Vectorised union-find over node indices, no Python loop per edge.
    Each round hooks every root that has an edge to a smaller root onto
    the smallest such root (``np.minimum.at``), then pointer-jumps until
    every tree is a star, and drops edges whose ends now share a root.
    Hooks only ever point to a smaller index, so each root is the
    smallest index in its set — and, the nodes being sorted, the
    smallest id. A root with a live edge that does not hook has only
    larger neighbours, and each of them hooks onto a root no larger than
    it; so within two rounds every such root merges, and the root count
    of each component at least halves every two rounds.
    """
    nodes, idx = np.unique(np.concatenate([id_a, id_b]), return_inverse=True)
    a, b = idx[: len(id_a)], idx[len(id_a) :]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            return nodes, nodes[parent]
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _distributed_components(pairs: DataFrame, max_rounds: int) -> DataFrame:
    """The Spark hop/jump loop over the checkpointed, null-free
    ``pairs``. Each round does (a) a one-hop min-label adoption and (b)
    a pointer jump l(v) := l(l(v)) — the shortcutting step that makes
    convergence O(log diameter) instead of O(diameter) (a bare one-hop
    propagation needs 30 rounds for a 31-node chain; hop+jump needs
    ~6). Raises RuntimeError if not converged within ``max_rounds``.
    """
    # both directions PLUS a self-loop per endpoint: with (v, v) rows
    # present, every per-src min over joined labels already includes
    # the node's own label, so each round's hop is ONE join + ONE
    # aggregate — the r12 shape needed a second join (labels back onto
    # the neighbor mins) and its exchange every round just to mix the
    # own label in (r13, guide §2.1: one shuffle removed per round).
    # Self-loops only ever contribute the node's current label to a
    # min — they cannot change any component.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .union(pairs.select(F.col("id_a").alias("src"), F.col("id_a").alias("dst")))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_b").alias("dst")))
        .distinct()
        # cut lineage: labels derive from edges, and the in-loop
        # edges⋈labels join otherwise shares attribute ids with its own
        # ancestor (Catalyst AttributeMap 'key not found' in Union
        # constraint rewriting). LAZY (r13): eager=True spent one
        # driver-blocking job per checkpoint; lazy checkpoints
        # materialize inside the convergence-sum action that
        # immediately follows, halving the job count per round (the
        # LogicalRDD lineage cut happens at plan-build time either
        # way, so the AttributeMap dodge is unchanged).
        .localCheckpoint(eager=False)
    )
    # convergence: labels only ever DECREASE, so the label sum is
    # stable iff no label changed — one decimal aggregate per round
    # (exact at any scale) instead of a join+filter+count. The sum is
    # OBSERVED on the checkpoint-materialization action itself (r14):
    # a map-side AggregatingAccumulator piggybacking on the round's one
    # job, instead of a separate labels-sized aggregate (its exchange +
    # final-agg stage) per round. At 100 TB that removes a V-row
    # shuffle-read per round; measured best-of-5 at sf0.1: 0.45s vs
    # 0.56s for the collect-sum shape.
    sum_col = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")

    # init = node list AND the first hop in one shuffle: label starts at
    # min(node, min neighbor) instead of node — identical to running one
    # hop round on identity labels, one round (and its jobs) cheaper.
    # The self-loop makes min(dst) already include the node itself.
    obs0 = Observation()
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("label"))
        .observe(obs0, sum_col)
        .localCheckpoint(eager=True)
    )
    prev_sum = obs0.get["s"]
    for _ in range(max_rounds):
        # (a) one hop: adopt min(own, neighbors') label — ONE inner
        # join + ONE aggregate, because the self-loop rows feed each
        # node's own label into its min (and guarantee every node
        # survives the inner join). Join, not a self-union — unioning
        # a frame with its own derivation trips Catalyst's Union
        # constraint rewriting (AttributeMap key-not-found) on some
        # lineages.
        hopped = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        # (b) pointer jump: follow the label's own label (labels only
        # ever decrease, so the jump is monotone-safe)
        jumped = (
            hopped.alias("a")
            .join(
                hopped.select(
                    F.col("node").alias("jnode"), F.col("label").alias("jlabel")
                ),
                F.col("a.label") == F.col("jnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.least(F.col("a.label"), F.coalesce("jlabel", "a.label")).alias("label"),
            )
        )
        # checkpoint the frontier: lineage otherwise grows per round.
        # Eager, with the convergence sum observed on the same action —
        # each round costs ONE job and the sum rides it as an
        # accumulator instead of a second labels-sized aggregate (r14).
        obs = Observation()
        labels = jumped.observe(obs, sum_col).localCheckpoint(eager=True)
        new_sum = obs.get["s"]
        if new_sum == prev_sum:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("component")
            )
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds "
        "(graph diameter too large — raise max_rounds)"
    )


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full dedup decision table: every doc with its component id and
    a keep flag (representative = min doc_id of the component;
    singletons keep themselves).

    No broadcast hint: a small graph's components come back as a
    sized LocalRelation, which the planner broadcasts under
    autoBroadcastJoinThreshold; a large graph's checkpointed labels
    have no size and get a sort-merge join instead of an oversized
    broadcast (see ``connected_components``)."""
    comp = connected_components(pairs)
    return (
        docs.select(F.col(id_col))
        .join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("keep", (F.col(id_col) == F.col("component")))
    )


def cluster_keep_by_priority(
    df: DataFrame,
    pairs: DataFrame,
    priority: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_priority: int = 999,
) -> DataFrame:
    """Resolve near-dup clusters by SOURCE PRIORITY instead of min-id:
    within each connected component, keep the doc from the most
    trusted source (curated > web-crawl), tie-broken by id.

    The keep-policy layer every real dedup ends with — "which copy
    survives" is a data-quality decision, not an artifact of id
    assignment. Input ``pairs`` is any near-dup pair list (banded LSH,
    verified Jaccard, cosine). One window shuffle keyed by component
    on top of the connected-components labeling; singletons coalesce
    to their own id and always survive.

    Output: (id, component, source, priority) for SURVIVING docs only.
    """
    from pyspark.sql.window import Window

    comp = connected_components(pairs)
    # Column-expression CASE (F.when chain), never string-formatted
    # SQL: keys, values, and the column name all stay data — immune to
    # quotes/SQL fragments in any of them.
    prio: Column = F.lit(int(default_priority))
    for k, v in sorted(priority.items(), reverse=True):
        prio = F.when(F.col(source_col) == F.lit(str(k)), int(v)).otherwise(prio)
    labeled = (
        df.select(id_col, source_col)
        # no hint: the planner sizes comp (see dedup_groups)
        .join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("priority", prio.cast("bigint"))
    )
    w = Window.partitionBy("component").orderBy("priority", id_col)
    return (
        labeled.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )


def triangle_stats(pairs: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph given as
    canonical (id_a < id_b) edge pairs: edge count, triangle count,
    wedge count (paths of length 2), and the global clustering
    coefficient 3T/W — the density diagnostic for a near-dup graph
    (high clustering = tight duplicate cliques that a
    keep-one-per-component policy collapses well; low clustering =
    chained borderline matches where transitive merging over-groups).

    Plan: triangles enumerate as two edge self-joins constrained to
    a < b < c, so each triangle is counted exactly once; wedges come
    from exact integer degree arithmetic (d*(d-1)/2 — always even, so
    the double division is exact). The joins shuffle on edge
    endpoints; for graphs with power-law hubs, re-rank node ids by
    degree first (the standard ordered-triangle optimization) — the
    duplicate graphs this targets are bucket-bounded by construction
    (LSH max_bucket guard), so hubs are already capped.
    """
    e = pairs.select("id_a", "id_b")
    deg = (
        e.select(F.col("id_a").alias("node"))
        .unionAll(e.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("CAST(d * (d - 1) / 2 AS BIGINT)"))
        .cast("bigint")
        .alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        edges.crossJoin(tri)
        .crossJoin(wedges)
        .select(
            "n_edges",
            "n_triangles",
            F.coalesce("n_wedges", F.lit(0)).alias("n_wedges"),
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"),
            ).alias("global_clustering"),
        )
    )


def golden_records(
    df: DataFrame,
    cluster_col: str,
    ts_col: str,
    fields: list[str],
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Survivorship: merge each duplicate cluster into one golden
    record — per field, the value of the cluster's LATEST row where
    that field is non-null ("latest known value" — a recent record
    with a missing phone number must not erase the phone an older
    record carried). The master-data finishing step after
    ``connected_components``/``cluster_keep_by_priority`` when you
    want to MERGE duplicates instead of keeping one survivor row.

    One aggregation pass: each field rides ``max_by`` over the
    ordering struct (non-null flag, epoch, tie_cols) — non-null wins
    over null, then recency, then the deterministic tie-break. Also
    emits ``n_members`` and ``last_seen`` per cluster.
    """
    ties = [F.col(c) for c in (tie_cols or [])]

    def pick(field: str):
        order = F.struct(
            F.col(field).isNotNull().cast("int").alias("nn"),
            F.unix_micros(F.col(ts_col)).alias("e"),
            *[t.alias(f"t{i}") for i, t in enumerate(ties)],
        )
        return F.max_by(F.col(field), order).alias(field)

    return df.groupBy(cluster_col).agg(
        *[pick(f) for f in fields],
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(F.col(ts_col)).alias("last_seen"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
    exact_fold: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the score-
    propagation counterpart of ``connected_components`` (authority
    scoring for canonical-document selection, influence ranking over
    interaction graphs).

    Semantics (pinned, oracle-checkable): edges are deduplicated;
    DANGLING nodes (no out-edge) get a self-loop — the bounded
    alternative to global mass redistribution, which would need an
    order-stable global sum every round. Then ``n_iter`` rounds of
      rank(v) = (1-d)/N + d * sum(rank(u)/outdeg(u) for u -> v)
    starting from rank = 1/N. All arithmetic is pinned-shape double
    math; per-node contribution sums fold in SORTED order when
    ``exact_fold`` (bit-identical cross-engine regardless of
    partitioning). At 100 TB set ``exact_fold=False``: a hub node's
    in-degree-sized collect_list becomes a plain partial-aggregated
    SUM (order-dependent in the last ulp, map-side combinable).

    Scale shape: each round is one join on src (rank table, node-keyed)
    plus one aggregate on dst — the standard alternating join-agg
    PageRank (GraphX lineage). The node/out-degree table is computed
    once; N rides along as a broadcast 1-row aggregate, never a
    driver-side collect. Lineage depth grows with ``n_iter`` — for
    tens of rounds, checkpoint between rounds (documented; 5 default).
    """
    # bare float literals parse as DECIMAL in Spark SQL and DuckDB —
    # CAST pins them to the exact double both engines then use
    om = f"CAST({1.0 - damping!r} AS DOUBLE)"
    d = f"CAST({damping!r} AS DOUBLE)"
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    dangling = nodes.join(
        e.select("src").distinct(),
        nodes["node"] == e["src"],
        "left_anti",
    )
    e2 = e.union(
        dangling.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    outd = e2.groupBy("src").agg(F.count("*").cast("bigint").alias("outd"))
    n_row = nodes.agg(F.count("*").alias("n"))
    base = nodes.crossJoin(n_row)
    ranks = base.withColumn("rank", F.expr("CAST(1.0 AS DOUBLE) / n")).select(
        "node", "rank"
    )
    fold = (
        "aggregate(sort_array(collect_list(c)), CAST(0 AS DOUBLE), (a, x) -> a + x)"
        if exact_fold
        else "sum(c)"
    )
    for _ in range(n_iter):
        contribs = (
            e2.join(outd, "src")
            .join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outd")).alias("c"),
            )
        )
        sums = contribs.groupBy("node").agg(F.expr(fold).alias("s"))
        ranks = (
            base.join(sums, "node", "left")
            .withColumn(
                "rank",
                F.expr(f"{om} / n + {d} * COALESCE(s, CAST(0 AS DOUBLE))"),
            )
            .select("node", "rank")
        )
    return ranks
