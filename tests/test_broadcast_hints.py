"""Join-strategy hints in the engine.

Catalyst sizes joins itself: it broadcasts a side whose estimate is
under ``autoBroadcastJoinThreshold``, falls back to a sort-merge join
when none is, and AQE re-plans the join from runtime sizes. A forced
``broadcast`` overrides all three and fails instead of falling back
when the side outgrows memory, so the engine forces one only where a
measurement showed the planner doing worse without it. Those sites
are listed below, each with its measurement; everything else is left
to the planner.

The measurements come from the executed-plan census of every batch
registry query at sf0.01, run with and without the hint, at the
session's threshold and at a 64 KB threshold (which puts the sf0.01
corpora over it while bounded sides such as models and query sets
stay under, as at scale).
"""

from __future__ import annotations

import ast
import pathlib
from collections import Counter
from types import SimpleNamespace

import pytest

import tests.conftest as cf

#: every forced broadcast under keenwa_spark/: (module, function,
#: why the planner cannot make the choice), one entry per call site
KEPT_BROADCASTS = [
    ("builder.py", "PlanBuilder.scalar_subquery",
     "LEFT join on TRUE: with an unaggregated sub-relation over the "
     "threshold, the unhinted fallback BroadcastNestedLoopJoin builds "
     "the outer relation (orders at 64 KB) instead of the one-row scalar"),
    ("operators/ordered.py", "with_global_rank",
     "an_price_rank_global: unhinted, the join builds on df and adds "
     "1 exchange; gated on the exactly counted distinct domain"),
    ("pipeline/ivf.py", "ivf_search",
     "probe side (queries x nprobe cells) descends from the query "
     "vectors, whose estimate is their source scan's (a Filter keeps "
     "its child's size): unhinted the corpus side is broadcast at "
     "sf0.01 and 2 exchanges added at 64 KB (pl_ann_ivf_topk)"),
    ("pipeline/pq.py", "pq_search",
     "codes x query-table cross join; the tables carry the query "
     "vectors' source-scan estimate: CartesianProduct unhinted at 64 KB "
     "(pl_ann_pq_adc_topk, pl_ann_pq_refined_topk)"),
    ("pipeline/pq.py", "_emit_topk",
     "the shortlist (queries x refine rows) carries the query vectors' "
     "source-scan estimate: unhinted the corpus vectors are broadcast "
     "at sf0.01 and 1 exchange is added at 64 KB "
     "(pl_ann_pq_refined_topk, pl_ann_ivfpq_refined_topk)"),
    ("pipeline/pq.py", "ivfpq_search",
     "query tables (queries x nprobe cells) carry the query vectors' "
     "source-scan estimate: unhinted the corpus codes are broadcast at "
     "sf0.01, and at 64 KB the join falls back to a sort-merge join "
     "with 2 more exchanges (pl_ann_ivfpq_topk, pl_ann_lopq_topk)"),
    ("pipeline/similarity.py", "cosine_topk",
     "non-equi join; the query side's estimate is its source scan's: "
     "CartesianProduct unhinted at 64 KB (pl_ann_cosine_topk)"),
    ("pipeline/similarity.py", "semantic_dedup",
     "cross join with the centroids: CartesianProduct unhinted at 64 KB "
     "(pl_semantic_dedup)"),
    ("pipeline/similarity.py", "semantic_decontaminate",
     "cross join with the benchmark: CartesianProduct unhinted at 64 KB "
     "(pl_semantic_decontaminate)"),
    ("queries/events.py", "ev_type_cooccurrence",
     "once the basket cache is filled its runtime size makes the "
     "planner broadcast the pair counts instead: +1 exchange with no "
     "hint on the pair joins (after the other ev_ queries)"),
    ("streaming/events.py", "enrich_stream",
     "stream-static join: AQE does not re-plan micro-batches, so an "
     "unhinted dim over the threshold shuffles the stream every batch"),
]

#: the only ``.hint(...)`` calls: (module, function, hint name when it
#: is a literal) -> why it is not a planner decision of the engine
HINT_PASSTHROUGH = {
    ("builder.py", "PlanBuilder.hint", None): "passes a user's hint "
    "through",
    ("builder_fuzz.py", "ProgramGen._join_on.make", None): "fuzz cases "
    "drive PlanBuilder.hint",
    ("sources/bucketing.py", "is_shuffle_free_join", "merge"): "the merge "
    "hint is the check: it asks whether a sort-merge join of two "
    "bucketed tables needs an exchange",
}


def _hint_sites() -> tuple[Counter, set]:
    """Broadcast calls counted per (module, enclosing function), and
    the ``.hint`` calls as (module, function, literal hint name or
    None), under keenwa_spark/. Broadcast VARIABLES
    (``sparkContext.broadcast``) ship driver data to tasks and are not
    join hints."""
    root = pathlib.Path(__file__).resolve().parents[1] / "keenwa_spark"
    broadcasts: Counter = Counter()
    hints: set = set()

    def walk(node, scope, rel):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                walk(child, scope + [child.name], rel)
                continue
            if isinstance(child, ast.Call):
                site = (rel, ".".join(scope))
                func = child.func
                if isinstance(func, ast.Name) and func.id == "broadcast":
                    broadcasts[site] += 1
                elif isinstance(func, ast.Attribute) and func.attr == "broadcast":
                    if not (
                        isinstance(func.value, ast.Attribute)
                        and func.value.attr == "sparkContext"
                    ):
                        broadcasts[site] += 1
                elif isinstance(func, ast.Attribute) and func.attr == "hint":
                    arg = child.args[0] if child.args else None
                    name = arg.value if isinstance(arg, ast.Constant) else None
                    hints.add((*site, name))
            walk(child, scope, rel)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        walk(ast.parse(path.read_text()), [], rel)
    return broadcasts, hints


def test_no_broadcast_hints_outside_the_measured_sites():
    """A new forced broadcast needs a measurement and an entry above;
    a deleted one needs its entry gone."""
    broadcasts, hints = _hint_sites()
    assert broadcasts == Counter((m, f) for m, f, _ in KEPT_BROADCASTS)
    assert hints == set(HINT_PASSTHROUGH)


#: registry queries whose broadcast hint sat on a data-dependent
#: equi-join side (candidate ids, vocabulary, per-group statistics,
#: query buckets, sketch and model rows)
FALLBACK_QUERIES = [
    "pl_lsh_verified_pairs",
    "pl_search_topk",
    "pl_search_bm25",
    "pl_winsorize",
    "pl_robust_scale",
    "pl_target_encode",
    "pl_decontaminate",
    "pl_fuzzy_decontaminate",
    "pl_ann_lsh_topk",
    "pl_cms_heavy_hitters",
    "pl_dsir_weights",
    "pl_association_cramers_v",
]


@pytest.fixture(scope="module")
def no_broadcast(views):
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = views.conf.get(key)
    views.conf.set(key, "-1")
    yield views
    views.conf.set(key, saved)


@pytest.fixture(scope="module")
def duck():
    from tools.check_correctness import duck_con

    con = duck_con(cf.SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", FALLBACK_QUERIES)
def test_data_dependent_join_falls_back_to_sort_merge(no_broadcast, duck, name):
    """With broadcasting off, the join whose hint was deleted plans as
    a sort-merge join and the rows still equal the DuckDB oracle."""
    from keenwa_spark.conformance import OracleCase, run_cases
    from keenwa_spark.plans import final_plan_text
    from keenwa_spark.queries import load_all

    spec = load_all()[name]
    built = []

    def build(spark):
        built.append(spec.fn(spark, cf.SF_DIR))
        return built[-1]

    case = OracleCase(name, build, spec.oracle)
    assert run_cases(SimpleNamespace(case=lambda: case), no_broadcast, duck, 1) == []
    plan = final_plan_text(built[0])
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan
