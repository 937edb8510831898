"""Plan inspection — the analog of keenwa's plan formatter + the
plan-shape assertions this repo's scale discipline depends on.

keenwa renders its chosen physical plan as text (reference
src/operators/format.rs, 660 LoC) and its tests assert plan shape
(reference src/tests/mod.rs golden plans). Catalyst's plans are richer;
these helpers expose them uniformly and turn the scale rules
("dimensions broadcast", "no cartesians", "filters reach the scan")
into one-line assertions usable from tests AND notebooks.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """Plan text via the documented ExplainMode path."""
    jvm = df.sparkSession._jvm  # type: ignore[attr-defined]
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(explain_mode)  # type: ignore[attr-defined]


def executed_plan_text(df: DataFrame) -> str:
    """Post-AQE executed plan (requires an action to have run for the
    final plan; otherwise shows the initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]


def final_plan_text(df: DataFrame) -> str:
    """The final tree of the executed plan. An AQE plan that has run
    prints its Initial Plan after the final one, and a cached frame
    prints its own Final/Initial pair inside the tree, so cutting at
    the first ``== Initial Plan ==`` would lose the rest of the outer
    tree. Instead each Initial Plan block is dropped: the marker line
    and the lines indented deeper than it."""
    kept: list[str] = []
    block = None  # column of the Initial Plan marker being skipped
    for line in executed_plan_text(df).splitlines():
        if block is not None and len(line) - len(line.lstrip(" ")) > block:
            continue
        block = line.find("+- == Initial Plan ==")
        if block >= 0:
            continue
        block = None
        kept.append(line)
    return "\n".join(kept)


@dataclass
class PlanSummary:
    broadcast_joins: int
    sort_merge_joins: int
    nested_loop_joins: int
    cartesian_products: int
    exchanges: int
    python_evals: int
    pushed_filters: bool

    @property
    def is_star_join_shaped(self) -> bool:
        """The shape the scale rules want for dimension joins."""
        return (
            self.broadcast_joins > 0
            and self.sort_merge_joins == 0
            and self.cartesian_products == 0
        )


#: a Window node line — anchored so `WindowGroupLimit` /
#: `WindowInPandas` don't match the bare node name
_WINDOW_NODE = re.compile(r"(?:^|[\s:+\-])Window \[")


def partitionless_windows(plan: str) -> list[str]:
    """The Window node lines of ``plan`` with an EMPTY partition spec —
    each one funnels its whole input through a single task, the
    plan shape that dies first at 100 TB (VERDICT r05 items 1-4).

    Window.toString prints ``[fns]`` followed by the partition-spec
    and order-spec groups, OMITTING empty ones:

    - partitioned + ordered  → ``[fns], [p#1], [o#2 ASC ...]`` (2 seps)
    - partitionless, ordered → ``[fns], [o#2 ASC ...]``        (1 sep,
      final group is an order spec — contains ASC/DESC)
    - partition-only         → ``[fns], [p#1]``                (1 sep,
      final group has no sort direction) — NOT single-partition
    - fully global unordered → ``[fns]``                       (0 seps)

    A partitionless ordered Window is EXEMPT when, walking down its
    input chain through row-count-preserving nodes (Sort / Exchange /
    Project / AQE wrappers), the first row-count-CHANGING node is a
    limit (``TakeOrderedAndProject`` / ``GlobalLimit`` / ...): the
    distributed top-k below proves the window's input is bounded by a
    constant at any corpus size — the plan Spark emits for
    ``rank ... WHERE rank <= k`` and ``orderBy().limit(k)`` inputs."""
    lines = plan.splitlines()
    flagged = []
    for i, line in enumerate(lines):
        if not _WINDOW_NODE.search(line):
            continue
        seps = line.count("], [")
        if seps == 1:
            tail = line.rsplit("], [", 1)[1]
            if " ASC" not in tail and " DESC" not in tail:
                continue  # partition-only window (has a partition spec)
        elif seps != 0:
            continue  # partitioned + ordered
        if not _bounded_below(lines, i):
            flagged.append(line.strip())
    return flagged


#: unary nodes that never increase their input's row count
_ROW_PRESERVING = {
    "Sort", "Exchange", "Project", "AQEShuffleRead", "ShuffleQueryStage",
    "InputAdapter", "WholeStageCodegen", "ResultQueryStage",
    "ColumnarToRow", "RowToColumnar", "Filter", "Coalesce",
}
#: nodes that bound their output by a constant limit
_BOUNDING = {"TakeOrderedAndProject", "CollectLimit", "GlobalLimit", "LocalLimit"}

_NODE_NAME = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def _bounded_below(lines: list[str], i: int) -> bool:
    """True when the Window at ``lines[i]`` reads from a constant-bounded
    input: scan down the (unary) child chain and require a limit node
    before any other row-count-changing operator."""
    for line in lines[i + 1 : i + 12]:
        m = _NODE_NAME.match(line)
        if not m:
            return False
        name = m.group(1)
        if name in _BOUNDING:
            return True
        if name not in _ROW_PRESERVING:
            return False
    return False


def summarize(df: DataFrame) -> PlanSummary:
    # node counts come from the plan TREE (executedPlan.toString — one
    # line per node); the formatted explain would double-count every
    # node in its details section, and a post-execution AQE plan would
    # double again via the appended Initial Plan
    tree = final_plan_text(df)
    # pushed-filter evidence lives in the formatted details (full text)
    formatted = explain_text(df)
    return PlanSummary(
        broadcast_joins=tree.count("BroadcastHashJoin"),
        sort_merge_joins=tree.count("SortMergeJoin"),
        nested_loop_joins=tree.count("BroadcastNestedLoopJoin"),
        cartesian_products=tree.count("CartesianProduct"),
        exchanges=tree.count("Exchange"),
        python_evals=(
            tree.count("BatchEvalPython")
            + tree.count("ArrowEvalPython")
            # deliberate Arrow-batch crossings (mapInPandas operators)
            # count too — a plan audit that hides them would claim
            # pure-JVM for plans that are not
            + tree.count("MapInPandas")
        ),
        pushed_filters="PushedFilters: [" in formatted,
    )


def assert_scale_shape(
    df: DataFrame,
    broadcast_only_joins: bool = True,
    no_python: bool = True,
    pushed_filters: bool | None = None,
) -> PlanSummary:
    """Raise AssertionError (with the summary) when a plan violates the
    scale rules; returns the summary otherwise."""
    s = summarize(df)
    problems = []
    if broadcast_only_joins and (s.sort_merge_joins or s.cartesian_products):
        problems.append(f"non-broadcast joins: smj={s.sort_merge_joins} cart={s.cartesian_products}")
    if no_python and s.python_evals:
        problems.append(f"python eval nodes: {s.python_evals}")
    if pushed_filters and not s.pushed_filters:
        problems.append("no pushed filters reached the scan")
    if problems:
        raise AssertionError(f"plan violates scale shape: {'; '.join(problems)} ({s})")
    return s
