"""The benchmark's workloads: which registry entries run, on which data.

Each workload is a fixed list of registry entries (``keenwa_spark.queries``)
and the scale of the synthetic tables they read. A run times whole
passes over the list; every pass is a seeded shuffle of it, so the seed
changes the order of the ops and never the multiset.

The first op of each list is also the one set-up runs. The lists are
short because the whole benchmark (every run of every workload, each
with its own JVM, warm-up and set-up repeats) has to fit a fixed
wall-clock budget. Each list keeps the property its workload was chosen
for; BENCHMARK.json and README.md say which.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: scale factor of the generated tables (6M lineitem rows per unit)
    sf: float
    #: seconds one warm pass takes on a 4-core box; sets how many whole
    #: passes fill the window, so that the count never depends on timing
    pass_s: float
    ops: tuple[str, ...]

    def window_passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))

    def passes(self, seed: int):
        """Endless seeded shuffles of ``ops``, one list per pass."""
        rng = random.Random(seed)
        while True:
            order = list(self.ops)
            rng.shuffle(order)
            yield order


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="keenwa_surface",
            sf=0.001,
            pass_s=3.7,
            # every sixth of the 98 entries covering keenwa's SQL and
            # builder surface (prefixes expr_ fn_ join_ agg_ subq_ win_
            # bld_ distinct_ order_ get_ filter_ projection_ union_
            # intersect_ except_ limit_ values_ select_ cte_ derived_
            # wildcard_), in name order
            ops=(
                "agg_bool_family",
                "agg_pivot_status_priority",
                "bld_exists",
                "derived_table",
                "expr_array",
                "expr_cast",
                "expr_interval_ops",
                "expr_time_shim",
                "fn_datetime_extended",
                "get_scan",
                "join_lateral_topn",
                "join_using",
                "subq_exists",
                "subq_not_in_nulls",
                "wildcard_qualified",
                "win_multiple_functions",
                "win_time_range_rolling",
            ),
        ),
        Workload(
            name="pipeline_stream",
            sf=0.01,
            pass_s=4.0,
            ops=(
                "st_upsert_state",
                "pl_corpus_curation",
                "st_rollup_refresh",
            ),
        ),
    )
}
