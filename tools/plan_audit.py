"""Refresh the plan audit of the bench headline suite: executed-plan
censuses at sf0.1, stored in SCALE.json under ``audit`` and rendered
into SCALE.md by ``tools/scale_probe.render``.

Run: python tools/plan_audit.py

Each query is EXECUTED (collect) so the AQE-final plan is audited; the
GW column counts unbounded single-partition windows (plans.py
``partitionless_windows`` — limit-bounded global windows are exempt),
the same check the full-registry audit enforces.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import HEADLINE

    from keenwa_spark.plans import (
        executed_plan_text,
        partitionless_windows,
        summarize,
    )
    from keenwa_spark.queries import load_all
    from keenwa_spark.session import get_spark
    from tools import scale_probe

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan_audit")
    registry = load_all()

    rows = []
    for name in HEADLINE:
        df = registry[name].fn(spark, sf_dir)
        df.collect()
        s = summarize(df)
        rows.append({
            "query": name,
            "bhj": s.broadcast_joins,
            "smj": s.sort_merge_joins,
            "nlj": s.nested_loop_joins,
            "cart": s.cartesian_products,
            "exch": s.exchanges,
            "py": s.python_evals,
            "gw": len(partitionless_windows(executed_plan_text(df))),
            "pushed": s.pushed_filters,
        })

    data = scale_probe.load()
    data["audit"] = {
        "base": os.path.basename(os.path.abspath(sf_dir)),
        "measured": scale_probe.commit(),
        "rows": rows,
    }
    scale_probe.save(data)
    scale_probe.write_md(data)
    print(f"updated the audit in {scale_probe.SCALE_JSON} and SCALE.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
