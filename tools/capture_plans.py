"""Capture .explain('formatted') for every headline query of one
optimization round: plans/<round>/<query>_<tag>.txt.

Usage:
    python tools/capture_plans.py ROUND before [names...]
    python tools/capture_plans.py ROUND after  [names...]

ROUND names the output directory (e.g. r14). Default name set =
bench.HEADLINE. The files are committed so plan claims can be checked
without running Spark.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from keenwa_spark.queries import load_all
from keenwa_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        raise SystemExit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(bench.BENCH_DIR, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    registry = load_all()
    spark = get_spark("capture_plans")
    registry["get_scan"].fn(spark, sf_dir).count()  # warm file listing
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
