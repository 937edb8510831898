"""Wide seeded cross-engine fuzz sweep over one generator family.

Usage:
    python tools/fuzz.py FAMILY [n_per_seed] [seed seed ...]

FAMILY is a key of ``FAMILIES``. ``stream:PREFIX`` (e.g. ``stream:ck``,
the kill-restart recovery cases) keeps drawing stream cases until the
kind starts with PREFIX; the generator stays seed-deterministic and
non-matching draws are skipped, not run. Defaults: 200 cases per seed
for ``sql`` and ``builder``, 100 for the rest, seeds 1-5. Both engines
get the conformance mini catalog. With ``REGIME_SEED`` set, the sweep
runs under one optimizer regime drawn from ``conformance.REGIME_GRID``
by that seed. Exit 1 on any mismatch, printing each mismatch record.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: family -> (keenwa_spark module, generator class)
FAMILIES = {
    "sql": ("fuzz", "QueryGen"),
    "builder": ("builder_fuzz", "ProgramGen"),
    "temporal": ("temporal_fuzz", "TemporalGen"),
    "ordered": ("ordered_fuzz", "OrderedGen"),
    "state": ("state_fuzz", "StateGen"),
    "hyper": ("hyper_fuzz", "HyperGen"),
    "series": ("series_fuzz", "SeriesGen"),
    "sketch": ("sketch_fuzz", "SketchGen"),
    "dedup": ("dedup_fuzz", "DedupGen"),
    "text": ("text_fuzz", "TextGen"),
    "split": ("split_fuzz", "SplitGen"),
    "in3vl": ("in3vl_fuzz", "In3vlGen"),
    "in3vl_nested": ("in3vl_fuzz", "NestedIn3vlGen"),
    "stream": ("stream_fuzz", "StreamGen"),
}


def sweep(family: str, spark, duck, seed: int, n: int) -> list[dict]:
    """Mismatch records of ``n`` cases of ``family`` drawn from ``seed``."""
    from keenwa_spark import conformance as cf

    name, _, prefix = family.partition(":")
    module, gen = FAMILIES[name]
    mod = importlib.import_module(f"keenwa_spark.{module}")
    if name == "stream":
        # its own loop: kill-restart, temp dirs, late-data bounds law
        return mod.run_stream_fuzz(spark, duck, seed=seed, n=n,
                                   only_prefix=prefix or None)
    return cf.run_cases(getattr(mod, gen)(seed), spark, duck, n)


def main() -> None:
    from keenwa_spark import conformance as cf
    from keenwa_spark.session import get_spark

    family = sys.argv[1] if len(sys.argv) > 1 else ""
    name, _, prefix = family.partition(":")
    if name not in FAMILIES or (prefix and name != "stream"):
        raise SystemExit(__doc__)
    default_n = 200 if name in ("sql", "builder") else 100
    n = int(sys.argv[2]) if len(sys.argv) > 2 else default_n
    seeds = [int(s) for s in sys.argv[3:]] or [1, 2, 3, 4, 5]
    spark = get_spark(f"fuzz_{name}")
    if os.environ.get("REGIME_SEED"):
        regime = random.Random(int(os.environ["REGIME_SEED"])).choice(cf.REGIME_GRID)
        for k, v in regime.items():
            spark.conf.set(k, v)
        print(f"# regime (seed {os.environ['REGIME_SEED']}): {regime}")
    cf.register_mini_catalog(spark)
    duck = cf.duckdb_mini_catalog()
    total_bad = 0
    for seed in seeds:
        mis = sweep(family, spark, duck, seed, n)
        print(f"seed {seed}: {n} cases, {len(mis)} mismatches", flush=True)
        for m in mis:
            print(json.dumps(m, default=str)[:900])
        total_bad += len(mis)
    print(f"TOTAL: {len(seeds) * n} cases, {total_bad} mismatches")
    sys.exit(1 if total_bad else 0)


if __name__ == "__main__":
    main()
