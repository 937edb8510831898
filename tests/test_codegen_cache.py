"""The codegen cache holds a registry's worth of compiled classes.

Spark caches the classes Janino compiles for generated code in one
JVM-wide cache of ``spark.sql.codegen.cache.maxEntries`` entries
(default 100). A loop over more query shapes than that recompiles
every class on every pass. ``session.get_spark`` sizes the cache so
that a warm second pass over the registry compiles next to nothing.

The cache's contents depend on everything the JVM ran before, so the
check runs in a fresh JVM, in a subprocess.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR
from keenwa_spark.session import CODEGEN_CACHE_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: registry queries run per pass (the first ones that are not streaming)
N_QUERIES = 30

_PASSES = """
import json, sys
sys.path.insert(0, sys.argv[1])
from keenwa_spark.queries import ensure_views, load_all
from keenwa_spark.session import codegen_stats, get_spark

spark = get_spark("codegen_cache_test")
spark.sparkContext.setLogLevel("ERROR")
ensure_views(spark, sys.argv[2])
reg = load_all()
names = [n for n in reg if not n.startswith("st_")][: int(sys.argv[3])]
compiles = []
for _ in range(2):
    before, _ = codegen_stats(spark)
    for n in names:
        reg[n].fn(spark, sys.argv[2]).collect()
    compiles.append(codegen_stats(spark)[0] - before)
entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
print("CODEGEN " + json.dumps({"compiles": compiles, "entries": entries}))
"""


def test_second_pass_over_registry_compiles_almost_nothing():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="2g")
    out = subprocess.run(
        [sys.executable, "-c", _PASSES, REPO, SF_DIR, str(N_QUERIES)],
        capture_output=True, text=True, timeout=600, env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("CODEGEN ")]
    assert lines, out.stderr[-2000:]
    got = json.loads(lines[-1][len("CODEGEN "):])
    first, second = got["compiles"]
    # more classes than Spark's default cache holds, so a default-sized
    # cache would evict and recompile them on the second pass
    assert first > 100, got
    assert second < 0.05 * first, got
    assert got["entries"] == str(CODEGEN_CACHE_ENTRIES)
