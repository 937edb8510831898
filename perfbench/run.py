"""Closed-loop end-to-end benchmark of the engine, with a traced per-layer split.

Usage (from the repository root):

    python3 perfbench/run.py --workload keenwa_surface --seed 1 --seconds 8 --trace 0

One client in one process runs registry entries back to back on
``local[<cores>]``: each op calls ``queries.load_all()[name].fn(spark,
data_dir)`` and ``collect()``s the result. After the timed window every
collected result is checked against the entry's DuckDB oracle, whose
result is computed before the window starts.

A run: launch the JVM while generating the workload's tables and
computing the oracle results; restart the session ``SETUP_REPEATS``
times, timing each from ``get_spark`` through catalog registration to
the first op's result (``setup_s`` is their median); warm up with the
rest of a pass and ``WARMUP_PASSES`` more in list order; then time
as many whole seeded passes as the workload's nominal pass length fits
into ``--seconds``. Set-up comes before the warm-up so that the
timed window runs in a session whose Python workers have started. With
``--trace 1`` one more pass, in the seed's first order, runs with
per-layer tracing, and the run reports the per-layer metrics instead of
the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
records the pinned environment. Traced runs also write their spans to
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import layers  # noqa: E402
import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: tables are the same in every run; the seed only orders the ops
DATA_SEED = 20240101
SETUP_REPEATS = 3
#: full warm-up passes after the first (cold) one
WARMUP_PASSES = 1
#: below the box's memory, which other processes share
DRIVER_MEMORY = "3g"
APP = "perfbench"
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pin_env(work: str) -> dict[str, str]:
    """Fix the settings that change what a run measures, before Spark
    starts. Temporary files of Python, the JVM and Spark stay in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # the Python workers import keenwa_spark too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # no hsperfdata file, which the JVM would put in /tmp whatever tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def to_pandas(rows, schema, timezone: str):
    """Collected ``rows`` in the pandas form the oracle gate compares:
    ``DataFrame.toPandas()``'s per-column conversion, with structs as
    dicts as on its Arrow path."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    if not rows or not names:
        return pd.DataFrame(columns=names)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=names)
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType,
                f.nullable,
                timezone=timezone,
                struct_in_pandas="dict",
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


class Session:
    """The engine's SparkSession plus the JVM it runs in."""

    def __init__(self) -> None:
        from keenwa_spark.session import get_spark

        self._get_spark = get_spark
        self.spark = get_spark(APP)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def restart(self) -> float:
        """Stop the session and start a new one in the same JVM; seconds
        the start took."""
        self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self._get_spark(APP)
        return time.perf_counter() - t0

    def cpu_s(self) -> float:
        return procstat.tree_cpu_s(self.jvm_pid) + procstat.self_cpu_s()

    def close(self) -> None:
        from pyspark import SparkContext

        workers = procstat.descendants(self.jvm_pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
            SparkContext._gateway = None
        # the Python workers exit once the JVM has gone
        procstat.wait_gone(workers, timeout=30)


def percentile(values: list[float], q: int) -> float:
    """The ``q``-th percentile, as ``statistics.quantiles`` interpolates it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Runner:
    """One workload on one session: warm-up, set-up repeats, timed passes."""

    def __init__(self, workload, data_dir: str) -> None:
        from keenwa_spark.queries import load_all

        self.wl = workload
        self.data = data_dir
        registry = load_all()
        self.specs = {name: registry[name] for name in workload.ops}
        self.expected = {}
        self.session = None
        #: (op, wall seconds, rows or None, schema or None, error or None)
        self.samples: list[tuple] = []

    def compute_oracle(self) -> None:
        from tools.check_correctness import duck_con

        con = duck_con(self.data)
        try:
            self.expected = {n: con.execute(s.oracle).fetchdf() for n, s in self.specs.items()}
        finally:
            con.close()

    def start(self) -> float:
        t0 = time.perf_counter()
        self.session = Session()
        return time.perf_counter() - t0

    def register(self) -> float:
        from keenwa_spark.queries import ensure_views

        t0 = time.perf_counter()
        ensure_views(self.session.spark, self.data)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """The rest of a pass in list order (``setup_once`` ran the first
        op), then ``WARMUP_PASSES`` full passes."""
        for name in self.wl.ops[1:] + self.wl.ops * WARMUP_PASSES:
            try:
                self.specs[name].fn(self.session.spark, self.data).collect()
            except Exception as e:  # noqa: BLE001 - the timed passes count it
                print(f"warm-up {name}: {type(e).__name__}: {e}"[:300], file=sys.stderr)

    def setup_once(self) -> dict[str, float]:
        """Restart the session, register the catalog and run the first op."""
        start_s = self.session.restart()
        t0 = time.perf_counter()
        register_s = self.register()
        self.specs[self.wl.ops[0]].fn(self.session.spark, self.data).collect()
        return {
            "setup_s": start_s + time.perf_counter() - t0,
            "session.start_s": start_s,
            "catalog.register_s": register_s,
        }

    def run_op(self, name: str) -> tuple:
        spark = self.session.spark
        t0 = time.perf_counter()
        try:
            df = self.specs[name].fn(spark, self.data)
            rows = df.collect()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            return (name, time.perf_counter() - t0, None, None, f"{type(e).__name__}: {e}")
        return (name, time.perf_counter() - t0, rows, df.schema, None)

    def timed_window(self, seed: int, seconds: float) -> dict:
        """As many whole seeded passes as nominally fill ``seconds``."""
        steal0 = procstat.steal_s()
        first = len(self.samples)
        passes = []  # (first sample, wall seconds, CPU seconds) per pass
        t0 = time.perf_counter()
        orders = self.wl.passes(seed)
        for _ in range(self.wl.window_passes(seconds)):
            start, cpu0, p0 = len(self.samples), self.session.cpu_s(), time.perf_counter()
            for name in next(orders):
                self.samples.append(self.run_op(name))
            passes.append((start - first, time.perf_counter() - p0, self.session.cpu_s() - cpu0))
        return {
            "wall_s": time.perf_counter() - t0,
            "steal_s": procstat.steal_s() - steal0,
            "samples": self.samples[first:],
            "passes": passes,
        }

    def check(self, samples: list[tuple]) -> list[bool]:
        """Whether each sample matched its oracle; mismatches are reported."""
        from tools.check_correctness import compare

        tz = self.session.spark.conf.get("spark.sql.session.timeZone")
        ok = []
        for name, _, rows, schema, err in samples:
            problems = [err] if err else compare(name, to_pandas(rows, schema, tz), self.expected[name])
            if problems:
                print(f"FAIL {name}: {' | '.join(problems)}"[:500], file=sys.stderr)
            ok.append(not problems)
        return ok


def end_to_end(window: dict, correct: list[bool], setups: list[dict]) -> dict[str, float]:
    """Latencies over every sample; rates as the median over passes, so
    that one pass a steal burst hit does not move them."""
    walls = [s[1] for s in window["samples"]]
    n_pass = len(window["samples"]) // len(window["passes"])
    return {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "ops_per_s": statistics.median(
            sum(correct[i:i + n_pass]) / wall for i, wall, _ in window["passes"]
        ),
        "latency_p50_s": statistics.median(walls),
        "latency_p90_s": percentile(walls, 90),
        "cpu_s_per_op": statistics.median(cpu / n_pass for _, _, cpu in window["passes"]),
        "correct_rate": sum(correct) / len(walls),
    }


def traced_pass(runner: Runner, seed: int, tracer: layers.Tracer) -> dict:
    """One pass in the seed's first order with every layer traced."""
    from keenwa_spark import dialect, plans

    spark = runner.session.spark
    sc = spark.sparkContext
    order = next(runner.wl.passes(seed))
    records = []
    validate = dialect.validate
    dialect.validate = tracer.wrap(validate, "dialect.validate")
    t0 = time.perf_counter()
    try:
        for i, name in enumerate(order):
            op = f"{i}:{name}"
            rec = {"op": op, "name": name}
            build_group = f"{runner.wl.name}:{name}:build"
            exec_group = f"{runner.wl.name}:{name}:execute"
            rows = schema = err = None
            first_job = layers.newest_job(sc) + 1
            with tracer.span("op", op) as root:
                try:
                    sc.setJobGroup(build_group, op)
                    with tracer.span("queries.build", op) as build:
                        df = runner.specs[name].fn(spark, runner.data)
                    sc.setJobGroup(exec_group, op)
                    with tracer.span("spark_exec", op) as execute:
                        rows = df.collect()
                    schema = df.schema
                except Exception as e:  # noqa: BLE001 - a failed op is a result
                    err = f"{type(e).__name__}: {e}"
            sc._jsc.clearJobGroup()
            runner.samples.append((name, tracer.spans[root].dur, rows, schema, err))
            if err is None:
                layers.add_phase_spans(tracer, df, op, [build, execute])
                census = plans.summarize(df)
                rec["plans"] = {
                    "broadcast_joins": census.broadcast_joins,
                    "sort_merge_joins": census.sort_merge_joins,
                    "exchanges": census.exchanges,
                    "python_evals": census.python_evals,
                }
                rec["result_rows"] = len(rows)
            rec.update(layers.job_stats(sc, first_job, exec_group))
            records.append(rec)
    finally:
        dialect.validate = validate
    return {"wall_s": time.perf_counter() - t0, "records": records}


def per_layer(tracer: layers.Tracer, traced: dict, untraced_ops_per_s: float,
              correct: list[bool]) -> dict[str, float]:
    """Per-op means of every layer's self time and counts over the traced pass."""
    n = len(traced["records"])
    selfs = layers.self_times(tracer.spans)
    by_name: dict[str, float] = {}
    for span, own in zip(tracer.spans, selfs):
        by_name[span.name] = by_name.get(span.name, 0.0) + own
    out = {
        "dialect.validate_s": by_name.get("dialect.validate", 0.0) / n,
        "queries.build_s": by_name.get("queries.build", 0.0) / n,
        "spark_exec.s": by_name.get("spark_exec", 0.0) / n,
    }
    for name in layers.PHASES.values():
        out[name + "_s"] = by_name.get(name, 0.0) / n
    for key, prefix in (("build", "queries.build_"), ("execute", "spark_exec.")):
        for counter in ("jobs", "stages", "tasks", *layers.STAGE_COUNTERS):
            out[prefix + counter] = sum(r[key][counter] for r in traced["records"]) / n
    for counter in ("broadcast_joins", "sort_merge_joins", "exchanges", "python_evals"):
        out["plans." + counter] = sum(r.get("plans", {}).get(counter, 0) for r in traced["records"]) / n
    traced_ops_per_s = sum(correct) / traced["wall_s"]
    out["trace.overhead_ops_per_s"] = untraced_ops_per_s - traced_ops_per_s
    return out


def run(workload, seed: int, seconds: float, traced: bool, work: str) -> tuple[dict, dict]:
    """One run; the result line and the run details printed before it."""
    from concurrent.futures import ThreadPoolExecutor

    data = os.path.join(work, "data")
    runner = Runner(workload, data)
    try:
        with ThreadPoolExecutor(1) as pool:
            # the JVM launches while the inputs are generated
            launching = pool.submit(runner.start)
            datagen.write(data, workload.sf, DATA_SEED)
            runner.compute_oracle()
            layer_metrics: dict[str, float] = {"session.jvm_start_s": launching.result()}
        log("session started; tables and oracle results ready")
        setups = [runner.setup_once() for _ in range(SETUP_REPEATS)]
        log("set-up timed: " + ", ".join(f"{s['setup_s']:.2f}s" for s in setups))
        runner.warm_up()
        log("warmed up")
        window = runner.timed_window(seed, seconds)
        log(f"timed window: {len(window['samples'])} ops in {window['wall_s']:.2f}s: "
            + ", ".join(f"{s[0]} {s[1]:.2f}s" for s in window["samples"]))
        ok = runner.check(window["samples"])
        e2e = end_to_end(window, ok, setups)
        info = {
            "java": runner.session.spark._jvm.System.getProperty("java.version"),
            "data_dir": data,
            "window_s": window["wall_s"],
            "steal_s": window["steal_s"],
            "op_walls_s": [[s[0], round(s[1], 4)] for s in window["samples"]],
        }
        attempted, failed = len(ok), ok.count(False)
        if traced:
            tracer = layers.Tracer()
            tp = traced_pass(runner, seed, tracer)
            log(f"traced pass: {len(tp['records'])} ops in {tp['wall_s']:.2f}s")
            tok = runner.check(runner.samples[-len(tp["records"]):])
            attempted, failed = attempted + len(tok), failed + tok.count(False)
            layer_metrics.update(per_layer(tracer, tp, e2e["ops_per_s"], tok))
            for key in ("session.start_s", "catalog.register_s"):
                layer_metrics[key] = statistics.median(s[key] for s in setups)
            layer_metrics["session.jvm_hwm_mb"] = procstat.hwm_mb(runner.session.jvm_pid)
            layer_metrics["session.py_hwm_mb"] = procstat.hwm_mb()
            layer_metrics["host.steal_s"] = window["steal_s"]
            write_spans(workload.name, seed, tracer, tp)
    finally:
        if runner.session is not None:
            runner.session.close()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": with_units(layer_metrics if traced else e2e, "per_layer" if traced else "end_to_end"),
    }
    return result, info


def with_units(values: dict[str, float], section: str) -> dict[str, dict]:
    """``values`` with the units BENCHMARK.json declares; the names must
    be exactly the ones it lists under ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[section]}
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def write_spans(workload: str, seed: int, tracer: layers.Tracer, tp: dict) -> None:
    out = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out, exist_ok=True)
    selfs = layers.self_times(tracer.spans)
    spans = [dict(s, self_s=own) for s, own in zip(tracer.dump(), selfs)]
    with open(os.path.join(out, f"spans-{workload}-seed{seed}.json"), "w") as f:
        json.dump({"spans": spans, "ops": tp["records"]}, f)


def environment(env: dict[str, str], workload) -> dict:
    import duckdb
    import pyspark

    return {
        "pinned": env,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "workload": workload.name,
        "sf": workload.sf,
        "data_seed": DATA_SEED,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workload = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    env = pin_env(work)
    try:
        import keenwa_spark  # noqa: F401 - fail before any work without the engine

        result, info = run(workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": dict(environment(env, workload), **info)}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
