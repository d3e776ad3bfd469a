"""Layered entity-resolution benchmark.

    python3 perfbench/run.py --workload er_reference --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The benchmark generates its seeded
inputs, starts Spark on ``local[<cpus>]`` with a matching shuffle width,
warms up, then repeats the workload for ``--seconds`` seconds and checks
every pass's output.

``--trace 0`` reports the end-to-end metrics (medians over the timed
passes); ``--trace 1`` alternates untraced and traced passes and reports
the per-layer metrics of the traced ones, writing the spans and per-layer
totals to ``.perfbench/trace-<workload>-s<seed>.json``. The last stdout line
is one JSON object ``{correct, attempted, failed, metrics}``.

Everything the benchmark writes stays under ``.perfbench/`` in the
checkout (inputs, outputs, Spark local dirs, temp files).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
WARMUP_PASSES = 1
MIN_PASSES = 3

# one layer per package module boundary the workloads call through
_TIMES = ["call_s", "exec_s", "idle_s"]
_TASKS = ["jobs", "tasks", "executor_run_s", "gc_s"]
_SHUFFLE = ["shuffle_read_mb", "shuffle_write_mb", "spill_mb"]
_ALL = _TIMES + _TASKS + _SHUFFLE + ["rows_out", "max_task_s"]
LAYER_METRICS = {
    "session": ["call_s", "exec_s", "jobs"],
    "prepare": _TIMES + _TASKS + ["rows_out", "max_task_s"],
    "blocking": _TIMES + ["jobs", "tasks", "executor_run_s",
                          "shuffle_read_mb", "shuffle_write_mb", "max_task_s",
                          "candidates"],
    "matching": _ALL + ["match_yield"],
    "clustering": _ALL + ["edges_in", "components"],
    "resolve": _ALL,
    "io": ["call_s", "idle_s", "jobs", "tasks", "executor_run_s",
           "shuffle_read_mb", "rows_out", "max_task_s"],
    "corpus": _ALL,
    "dedup": _ALL + ["verify_yield"],
    "substring_dedup": _ALL + ["tokens_cut"],
}


def metric_unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_yield"):
        return "ratio"
    return "count"


def metric_better(metric: str) -> str:
    if metric.endswith("_yield") or metric in ("components", "tokens_cut"):
        return "higher"
    return "lower"


PER_LAYER = [f"{layer}.{m}" for layer, ms in LAYER_METRICS.items() for m in ms]

END_TO_END = {
    "wall_s": "s",
    "throughput_rps": "1/s",
    "setup_s": "s",
    "peak_exec_mb": "MB",
    "shuffle_write_mb": "MB",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and pin the
    package to its defaults (no behaviour-selecting env vars)."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def session_kwargs() -> dict:
    cpus = len(os.sched_getaffinity(0))
    return {
        "app_name": "perfbench",
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no hsperfdata file outside the checkout; JVM temp files under WORK
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        },
    }


def _upper(s: pd.Series) -> pd.Series:
    return s.str.upper()


def start_session():
    """``get_spark`` plus the first JVM action and the first Arrow Python
    UDF action. Returns ``(spark, seconds, parts)``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from pyspark_entity_resolution_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(**session_kwargs())
    t1 = time.perf_counter()
    spark.sparkContext.setJobGroup("session", "perfbench session warm-up")
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    upper = F.pandas_udf(_upper, StringType())
    spark.range(100).select(upper(F.col("id").cast("string")).alias("u")).collect()
    t2 = time.perf_counter()
    return spark, t2 - t0, {"call_s": t1 - t0, "exec_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_pass(wl, spark, inp, out, tracer=None, full_check=False):
    """One pass, timed; the output check runs after the clock stops.
    Returns ``(seconds, problems, extra_counts, result)``."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    if tracer is None:
        result = wl.run(spark, inp, out)
    else:
        with tracer.root():
            result = wl.traced(spark, inp, out, tracer)
    seconds = time.perf_counter() - t0
    problems, extra = wl.check(spark, inp, result, out, full_check or tracer is not None)
    log(f"checked in {time.perf_counter() - t0 - seconds:.2f}s")
    return seconds, problems, extra, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark_entity_resolution_spark  # noqa: F401
        import tests.er_fixture  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: run from a source checkout ({exc})")
        return 2
    from perfbench.status import StatusCollector
    from perfbench.workloads import WORKLOADS, Tracer, unpersist_all

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    isolate_environment()

    t = time.perf_counter()
    inp = wl.prepare(os.path.join(WORK, "inputs"), args.seed)
    log(f"inputs ready in {time.perf_counter() - t:.1f}s ({inp['records']} records)")

    # SETUPS session starts; the first also launches the JVM, so the
    # median setup_s is the slower of the later starts inside the JVM
    setups = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        spark, secs, parts = start_session()
        setups.append((secs, parts))
    sc = spark.sparkContext
    collector = StatusCollector(sc)
    log(f"set-ups {[round(s, 2) for s, _ in setups]}")

    out = os.path.join(WORK, "out", f"{wl.name}-{os.getpid()}")
    attempted = failed = 0
    walls, peaks, shuffles, traced = [], [], [], []
    traced_walls = []

    def one(index: int, trace: bool):
        nonlocal attempted, failed
        attempted += 1
        group = f"pass-{index}"
        tracer = Tracer(spark, f"{wl.name}-s{args.seed}-p{index}") if trace else None
        sc.setJobGroup(group, "perfbench pass")
        try:
            secs, problems, extra, _ = run_pass(wl, spark, inp, out, tracer,
                                                full_check=index == 0)
        except Exception:  # a failed pass is counted, reported, and the run goes on
            failed += 1
            log(f"pass {index} raised:\n{traceback.format_exc()}")
            unpersist_all(spark)
            return None
        if problems:
            failed += 1
            log(f"pass {index} output check failed: {problems}")
        if tracer is not None:
            layers = tracer.layer_metrics(collector)
            traced.append((tracer, layers, extra))
        totals = collector.group_metrics(group)
        peak, shuffle = totals["peak_exec_mb"], totals["shuffle_write_mb"]
        unpersist_all(spark)
        log(f"pass {index}{' traced' if trace else ''}: {secs:.3f}s "
            f"exec mem {peak:.1f}MB shuffle {shuffle:.2f}MB {'ok' if not problems else 'WRONG'}")
        return secs, peak, shuffle, not problems

    for index in range(WARMUP_PASSES):  # JIT, codegen caches, Python workers
        one(index, trace=False)
    index, spent = WARMUP_PASSES, 0.0
    while spent < args.seconds or index < WARMUP_PASSES + MIN_PASSES:
        # traced runs alternate, so MIN_PASSES >= 2 includes a traced pass
        trace = bool(args.trace) and index % 2 == 0
        res = one(index, trace)
        index += 1
        if res is None:
            spent += 1.0
            continue
        secs, peak, shuffle, ok = res
        spent += secs
        if trace:
            traced_walls.append(secs)
        elif ok:
            walls.append(secs)
            peaks.append(peak)
            shuffles.append(shuffle)

    metrics = {}
    if not args.trace:
        if walls:
            wall = statistics.median(walls)
            values = {
                "wall_s": wall,
                "throughput_rps": inp["records"] / wall,
                "setup_s": statistics.median(s for s, _ in setups),
                "peak_exec_mb": statistics.median(peaks),
                "shuffle_write_mb": statistics.median(shuffles),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
            log(f"{len(walls)} timed passes: wall_s {[round(w, 3) for w in walls]}")
    elif traced:
        metrics = layer_report(wl, args, traced, setups, walls, traced_walls, collector)

    stop_spark(spark)
    shutil.rmtree(out, ignore_errors=True)
    log("stopped")
    error_rate = failed / attempted
    for name, m in metrics.items():
        print(f"{wl.name} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{wl.name} error_rate = {error_rate:.6g} ({failed}/{attempted} passes)")
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_report(wl, args, traced, setups, walls, traced_walls, collector) -> dict:
    """Per-layer metrics (medians over traced passes) and the trace file."""
    per_pass = []
    for tracer, layers, extra in traced:
        flat = {}
        for layer, m in layers.items():
            for key, value in m.items():
                flat[f"{layer}.{key}"] = value
        flat.update(tracer.counts)
        flat.update(extra)
        per_pass.append(flat)
    session = [p for _, p in setups]
    values = {}
    for name in PER_LAYER:
        layer, metric = name.split(".", 1)
        if layer == "session":
            if metric == "jobs":
                values[name] = collector.group_metrics("session")["jobs"]
            else:
                values[name] = statistics.median(p[metric] for p in session)
            continue
        samples = [p[name] for p in per_pass if name in p]
        values[name] = statistics.median(samples) if samples else 0.0

    runs = []
    for tracer, layers, extra in traced:
        root = next(s for s in tracer.spans if s["kind"] == "run")
        total = root["end"] - root["start"]
        in_layers = sum(m["wall_s"] for m in layers.values())
        in_probes = sum(s["end"] - s["start"] for s in tracer.spans if s["kind"] == "probe")
        runs.append({
            "run": tracer.run_id, "total_s": total, "layers_s": in_layers,
            "probes_s": in_probes, "unattributed_s": total - in_layers - in_probes,
            "spans": tracer.spans,
            "layers": layers, "counts": {**tracer.counts, **extra},
        })
    traced_total = statistics.median(traced_walls)
    untraced = statistics.median(walls) if walls else None
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "untraced_wall_s": untraced, "traced_total_s": traced_total,
        "tracing_overhead_s": None if untraced is None else traced_total - untraced,
        "per_layer": values, "runs": runs,
    }
    path = os.path.join(WORK, f"trace-{wl.name}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    log(f"trace written to {path}; traced {traced_total:.3f}s vs untraced "
        f"{untraced}s")
    return {k: {"value": v, "unit": metric_unit(k.split(".", 1)[1])} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
