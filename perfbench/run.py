"""Benchmark entry point.

    python3 perfbench/run.py --workload point_asof --seed 1 --seconds 10 --trace 0

Builds one SparkSession on ``local[N]`` (N = min(nproc, 4)), generates the
workload's inputs from the seed, bulk-loads them, runs the workload's
closed loop for ``--seconds`` and checks every answer against DuckDB.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``.  The line
before it (``detail``) carries the run record, which is also written to
``.perfbench_work/records/``.

With ``--trace 1`` the Spark UI store is on, the first half of the window
runs without spans and the second half with them; the difference of the
two halves' median op latencies is reported as the tracing overhead.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Spark cores: enough for executor parallelism, small enough to share a box
MAX_CORES = 4
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def closed_loop(workload, ctx, seconds: float, counter) -> tuple[list, float]:
    """Run ``workload.clients`` clients, each issuing its next op when the
    previous one completes, until ``seconds`` have passed.  Ops in flight
    at the deadline complete and count."""
    from perfbench.workloads import OpResult

    results, lock = [], threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next(counter)
            t0 = time.perf_counter()
            try:
                r = workload.op(ctx, i)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                r = OpResult(i, time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"[:400])
                traceback.print_exc(file=sys.stderr)
            with lock:
                results.append(r)

    threads = [threading.Thread(target=client) for _ in range(workload.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(results, key=lambda r: r.i), time.perf_counter() - start


def end_to_end(workload, results, elapsed, setup_s, jvm_pid) -> tuple[dict, dict, dict]:
    """(metrics, figures, detail): the BENCHMARK.json end-to-end metrics,
    the workload's other named figures, and the raw op record."""
    from perfbench.stats import median, tail

    lat = [r.latency_s for r in results if r.error is None]
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(lat) * 1e3, "ms"),
        "ops_per_s": (len(results) / elapsed, "1/s"),
        "rows_per_s": (sum(r.rows for r in results) / elapsed, "rows/s"),
    }
    pct, tail_s = tail(lat)
    figures = {
        # G1 heap growth makes this jump by up to 50% between runs, too
        # unsteady to bound, so it is printed but not in BENCHMARK.json
        "peak_rss_mb": (_rss_peak_mb(jvm_pid), "MB"),
        "ops": (len(results), "count"),
        "op_tail_ms": (tail_s * 1e3, "ms"),
        "op_tail_percentile": (pct, "%"),
        **workload.figures(results),
    }
    detail = {
        "window_s": elapsed,
        "op_ms": [round(r.latency_s * 1e3, 1) for r in results],
        "steps": [r.steps for r in results],
    }
    return _as_json(metrics), _as_json(figures), detail


def _as_json(named: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in named.items()}


#: the registry's operator categories the suite covers
SUITE_CATEGORIES = ("relational", "timeseries", "events", "text", "dedup", "vector", "pipeline")


def per_layer(ctx, workload, traced, untraced_lat) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced half of the window."""
    from findb_spark.registry import all_specs
    from perfbench.spans import Counters, span_counters
    from perfbench.stats import median
    from perfbench.workloads import SUITE_SPECS

    tr = ctx.tracer
    counters, unmeasured = span_counters(ctx.spark, tr)
    ops = max(1, len(traced))
    spans = [s for s in tr.spans if s.op is not None]

    def total(prefix: str) -> Counters:
        c = Counters()
        for s in spans:
            if s.name.startswith(prefix):
                c.add(counters[s.id])
        return c

    def span_s(name: str) -> list[float]:
        return [s.end - s.start for s in spans if s.name == name]

    asof = total("asof.")
    m = {
        "session.start_s": ctx.setup_layers["session.start_s"],
        "session.warmup_s": ctx.setup_layers["session.warmup_s"],
        "layout.load_s": ctx.setup_layers.get("layout.load_s", 0.0),
        "layout.bytes_written": ctx.setup_layers.get("layout.bytes_written", 0),
        "layout.files_written": ctx.setup_layers.get("layout.files_written", 0),
        "layout.bytes_per_user_byte": ctx.setup_layers.get("layout.bytes_per_user_byte", 0.0),
    }
    files, ratio = workload.scan_ratio(ctx, traced)
    m["layout.files_scanned_per_query"] = files
    m["layout.rows_scanned_per_row_returned"] = ratio
    m.update(
        {
            "asof.build_ms": sum(span_s("asof.build")) * 1e3 / ops,
            "asof.exec_ms": sum(span_s("asof.exec")) * 1e3 / ops,
            "asof.jobs_per_op": asof.jobs / ops,
            "asof.stages_per_op": asof.stages / ops,
            "asof.tasks_per_op": asof.tasks / ops,
            "asof.task_wait_ms_per_op": asof.task_wait_s * 1e3 / ops,
            "asof.exec_cpu_s_per_op": asof.cpu_s / ops,
            "asof.shuffle_write_mb_per_op": asof.shuffle_write_mb / ops,
            "asof.gc_s_per_op": asof.gc_s / ops,
            "asof.spill_mb_per_op": asof.spill_mb / ops,
            "versioning.commit_ms": median(span_s("versioning.commit_version")) * 1e3,
            "versioning.resolve_ms": median(span_s("versioning.read_version")) * 1e3,
        }
    )
    storage = workload.storage()
    m["versioning.bytes_written_per_user_byte"] = storage.get("versioning.bytes_written_per_user_byte", 0.0)
    m["versioning.files_per_version"] = storage.get("versioning.files_per_version", 0.0)
    for name in SUITE_SPECS:
        m[f"suite.{name}.build_ms"] = median(span_s(f"suite.{name}.build")) * 1e3
        m[f"suite.{name}.run_ms"] = median(span_s(f"suite.{name}.run")) * 1e3
    specs = all_specs()
    for cat in SUITE_CATEGORIES:
        c = Counters()
        for name in SUITE_SPECS:
            if specs[name].category == cat:
                c.add(total(f"suite.{name}."))
        m[f"{cat}.exec_cpu_s"] = c.cpu_s / ops
        m[f"{cat}.shuffle_write_mb"] = c.shuffle_write_mb / ops
        m[f"{cat}.gc_s"] = c.gc_s / ops
    self_s = tr.self_seconds()
    for layer in ("layout", "asof", "versioning", "suite"):
        m[f"{layer}.self_ms_per_op"] = self_s.get(layer, 0.0) * 1e3 / ops
    m["spark.retried_stages"] = sum(c.retried_stages for c in counters.values())
    traced_lat = [r.latency_s for r in traced if r.error is None]
    base = median(untraced_lat)
    m["trace.overhead_frac"] = median(traced_lat) / base - 1.0 if base and traced_lat else 0.0
    if not untraced_lat:
        unmeasured.append("trace.overhead_frac: no op completed in the untraced half")
    return {k: {"value": float(v), "unit": PER_LAYER_UNITS[k.rsplit(".", 1)[-1]]} for k, v in m.items()}, unmeasured


#: unit by the last component of a per-layer metric's name
PER_LAYER_UNITS = {
    "start_s": "s", "warmup_s": "s", "load_s": "s", "bytes_written": "bytes",
    "files_written": "count", "bytes_per_user_byte": "ratio",
    "files_scanned_per_query": "count", "rows_scanned_per_row_returned": "ratio",
    "build_ms": "ms", "exec_ms": "ms", "jobs_per_op": "count", "stages_per_op": "count",
    "tasks_per_op": "count", "task_wait_ms_per_op": "ms", "exec_cpu_s_per_op": "s",
    "shuffle_write_mb_per_op": "MB", "gc_s_per_op": "s", "spill_mb_per_op": "MB",
    "commit_ms": "ms", "resolve_ms": "ms", "bytes_written_per_user_byte": "ratio",
    "files_per_version": "count", "run_ms": "ms", "exec_cpu_s": "s",
    "shuffle_write_mb": "MB", "gc_s": "s", "self_ms_per_op": "ms",
    "retried_stages": "count", "overhead_frac": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "findb_spark", "__init__.py")):
        print(f"findb_spark is missing under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    cores = min(nproc(), MAX_CORES)
    if workload.clients > nproc() or cores > nproc():
        print(f"{workload.clients} clients on local[{cores}] exceed nproc={nproc()}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    workdir = os.path.join(work_root, f"{run_id}-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work_root, "records"), exist_ok=True)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS_env": os.environ.get("SPARK_GRAFT_CPUS"),
        "local_cores": cores,
        "clients": workload.clients,
        "loadavg_before": os.getloadavg(),
    }
    cpu_before = _cpu_times()
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "TMPDIR": os.path.join(workdir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
            "PYSPARK_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher's too, keeps its files here
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        }
    )
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.enabled": "true" if args.trace else "false",
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }

    import duckdb
    import pyspark
    from pyspark import SparkContext

    from findb_spark.session import get_spark
    from perfbench.spans import Tracer

    record["versions"] = {
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        ctx = Ctx(spark, Tracer(spark.sparkContext if args.trace else None), args.seed, workdir)
        workload.setup(ctx)
        counter = itertools.count()
        t0 = time.perf_counter()
        warm = workload.warm_up(ctx, counter)
        warmup_s = time.perf_counter() - t0
        ctx.setup_layers.update({"session.start_s": start_s, "session.warmup_s": warmup_s})
        setup_s = start_s + warmup_s + ctx.setup_layers["gen_s"] + ctx.setup_layers.get("layout.load_s", 0.0)

        if args.trace:
            untraced, _ = closed_loop(workload, ctx, args.seconds / 2, counter)
            ctx.tracer.enabled = True
            traced, elapsed = closed_loop(workload, ctx, args.seconds / 2, counter)
            ctx.tracer.enabled = False
            results = untraced + traced
        else:
            results, elapsed = closed_loop(workload, ctx, args.seconds, counter)
        checked = warm + results
        bad = set(workload.verify(ctx, checked)) | {r.i for r in checked if r.error}
        if args.trace:
            metrics, unmeasured = per_layer(
                ctx, workload, traced, [r.latency_s for r in untraced if r.error is None]
            )
            figures, detail = {}, {"unmeasured": unmeasured}
            ctx.tracer.dump(os.path.join(work_root, "records", f"{run_id}.spans.jsonl"))
        else:
            metrics, figures, detail = end_to_end(workload, results, elapsed, setup_s, jvm_pid)
        errors = {r.i: r.error for r in checked if r.error}
    finally:
        if spark is not None:
            spark.stop()
            proc = getattr(SparkContext._gateway, "proc", None)
            SparkContext._gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)

    attempted, failed = len(checked), len(bad)
    record.update(
        {
            "loadavg_after": os.getloadavg(),
            "cpu_steal_frac": _steal_frac(cpu_before, _cpu_times()),
            "inputs": {k: {"rows": r, "bytes": b} for k, (r, b) in ctx.inputs.items()},
            "setup": ctx.setup_layers,
            "failed_frac": failed / max(attempted, 1),
            "failed_ops": sorted(bad)[:50],
            "errors": dict(list(errors.items())[:10]),
            **detail,
            "metrics": metrics,
            "figures": figures,
        }
    )
    with open(os.path.join(work_root, "records", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    figures["failed_frac"] = {"value": record["failed_frac"], "unit": "ratio"}
    for k, v in {**metrics, **figures}.items():
        print(f"{k:45s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps({"detail": record}, default=str))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    # import the benchmark as a package, not its files as top-level modules
    sys.path[0] = ROOT
    sys.exit(main())
