"""Benchmark of the weather warehouse and curation engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload (see README.md in this directory) against the program's
public entry points, checks every op's output, prints a human-readable
summary as `# ` lines and, as the last line of standard output, one JSON
object: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the end-to-end metrics; with `--trace 1` the run records
spans around each layer and the metrics are the per-layer metrics.

Everything the run writes stays under the current directory:
`.perfbench_work/` (inputs, warehouse, Spark scratch; removed at exit) and
`.perfbench_out/` (one result file per run, with the spans of a traced run).
"""

from __future__ import annotations

import argparse
import contextlib
import faulthandler
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# metric name -> unit, as declared in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "heap_live_mb": "MB",
    "python_rss_mb": "MB",
}
# printed in the summary only, on the workloads where they apply
SUMMARY_ONLY = {
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "load_p50_ms": "ms",
    "page_view_p50_ms": "ms",
    "snapshot_open_p50_ms": "ms",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
    "jvm_rss_mb": "MB",
}

# a run that hangs is cut here, well inside the 180 s a run may take
HARD_LIMIT_S = 170


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["daily_cycle", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the self-test")
    return ap.parse_args(argv)


def _configure_env(work: str) -> int:
    """Launcher settings, applied before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    # session.py sizes local[N] and shuffle partitions from this (default 32)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import the program by module path
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the Spark driver's heap is the program's own default, whatever the caller set
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        # no perf-data file in /tmp: the run writes only under its directory
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
        "pyspark-shell",
    ])
    return cpus


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from meter import tree_pids
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_tree = tree_pids(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 10
    for pid in jvm_tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the value itself for one sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _end_to_end(outcome, setup_s: float, meter, heap_live_mb: float) -> dict:
    lat_ms = [s.latency_s * 1000.0 for s in outcome.samples]
    failed = sum(not s.ok for s in outcome.samples)
    values = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat_ms),
        "op_p90_ms": _quantile(lat_ms, 90),
        "ops_per_s": outcome.ops_per_s,
        "peak_rss_mb": meter.peak_rss_bytes / 2**20,
        "heap_live_mb": heap_live_mb,
        "jvm_rss_mb": meter.peak_jvm_bytes / 2**20,
        "python_rss_mb": meter.peak_python_bytes / 2**20,
        "error_rate": failed / len(lat_ms),
    }
    values.update({k: v for k, v in outcome.summary.items() if k in SUMMARY_ONLY})
    return values


def _tracing_overhead(out_dir: str, workload: str, seed: int, traced_p50_ms: float) -> str:
    untraced = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(untraced):
        return f"n/a (run --trace 0 --seed {seed} first)"
    with open(untraced, encoding="utf-8") as fh:
        base = json.load(fh)["end_to_end"]["op_p50_ms"]
    diff = traced_p50_ms - base
    return f"{diff:+.1f} ms ({100.0 * diff / base:+.1f} %) on op_p50_ms {base:.1f} ms untraced"


def main(argv=None) -> int:
    args = _parse(argv)
    faulthandler.dump_traceback_later(HARD_LIMIT_S, exit=True)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    cpus = _configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        import pyspark
        from meter import TreeMeter
        from spans import LAYER_METRICS, Tracer, layer_metrics
        from workloads import SIZES, WORKLOADS, Ctx

        from weather_data_warehouse_aws_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the program or its dependencies: {exc}", file=sys.stderr)
        return 2

    spark = None
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        with TreeMeter() as meter:
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            meter.jvm_pid = _jvm_pid()
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, work, args.seed, args.seconds, SIZES[args.size])
            workload = WORKLOADS[args.workload]()
            workload.setup(ctx)
            setup_s = time.perf_counter() - t0
            tracer = None
            if args.trace:
                tracer = ctx.tracer = Tracer(spark.sparkContext)
                tracer.install()
            try:
                outcome = workload.measure()
            finally:
                if tracer is not None:
                    tracer.uninstall()
            heap_live_mb = ctx.heap_live_mb()
            env = {
                "nproc": cpus,
                "spark": pyspark.__version__,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "seed": args.seed,
                "workload": args.workload,
                "seconds": args.seconds,
                "size": args.size,
                "trace": args.trace,
            }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    samples = outcome.samples
    failed = sum(not s.ok for s in samples)
    e2e = _end_to_end(outcome, setup_s, meter, heap_live_mb)
    os.makedirs(out_dir, exist_ok=True)
    record = {
        "env": env,
        "end_to_end": e2e,
        "samples": [
            {"op": s.op, "latency_ms": s.latency_s * 1000.0, "ok": s.ok, "error": s.error,
             **s.cpu, **s.extra}
            for s in samples
        ],
    }

    print(f"# perfbench {json.dumps(env)}")
    load = [s.cpu["load1"] for s in samples]
    foreign = [s.cpu["foreign_cores"] for s in samples]
    print(f"# samples {len(samples)} ops; load1 median {statistics.median(load):.2f} "
          f"max {max(load):.2f}; foreign cores median {statistics.median(foreign):.2f} "
          f"max {max(foreign):.2f}")
    for s in samples:
        if s.error:
            print(f"# failed {s.op}: {s.error}")
    units = {**END_TO_END, **SUMMARY_ONLY}
    for name, value in e2e.items():
        print(f"# metric {name} = {value:.4f} {units[name]}")

    if args.trace:
        layers = layer_metrics(tracer.spans, outcome.units, session_s)
        record["layers"] = layers
        span_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json")
        tracer.dump(span_file)
        for name, value in layers.items():
            print(f"# layer {name} = {value:.4f}")
        print(f"# spans {len(tracer.spans)} written to {os.path.relpath(span_file)}")
        print(f"# tracing overhead: "
              f"{_tracing_overhead(out_dir, args.workload, args.seed, e2e['op_p50_ms'])}")
        metrics = {m: {"value": layers[m], "unit": _layer_unit(m)} for m in LAYER_METRICS}
    else:
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END.items()}

    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": len(samples), "failed": failed,
                      "metrics": metrics}))
    return 0


def _layer_unit(metric: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("bytes_written", "bytes"), ("_ratio", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
