"""Benchmark entry point: one workload in a fresh single-process Spark driver.

    python3 perfbench/run.py --workload text_dedup --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout, on ``local[<cpus>]``, as a closed
loop with one client and one action at a time. Set-up (session, registry,
warm-up on a smaller input) is timed as ``setup_s``; the timed region runs
whole passes over the workload until ``--seconds`` is used; every pass's
outputs are checked outside the timed region. With ``--trace 1`` traced
passes (Spark event log plus span wrappers) give the per-layer metrics
instead. The last stdout line is the JSON result; the
line before it is the run's context stamp.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import SIZES, TEXT_QUERIES, WORKLOADS  # noqa: E402

SPARK_LAYER = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
               "jvm_gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_disk_mb",
               "spill_mem_mb", "input_mb", "output_mb", "python_sent_mb",
               "python_returned_mb")
PIPELINE_LAYERS = ("extract", "raw_write", "validate", "reconcile", "stage",
                  "publish", "state_merge")
QUERY_LAYER = ("executor_run_s", "shuffle_write_mb", "spill_disk_mb", "jvm_gc_s")


def per_layer_names() -> list[str]:
    names = [f"pipeline.{s}_s" for s in PIPELINE_LAYERS] + ["pipeline.uncovered_s"]
    names += [f"pipeline.{c}" for c in (
        "partitions", "spark_jobs", "jobs_per_partition", "rows_scanned",
        "rows_written", "files_written", "bytes_written_mb", "misplaced_rows",
        "days_per_partition", "useful_row_frac")]
    names += [f"queries.{q}.wall_s" for q in TEXT_QUERIES]
    names += ["queries.build_s", "queries.eager_jobs"]
    names += [f"queries.{q}.{m}" for q in TEXT_QUERIES for m in QUERY_LAYER]
    names += [f"spark.{m}" for m in SPARK_LAYER] + ["spark.busy_frac"]
    names += ["session.start_s", "session.jvm_peak_rss_mb", "trace.overhead_frac"]
    return names


UNITS = {"_per_s": "1/s", "_s": "s", "_mb": "MB", "_frac": "fraction"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SIZES), default="full",
                   help="input size; 'toy' is the self-test's")
    p.add_argument("--plant-wrong", action="store_true",
                   help="corrupt one output before checking (self-test only)")
    return p.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def spark_conf(run_dir: str) -> dict[str, str]:
    """Keep every file Spark and its JVM write inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict[str, str]):
    from gads_etl_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("perfbench", cpus=cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def shutdown_spark() -> None:
    """Stop any active SparkContext and wait for the JVM it launched to
    exit (its Python workers end with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def source_id() -> str:
    """The commit when the checkout is a git repository, else a digest of
    the package sources."""
    import hashlib
    import subprocess

    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha1()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, "gads_etl_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha1:" + h.hexdigest()


def calibration_s() -> float:
    """Wall of a fixed single-threaded Python loop: a weather gauge for
    the context stamp, never a metric."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def timed_passes(workload, seconds: float, tag: str) -> tuple[list, float]:
    """Whole passes until the next one would overrun ``seconds``."""
    passes = []
    t0 = time.perf_counter()
    while True:
        passes.append(workload.run_pass(tag))
        elapsed = time.perf_counter() - t0
        if elapsed + passes[-1].wall_s > seconds:
            return passes, elapsed


def main(argv=None) -> int:
    args = parse_args(argv)
    load_before = (os.getloadavg(), calibration_s())
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    # Python workers unpickle gads_etl_spark objects (the DataSource, the
    # Arrow operators): they must import the package from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM spark-submit starts would otherwise write hsperfdata to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    try:
        return _run(args, run_dir, load_before)
    finally:
        shutdown_spark()
        shutil.rmtree(run_dir, ignore_errors=True)


def spark_context(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", "default"),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
    }


def _run(args, run_dir: str, load_before) -> int:
    t_inputs = time.perf_counter()
    workload = WORKLOADS[args.workload](os.path.join(WORK, "data"), args.seed,
                                        SIZES[args.scale], args.plant_wrong)
    inputs_s = time.perf_counter() - t_inputs

    t_setup = time.perf_counter()
    try:
        import gads_etl_spark.queries  # noqa: F401  (loads the registry)
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(gads_etl_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: gads_etl_spark imported from {gads_etl_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    conf = spark_conf(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    spark, session_s = start_session(conf)
    workload.bind(spark, run_dir)
    workload.warm_up()
    setup_s = time.perf_counter() - t_setup
    context = spark_context(spark)

    failed, msgs, attempted, rss = 0, [], 0, 0.0
    spans, ref = contextlib.nullcontext(), None
    if args.trace:
        # An untraced warm reference pass, checked while its session is
        # up, then a fresh session (same JVM) with the event log on for
        # the traced passes.
        ref = workload.run_pass("r")
        attempted += ref.ops
        rss = jvm_rss_mb(spark)
        f, m = workload.check()
        failed, msgs = failed + f, msgs + m
        spark.stop()
        spark, _ = start_session({**conf, **trace.event_log_conf(log_dir)})
        workload.bind(spark, run_dir)
    if args.workload == "pipeline_daily" and args.trace:
        rec = trace.SpanRecorder()
        spans = trace.pipeline_spans(rec)
    steal0, total0 = cpu_ticks()
    with spans:
        passes, timed_s = timed_passes(workload, args.seconds, "t")
    steal1, total1 = cpu_ticks()
    attempted += sum(p.ops for p in passes)
    rss = max(rss, jvm_rss_mb(spark))
    f, m = workload.check()
    failed, msgs = failed + f, msgs + m
    wall = statistics.median(p.wall_s for p in passes)
    layers = workload.layers(first=0 if ref is None else 1)
    shutdown_spark()

    if args.trace == 0:
        metrics = {
            "wall_s": wall,
            "ops_per_s": sum(p.ops for p in passes) / timed_s,
            "setup_s": setup_s,
            "success_frac": 1.0 - failed / attempted,
        }
    else:
        metrics = dict.fromkeys(per_layer_names(), 0.0)
        metrics.update(layers)
        totals = trace.fold_event_log(log_dir)
        timed = trace.sum_groups(totals, "t:")
        for m in SPARK_LAYER:
            metrics[f"spark.{m}"] = timed.get(m, 0.0) / len(passes)
        metrics["spark.busy_frac"] = timed.get("executor_run_s", 0.0) / (timed_s * cpus())
        if args.workload == "pipeline_daily":
            self_times = rec.self_times()
            for s in PIPELINE_LAYERS:
                metrics[f"pipeline.{s}_s"] = self_times.get(s, 0.0) / len(passes)
            metrics["pipeline.uncovered_s"] = wall - sum(
                metrics[f"pipeline.{s}_s"] for s in PIPELINE_LAYERS)
            metrics["pipeline.rows_scanned"] = timed.get("rows_scanned", 0.0) / len(passes)
            metrics["pipeline.rows_written"] = timed.get("rows_written", 0.0) / len(passes)
        else:
            for q in TEXT_QUERIES:
                qt = trace.sum_groups(totals, f"t:{q}:")
                for m in QUERY_LAYER:
                    metrics[f"queries.{q}.{m}"] = qt.get(m, 0.0) / len(passes)
        metrics["session.start_s"] = session_s
        metrics["session.jvm_peak_rss_mb"] = rss
        metrics["trace.overhead_frac"] = wall / ref.wall_s - 1.0

    context.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cpus": cpus(),
        "pass_walls_s": [round(p.wall_s, 3) for p in passes],
        "inputs_s": round(inputs_s, 3),
        "setup_s": round(setup_s, 3), "session_start_s": round(session_s, 3),
        "jvm_peak_rss_mb": round(rss, 1), "commit": source_id(),
        "python": sys.version.split()[0],
        "loadavg_before": load_before[0], "loadavg_after": os.getloadavg(),
        "calibration_before_s": round(load_before[1], 4),
        "calibration_after_s": round(calibration_s(), 4),
        "steal_frac_timed": round((steal1 - steal0) / max(1, total1 - total0), 4),
        **getattr(workload, "defects", {}),
        "layers": {k: round(v, 3) for k, v in layers.items()},
    })
    for m in msgs:
        print(f"# failed: {m}", file=sys.stderr)
    print("# context " + json.dumps(context, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
