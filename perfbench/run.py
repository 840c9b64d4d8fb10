#!/usr/bin/env python3
"""Invoice-pipeline benchmark: one workload per run.

Usage (from the repository root):
  python3 perfbench/run.py --workload {replay_drain,live_feed}
                           --seed N --seconds S --trace {0,1}

The run stages its inputs from the seed, starts a session with the
program's own factory, measures the workload, checks every output
against a DuckDB computation over the same inputs, prints each metric
on its own line ("name value unit") and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics; latencies come from the
checkpoint files only. --trace 1 runs the same workload with a progress
listener, status-tracker job counts and timed probes into each layer,
writes the spans to .perfbench/traces/, and reports the per-layer
metrics plus its overhead against the last untraced run of the same
workload.

Inputs come from the TPC-H-shaped parquet tables in $PERFBENCH_SF_DIR
(default ~/testdata/sf0.1, see TESTDATA.md). All scratch output goes under
.perfbench/ in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "lines_per_s": "1/s",
    "result_latency_p50_ms": "ms",
    "result_latency_p90_ms": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "warm_up_s": "s",
    "sources.read_self_s": "s",
    "sources.offset_ms": "ms",
    "sources.backlog_files_max": "count",
    "sources.backlog_files_end": "count",
    "sources.input_rows": "count",
    "generator.lag_ms_max": "ms",
    "validate.self_s": "s",
    "validate.invalid_rows": "count",
    "validate.cancelled_rows": "count",
    "pipeline.parse_self_s": "s",
    "pipeline.agg_self_s": "s",
    "pipeline.planning_ms": "ms",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_late": "count",
    "scoring.self_s": "s",
    "scoring.rows_scored": "count",
    "scoring.anomalies": "count",
    "scoring.flag_ratio": "ratio",
    "sinks.write_self_s": "s",
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "app.batches": "count",
    "app.trigger_ms": "ms",
    "app.commit_ms": "ms",
    "app.add_batch_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "featurize.self_s": "s",
    "featurize.invoices": "count",
    "train.sweep_s.kmeans": "s",
    "train.sweep_s.bisecting": "s",
    "train.fits": "count",
    "train.iterations": "count",
    "train.jobs": "count",
    "anomaly.threshold_s": "s",
    "anomaly.save_s": "s",
    "trace.spans": "count",
    "trace.overhead.lines_per_s": "1/s",
    "trace.overhead.result_latency_p50_ms": "ms",
    "trace.overhead.result_latency_p90_ms": "ms",
}


def process_start_epoch() -> float:
    """When this process started, from /proc (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def prepare_env(scratch: str) -> None:
    """Environment for Spark and its JVM: 4 local cores, a 1 GiB driver
    heap, and every temp and spill directory inside ``scratch``."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # Few malloc arenas keep the JVM's native memory from scattering over
    # per-thread arenas, whose resident size varies run to run.
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    # No JVM (the spark-submit launcher included) writes perf data to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def start_session(scratch: str):
    from bigdata_invoice_stream_analysis_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # A fixed young generation keeps the heap's resident size from
            # following G1's adaptive eden sizing, which varies run to run.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn256m",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop the active Spark context, if any, and wait for its JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def overhead(workload: str, e2e: dict, last_dir: str, traced: bool) -> dict[str, float]:
    """Untraced runs save their end-to-end numbers; a traced run reports
    traced minus the last untraced value of each (0 if none saved)."""
    path = os.path.join(last_dir, f"{workload}.json")
    if not traced:
        os.makedirs(last_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
        return {}
    base = {}
    if os.path.exists(path):
        with open(path) as f:
            base = json.load(f)
    return {
        f"trace.overhead.{k}": (e2e[k][0] - base[k]) if k in base else 0.0
        for k in ("lines_per_s", "result_latency_p50_ms", "result_latency_p90_ms")
    }


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sf_dir = W.gen.sf_dir()
    for t in ("lineitem", "orders"):
        if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            print(f"perfbench: missing input table {sf_dir}/{t}.parquet", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    try:
        import bigdata_invoice_stream_analysis_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    prepare_env(scratch)
    os.makedirs(work)

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
    stage, measure = W.WORKLOADS[args.workload]
    run = None
    try:
        run = W.Run(None, sf_dir, args.seed, args.seconds, work, tracer)
        run.state["fixture"] = W.load_fixture()
        t_session = time.time()
        with ThreadPoolExecutor(max_workers=1) as pool:
            staged = pool.submit(lambda: (stage(run), time.time())[1])  # overlaps the JVM start
            run.spark = start_session(scratch)
            t_warm = time.time()
            t_staged = staged.result()
        W.warm_up(run)
        t_ready = time.time()
        run.e2e["setup_s"] = (t_ready - t_start, "s")
        if tracer is not None:
            import spans

            tracer.add("setup", t_start, t_ready, trace="setup")
            tracer.add("stage_inputs", t_session, t_staged, trace="setup")
            tracer.add("session.start", t_session, t_warm, trace="setup")
            tracer.add("warm_up", max(t_warm, t_staged), t_ready, trace="setup")
            run.layer["session.start_s"] = t_warm - t_session
            run.layer["warm_up_s"] = t_ready - max(t_warm, t_staged)
            run.state["jobs_before"] = spans.job_ids(run.spark.sparkContext, [None])
        measure(run)
        pid = jvm_pid()
        py_kb, jvm_kb = vm_hwm_kb("self"), (vm_hwm_kb(pid) if pid else 0)
        run.e2e["peak_rss_mb"] = ((py_kb + jvm_kb) / 1024.0, "MB")
        run.state["rss_split_mb"] = (jvm_kb / 1024.0, py_kb / 1024.0)
        stop_session()
        run.state["check"]()
    except Exception:
        traceback.print_exc()
        if run is not None:
            run.op(["workload raised"])
    finally:
        stop_session()

    if run is None or not set(E2E_UNITS) <= set(run.e2e):
        print("perfbench: the run did not produce its metrics", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    ov = overhead(args.workload, run.e2e, os.path.join(scratch, "last"), tracer is not None)
    for msg in run.failures:
        print(f"FAILED: {msg}")
    report(args.workload, run)
    if tracer is not None:
        run.layer.update(ov)
        run.layer["trace.spans"] = float(len(tracer.spans))
        tdir = os.path.join(scratch, "traces")
        os.makedirs(tdir, exist_ok=True)
        span_path = os.path.join(tdir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(span_path)
        print(f"spans written to {os.path.relpath(span_path, ROOT)}")
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
        for n in PER_LAYER:
            print(f"{n} {metrics[n]['value']:.6g} {metrics[n]['unit']}")
    else:
        metrics = {n: {"value": run.e2e[n][0], "unit": u} for n, u in E2E_UNITS.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def report(workload: str, run: W.Run) -> None:
    """Human-readable lines: every end-to-end metric, the workload's own
    headline metric and failed_ratio."""
    for name, (value, unit) in run.e2e.items():
        print(f"{name} {value:.6g} {unit}")
    if workload == "replay_drain":
        print(f"drain_lines_per_s {run.e2e['lines_per_s'][0]:.6g} 1/s")
    if "rss_split_mb" in run.state:
        jvm, py = run.state["rss_split_mb"]
        print(f"peak_rss_jvm_mb {jvm:.6g} MB")
        print(f"peak_rss_python_mb {py:.6g} MB")
    lat = run.state.get("latency_report")
    if lat:
        print(f"latency_samples {lat['samples']} count")
        if lat["tail_percentile"]:
            print(f"result_latency_p{lat['tail_percentile']:g}_ms {lat['tail_ms']:.6g} ms "
                  "(highest percentile with >= 10 samples beyond)")
    print(f"failed_ratio {run.failed / max(run.attempted, 1):.6g} ratio "
          f"({run.failed} of {run.attempted} operations)")


if __name__ == "__main__":
    sys.exit(main())
