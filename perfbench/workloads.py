"""The benchmark workloads.

Each workload has a ``stage`` step (part of set-up: make the inputs from
the seed) and a ``measure`` step (the timed run, then the correctness
checks). Both get a Run, which carries the session, the work directory,
the optional tracer and the results.

  replay_drain  a staged backlog drained with availableNow
  live_feed     an open-loop feeder process drops chunks on a schedule
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import ckpt
import gen
import oracle
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "models.json")

DRAIN_MAX_LINES = 580_000   # sf0.1 minus the warm-up tail
DRAIN_LINES_PER_S = 15_000  # backlog size per --seconds
DRAIN_CHUNKS = 128
DRAIN_FILES_PER_TRIGGER = 32  # 4 large micro-batches

WARM_LINES = 20_000         # set-up drain that warms the JVM: the last lines of sf0.1
WARM_CHUNKS = 4
WARM_FILES_PER_TRIGGER = 2

LIVE_RATE = 500             # lines per second, open loop
LIVE_INTERVAL_S = 0.1       # one chunk every 100 ms
LIVE_LEAD_S = 1.0           # feeder start delay after the queries start
LIVE_WARMUP_S = 5.0         # fed before the --seconds window; checked, not timed
END_GRACE_S = 15.0          # a chunk not in every sink by last due + this is backlog

TRAIN_KMAX = 4              # k sweep 2..4 per algorithm (fixture and traced probe)
TRAIN_SEED = 42             # train_all's own seed
THRESHOLD_RANK = 2000

PROBE_CHUNKS = 32           # static probe sample: the first chunks of the input


@dataclass
class Run:
    spark: object
    sf_dir: str
    seed: int
    seconds: int
    work: str
    tracer: tr.Tracer | None
    e2e: dict = field(default_factory=dict)     # name -> (value, unit)
    layer: dict = field(default_factory=dict)   # name -> value
    failures: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    state: dict = field(default_factory=dict)   # stage -> measure hand-off

    def op(self, problems: list[str]) -> None:
        """Count one checked operation and its failure, if any."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)


def load_fixture() -> dict:
    with open(FIXTURE) as f:
        return json.load(f)


def _models(fixture: dict):
    from bigdata_invoice_stream_analysis_spark.streaming.app import ModelSpec

    return {
        algo: ModelSpec(centers=fixture[algo]["centers"], threshold=fixture[algo]["threshold"])
        for algo in ("kmeans", "bisecting")
    }


def _latency_metrics(run: Run, lat_ms: list[float]) -> None:
    if not lat_ms:
        raise RuntimeError("no chunk produced a result")
    run.e2e["result_latency_p50_ms"] = (ckpt.quantile(lat_ms, 50), "ms")
    run.e2e["result_latency_p90_ms"] = (ckpt.quantile(lat_ms, 90), "ms")
    tail = ckpt.tail_percentile(len(lat_ms))
    run.state["latency_report"] = {
        "samples": len(lat_ms),
        "tail_percentile": tail,
        "tail_ms": ckpt.quantile(lat_ms, tail) if tail else None,
    }


# --------------------------------------------------------------------------
# streaming workloads (shared)
# --------------------------------------------------------------------------

def _topics():
    from bigdata_invoice_stream_analysis_spark.streaming import app

    return {
        "invalid": app.TOPIC_INVALID,
        "cancellations": app.TOPIC_CANCELLATIONS,
        "kmeans": app.TOPIC_ANOMALIES_KMEANS,
        "bisecting": app.TOPIC_ANOMALIES_BISECT,
    }


RESULT_SINKS = ("invalid", "kmeans", "bisecting")  # cancellations wait for the watermark


def stage_warmup(run: Run) -> None:
    """Chunks for the set-up drain, from the tail of the line stream (so
    they share nothing with the measured input)."""
    total = gen.count_lines(run.sf_dir)
    lines = gen.generate_lines(run.sf_dir, run.seed, limit=WARM_LINES, offset=total - WARM_LINES)
    src = os.path.join(run.work, "warm_in")
    gen.stage_chunks(src, gen.cut_chunks(lines, WARM_CHUNKS, run.seed), time.time_ns() - 7200 * 10**9)
    run.state["warm_source"] = src


def warm_up(run: Run) -> None:
    """Set-up drain of the warm-up chunks through the full topology, into
    its own output, so the timed run starts on a warm JVM."""
    from bigdata_invoice_stream_analysis_spark.streaming import app, sources

    cfg = app.PipelineConfig(
        sink_mode="parquet", out_dir=os.path.join(run.work, "warm_out"), available_now=True,
        models=_models(run.state["fixture"]),
    )
    stream = sources.file_lines_source(
        run.spark, run.state["warm_source"], max_files_per_trigger=WARM_FILES_PER_TRIGGER
    )
    for q in app.run_pipeline(stream, cfg):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(f"warm-up query failed: {q.exception()}")


def _start_pipeline(run: Run, source_dir: str, available_now: bool, max_files: int | None):
    from bigdata_invoice_stream_analysis_spark.streaming import app, sources

    out = os.path.join(run.work, "out")
    cfg = app.PipelineConfig(
        sink_mode="parquet", out_dir=out, available_now=available_now,
        models=_models(run.state["fixture"]),
    )
    listener = None
    if run.tracer is not None:
        import layers

        listener = layers.ProgressLog()
        run.spark.streams.addListener(listener)
    stream = sources.file_lines_source(run.spark, source_dir, max_files_per_trigger=max_files)
    queries = app.run_pipeline(stream, cfg)
    names = dict(zip(("invalid", "cancellations", "kmeans", "bisecting"), queries))
    run.state["run_ids"] = [str(q.runId) for q in queries]
    return out, names, listener


def _ckpt_dir(out: str, name: str) -> str:
    return os.path.join(out, "_checkpoints", _topics()[name])


def _result_times(out: str, chunks: list[str]) -> tuple[list[float | None], dict]:
    file_batch = {n: ckpt.file_batches(_ckpt_dir(out, n)) for n in _topics()}
    per_sink = [
        ckpt.chunk_commits(file_batch[n], ckpt.commit_times(_ckpt_dir(out, n)))
        for n in RESULT_SINKS
    ]
    return ckpt.result_times(per_sink, chunks), file_batch


def _check_streaming(run: Run, out: str, chunk_files: list[str], file_batch: dict) -> None:
    """Correctness of all four sinks against the oracle over the fed lines."""
    topics = _topics()
    fixture = run.state["fixture"]
    con = oracle.connect()
    try:
        oracle.load_fed_lines(con, chunk_files)
        sink = {
            n: ckpt.sink_log_files(os.path.join(out, topics[n])) for n in ("invalid", "cancellations")
        }
        for algo in ("kmeans", "bisecting"):
            committed = set(ckpt.commit_times(_ckpt_dir(out, algo)))
            sink[algo] = oracle.batch_sink_files(os.path.join(out, topics[algo]), committed)
        run.op(oracle.check_invalid(con, sink["invalid"]))
        run.op(oracle.check_cancellations(
            con, sink["cancellations"],
            ckpt.last_committed_watermark(_ckpt_dir(out, "cancellations")),
        ))
        oracle.stream_features(con)
        rows = 0
        for algo in ("kmeans", "bisecting"):
            fails, n_rows = oracle.check_anomalies(
                con, sink[algo], file_batch[algo],
                fixture[algo]["centers"], fixture[algo]["threshold"],
            )
            run.op(fails)
            rows += n_rows
        run.state["anomaly_rows"] = rows
        if run.tracer is not None:
            run.state["rows_written"] = sum(
                con.execute("SELECT count(*) FROM read_parquet(?)", [f]).fetchone()[0]
                for f in sink.values() if f
            )
    finally:
        con.close()
    if run.tracer is not None:
        _finish_streaming_layers(run)


def _stop(queries: dict, run: Run) -> None:
    """Stop every query; one that raised counts as a failed operation."""
    for name, q in queries.items():
        exc = q.exception()
        if exc is not None:
            run.op([f"query {name} failed: {exc}"])
        q.stop()


def _streaming_layers(run: Run, out: str, queries: dict, listener, file_batch: dict,
                      probe_files: list[str]) -> None:
    import layers

    time.sleep(1.0)  # let the last progress events reach the listener
    run.spark.streams.removeListener(listener)
    by_run = listener.by_run()
    progress = {n: by_run.get(str(q.runId), []) for n, q in queries.items()}
    run.layer.update(layers.streaming_metrics(progress, file_batch, run.tracer))
    sc = run.spark.sparkContext
    ids = tr.job_ids(sc, [None] + run.state["run_ids"]) - run.state["jobs_before"]
    jobs, tasks = tr.job_task_counts(sc, ids)
    run.layer["spark.jobs"] = float(jobs)
    run.layer["spark.tasks"] = float(tasks)
    scored = layers.rows_scored(progress, ["kmeans", "bisecting"])
    files = size = 0
    for name in _topics().values():
        f, s = layers.sink_files(os.path.join(out, name))
        files, size = files + f, size + s
    run.state["sink_files"] = (files, size)
    run.state["rows_scored"] = scored
    fixture = run.state["fixture"]
    run.layer.update(layers.probe_chain(
        run.spark, probe_files, fixture["kmeans"]["centers"], fixture["kmeans"]["threshold"],
        run.work, run.tracer,
    ))


def _finish_streaming_layers(run: Run) -> None:
    files, size = run.state.get("sink_files", (0, 0))
    scored = run.state.get("rows_scored", 0.0)
    anomalies = float(run.state.get("anomaly_rows", 0))
    run.layer.update({
        "scoring.rows_scored": scored,
        "scoring.anomalies": anomalies,
        "scoring.flag_ratio": anomalies / scored if scored else 0.0,
        "sinks.rows_written": float(run.state.get("rows_written", 0)),
        "sinks.files_written": float(files),
        "sinks.bytes_written": float(size),
    })


# --------------------------------------------------------------------------
# replay_drain
# --------------------------------------------------------------------------

def drain_lines(seconds: int) -> int:
    return min(DRAIN_MAX_LINES, DRAIN_LINES_PER_S * seconds)


def stage_replay_drain(run: Run) -> None:
    stage_warmup(run)
    lines = gen.generate_lines(run.sf_dir, run.seed, limit=drain_lines(run.seconds))
    chunks = gen.cut_chunks(lines, DRAIN_CHUNKS, run.seed)
    src = os.path.join(run.work, "in")
    base = time.time_ns() - 3600 * 10**9
    run.state["files"] = gen.stage_chunks(src, chunks, base)
    run.state["source"] = src
    run.state["lines"] = len(lines)


def measure_replay_drain(run: Run) -> None:
    files = run.state["files"]
    names = [os.path.basename(f) for f in files]
    t0 = time.time()
    out, queries, listener = _start_pipeline(run, run.state["source"], True, DRAIN_FILES_PER_TRIGGER)
    for q in queries.values():
        q.awaitTermination(170)
    t1 = time.time()
    _stop(queries, run)
    done, file_batch = _result_times(out, names)
    run.e2e["lines_per_s"] = (run.state["lines"] / (t1 - t0), "1/s")
    _latency_metrics(run, ckpt.latencies_ms([t0] * len(names), done))
    for d in done:
        run.op([] if d is not None else ["chunk never committed"])
    if run.tracer is not None:
        _streaming_layers(run, out, queries, listener, file_batch, files[:PROBE_CHUNKS])
        run.layer["sources.backlog_files_max"] = float(len(files))
        run.layer["sources.backlog_files_end"] = float(sum(d is None for d in done))
        import layers

        run.layer.update(layers.train_probe(
            run.spark, files, os.path.join(run.work, "models"), TRAIN_KMAX, TRAIN_SEED,
            THRESHOLD_RANK, run.tracer,
        ))
    run.state["check"] = lambda: _check_streaming(run, out, files, file_batch)


# --------------------------------------------------------------------------
# live_feed
# --------------------------------------------------------------------------

def live_chunks(seconds: int) -> int:
    return max(1, round((LIVE_WARMUP_S + seconds) / LIVE_INTERVAL_S))


def stage_live_feed(run: Run) -> None:
    stage_warmup(run)
    n_chunks = live_chunks(run.seconds)
    n_lines = round(n_chunks * LIVE_INTERVAL_S * LIVE_RATE)
    lines = gen.generate_lines(run.sf_dir, run.seed, limit=n_lines)
    chunks = gen.cut_chunks(lines, n_chunks, run.seed)
    staged = os.path.join(run.work, "staged")
    base = time.time_ns() - 3600 * 10**9
    gen.stage_chunks(staged, chunks, base)
    src = os.path.join(run.work, "in")
    os.makedirs(src)
    run.state.update(staged=staged, source=src, n_chunks=n_chunks, lines=len(lines))


def _feed(run: Run, src: str, n: int) -> tuple[float, list[float], list[float]]:
    """Run the feeder process to completion; (start, due, dropped)."""
    record_path = os.path.join(run.work, "feed.json")
    start = time.time() + LIVE_LEAD_S
    feeder = subprocess.Popen([
        sys.executable, os.path.join(HERE, "feeder.py"), run.state["staged"], src,
        repr(start), repr(LIVE_INTERVAL_S), str(n), record_path,
    ])
    try:
        feeder.wait(timeout=LIVE_LEAD_S + n * LIVE_INTERVAL_S + 60)
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
    if feeder.returncode != 0:
        raise RuntimeError(f"feeder exited with {feeder.returncode}")
    with open(record_path) as f:
        record = json.load(f)
    return start, record["due"], record["dropped"]


def measure_live_feed(run: Run) -> None:
    n = run.state["n_chunks"]
    src = run.state["source"]
    names = [gen.chunk_name(i) for i in range(n)]
    out, queries, listener = _start_pipeline(run, src, False, None)
    start, due, dropped = _feed(run, src, n)
    deadline = due[-1] + END_GRACE_S
    while time.time() < deadline and not any(q.exception() for q in queries.values()):
        if all(d is not None for d in _result_times(out, names)[0]):
            break
        time.sleep(0.5)
    _stop(queries, run)
    done, file_batch = _result_times(out, names)
    timed = [i for i, d in enumerate(due) if d >= start + LIVE_WARMUP_S]
    _latency_metrics(run, ckpt.latencies_ms([due[i] for i in timed], [done[i] for i in timed]))
    finished = [d for d in done if d is not None]
    run.e2e["lines_per_s"] = (run.state["lines"] / (max(finished) - due[0]), "1/s")
    for d in done:
        run.op([] if d is not None else ["chunk never committed"])
    if run.tracer is not None:
        _streaming_layers(run, out, queries, listener, file_batch,
                          [os.path.join(src, c) for c in names[:PROBE_CHUNKS]])
        backlog = ckpt.backlog_series(dropped, done)
        run.layer["sources.backlog_files_max"] = float(max(backlog))
        run.layer["sources.backlog_files_end"] = float(sum(d is None or d > deadline for d in done))
        run.layer["generator.lag_ms_max"] = max(b - a for a, b in zip(due, dropped)) * 1000.0
    files = [os.path.join(src, c) for c in names]
    run.state["check"] = lambda: _check_streaming(run, out, files, file_batch)


WORKLOADS = {
    "replay_drain": (stage_replay_drain, measure_replay_drain),
    "live_feed": (stage_live_feed, measure_live_feed),
}
