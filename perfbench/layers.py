"""Per-layer measurements for the traced run, all taken from outside the
program: Spark's streaming progress events, its status tracker, the
sinks' output files, and timed calls into each layer's public functions
(the probes)."""

from __future__ import annotations

import json
import os
import statistics
import threading

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import spans as tr


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event's JSON, keyed by query run id."""

    def __init__(self) -> None:
        self.events: list[tuple[str, dict]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.events.append((str(p.runId), json.loads(p.json)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def by_run(self) -> dict[str, list[dict]]:
        """Run id → its progress events of batches that ran (one per
        batch id, the last report wins)."""
        with self._lock:
            events = list(self.events)
        out: dict[str, dict[int, dict]] = {}
        for run, p in events:
            if "addBatch" in p.get("durationMs", {}):
                out.setdefault(run, {})[p["batchId"]] = p
        return {r: [b[k] for k in sorted(b)] for r, b in out.items()}


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def streaming_metrics(
    progress: dict[str, list[dict]], file_batch: dict[str, dict[str, int]],
    tracer: tr.Tracer,
) -> dict[str, float]:
    """Per-layer metrics of the streaming layers, from progress events of
    every query (``progress``: query name → events in batch order). Also
    records each batch as a span with its Spark phases as children, the
    trace id being the batch's first input chunk."""
    batches = [p for evs in progress.values() for p in evs]
    dur = [p.get("durationMs", {}) for p in batches]
    ops_by_query = {q: [p.get("stateOperators", []) for p in evs] for q, evs in progress.items()}
    op_batches = [ops for per in ops_by_query.values() for ops in per if ops]
    for q, evs in progress.items():
        by_batch: dict[int, list[str]] = {}
        for f, b in file_batch.get(q, {}).items():
            by_batch.setdefault(b, []).append(f)
        for p in evs:
            tr.batch_spans(tracer, q, p, sorted(by_batch.get(p["batchId"], [])))
    return {
        "sources.offset_ms": _mean([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
        "sources.input_rows": float(sum(p.get("numInputRows", 0) for p in batches)),
        "pipeline.planning_ms": sum(
            _mean([p["durationMs"].get("queryPlanning", 0) for p in evs]) for evs in progress.values()
        ),
        "state.update_ms": float(sum(o.get("allUpdatesTimeMs", 0) for ops in op_batches for o in ops)),
        "state.commit_ms": _mean([sum(o.get("commitTimeMs", 0) for o in ops) for ops in op_batches]),
        "state.rows_total": float(sum(
            sum(o.get("numRowsTotal", 0) for o in per[-1]) for per in ops_by_query.values() if per and per[-1]
        )),
        "state.rows_updated": float(sum(o.get("numRowsUpdated", 0) for ops in op_batches for o in ops)),
        "state.memory_bytes": float(sum(
            max((sum(o.get("memoryUsedBytes", 0) for o in ops) for ops in per), default=0)
            for per in ops_by_query.values()
        )),
        "state.rows_dropped_late": float(sum(
            o.get("numRowsDroppedByWatermark", 0) for ops in op_batches for o in ops
        )),
        "app.batches": float(len(batches)),
        "app.trigger_ms": _mean([d.get("triggerExecution", 0) for d in dur]),
        "app.commit_ms": _mean([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "app.add_batch_ms": float(sum(d.get("addBatch", 0) for d in dur)),
    }


def rows_scored(progress: dict[str, list[dict]], scored_queries: list[str]) -> float:
    """Rows the scoring step saw: the invoice-state rows each anomaly
    query's state operator emitted (update mode emits every updated key)."""
    return float(sum(
        o.get("numRowsUpdated", 0)
        for q in scored_queries for p in progress.get(q, []) for o in p.get("stateOperators", [])
    ))


def sink_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a sink directory, skipping metadata,
    checksums and hidden files."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def static_lines(spark, files: list[str]):
    """The given chunk files as a static DataFrame in the line-source
    envelope (key, value, ingest_ts)."""
    return spark.read.text(files).select(
        F.split(F.col("value"), ",").getItem(0).alias("key"),
        F.col("value"),
        F.current_timestamp().alias("ingest_ts"),
    )


PROBE_REPEATS = 3


def probe_chain(spark, files: list[str], centers: list[list[float]], threshold: float,
                out_dir: str, tracer: tr.Tracer) -> dict[str, float]:
    """Time the streaming layers' public functions on a static sample (the
    given chunk files), each stage forced with a noop write (the sink
    stage with its own write), each run PROBE_REPEATS times. Stages are
    cumulative plans, so a stage's median run gets the previous stage's
    median run as its child span, and its self time is what the layer
    adds."""
    from bigdata_invoice_stream_analysis_spark.operators import validate
    from bigdata_invoice_stream_analysis_spark.streaming import pipeline, scoring, sinks

    lines = static_lines(spark, files)
    purchases = pipeline.good_purchases(lines)
    updates = pipeline.invoice_updates(purchases)
    flagged = scoring.anomalies_with_centroids(updates, centers, threshold)
    sink_path = os.path.join(out_dir, "probe_sink")
    stages = [
        ("sources.read", lambda: _noop(lines)),
        ("validate", lambda: _noop(validate.with_routing(lines))),
        ("pipeline.parse", lambda: _noop(purchases)),
        ("pipeline.agg", lambda: _noop(updates)),
        ("scoring", lambda: _noop(flagged)),
        ("sinks.write", lambda: sinks.overwrite_batch(flagged, 0, sink_path)),
    ]
    _noop(updates)  # warm the plan's code paths once before timing
    medians = []
    for name, run in stages:
        runs = []
        for _ in range(PROBE_REPEATS):
            with tracer.span(name, trace="probe-run"):
                run()
            runs.append(tracer.spans[-1])
        medians.append(sorted(runs, key=lambda s: s.duration)[len(runs) // 2])
    for i, m in enumerate(medians):
        sid = tracer.add(m.name, m.start, m.end, trace="probe")
        if i:
            prev = medians[i - 1]
            tracer.add(f"{prev.name}.input", m.start, m.start + prev.duration,
                       parent=sid, trace="probe")
    self_s = tr.self_time_by_name([s for s in tracer.spans if s.trace == "probe"])
    routed = validate.with_routing(lines)
    counts = routed.agg(
        F.sum(F.col("is_invalid").cast("int")).alias("inv"),
        F.sum((~F.col("is_invalid") & F.col("is_cancelled")).cast("int")).alias("can"),
    ).first()
    return {
        "sources.read_self_s": self_s["sources.read"],
        "validate.self_s": self_s["validate"],
        "pipeline.parse_self_s": self_s["pipeline.parse"],
        "pipeline.agg_self_s": self_s["pipeline.agg"],
        "scoring.self_s": self_s["scoring"],
        "sinks.write_self_s": self_s["sinks.write"],
        "validate.invalid_rows": float(counts["inv"] or 0),
        "validate.cancelled_rows": float(counts["can"] or 0),
    }


def train_probe(spark, files: list[str], out_dir: str, kmax: int, seed: int, rank: int,
                tracer: tr.Tracer) -> dict[str, float]:
    """Time train_all's steps (ml.cli.train_all) on the purchases parsed
    from the given chunk files: one span per layer call under a common
    root, job counts from the status tracker."""
    from bigdata_invoice_stream_analysis_spark.ml import anomaly
    from bigdata_invoice_stream_analysis_spark.ml.train import (
        assemble_features, select_model, train_sweep,
    )
    from bigdata_invoice_stream_analysis_spark.operators.featurize import invoice_features
    from bigdata_invoice_stream_analysis_spark.streaming import pipeline

    sc = spark.sparkContext
    lines = static_lines(spark, files)
    out: dict[str, float] = {}
    fits = iters = jobs = 0
    with tracer.span("train_all", trace="train") as root:
        with tracer.span("featurize", parent=root, trace="train"):
            feats = invoice_features(pipeline.good_purchases(lines).drop("ts"))
            vecs = assemble_features(feats).cache()
            out["featurize.invoices"] = float(vecs.count())
        for algo in ("kmeans", "bisecting"):
            before = tr.job_ids(sc, [None])
            with tracer.span(f"train.sweep.{algo}", parent=root, trace="train"):
                sweep = train_sweep(vecs, algo=algo, ks=range(2, kmax + 1), seed=seed)
                best = select_model(sweep)
            jobs += len(tr.job_ids(sc, [None]) - before)
            fits += len(sweep)
            iters += sum(r.model.summary.numIter for r in sweep)
            with tracer.span("anomaly.threshold", parent=root, trace="train"):
                threshold = anomaly.train_threshold(vecs, best.model, rank)
            with tracer.span("anomaly.save", parent=root, trace="train"):
                anomaly.save_model(best.model, os.path.join(out_dir, algo))
                anomaly.save_threshold(threshold, os.path.join(out_dir, f"{algo}_threshold.json"))
        vecs.unpersist()
    st = tr.self_time_by_name([s for s in tracer.spans if s.trace == "train"])
    out.update({
        "featurize.self_s": st["featurize"],
        "train.sweep_s.kmeans": st["train.sweep.kmeans"],
        "train.sweep_s.bisecting": st["train.sweep.bisecting"],
        "train.fits": float(fits),
        "train.iterations": float(iters),
        "train.jobs": float(jobs),
        "anomaly.threshold_s": st["anomaly.threshold"],
        "anomaly.save_s": st["anomaly.save"],
    })
    return out
