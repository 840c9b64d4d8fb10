"""The end-to-end streaming application (InvoicePipeline.main twin,
IP:31-154): one normalized line source fanned out to the four reference
outputs, each its own streaming query with its own checkpoint.

Reference topics → rebuild sinks:
  facturas_erroneas        ← invalid lines            (append)
  cancelaciones            ← windowed cancel counts   (append, event-time)
  anomalias_kmeans         ← KMeans anomalies         (update)
  anomalias_bisect_kmeans  ← BisectingKMeans anomalies (update)

Sink modes: "kafka" (production), "parquet" (broker-free golden runs),
"memory" (tests). Models arrive as plain centroid lists + thresholds
(ml.anomaly.load_model → streaming.scoring.centers_of), so scoring is
plan-literal — no model broadcast, no Python in the stream.

Scale posture: each query checkpoints independently (replayable Kafka
offsets ⇒ at-least-once per sink, no receiver data-loss window like the
reference's WAL-less ZK receiver); state lives in the partitioned state
store (RocksDB via conf for large key spaces); AQE is off in streaming
but shuffle partitions are sized by the session factory.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bigdata_invoice_stream_analysis_spark.streaming import pipeline as P
from bigdata_invoice_stream_analysis_spark.streaming import scoring, sinks

TOPIC_INVALID = "facturas_erroneas"  # IP:27
TOPIC_CANCELLATIONS = "cancelaciones"  # IP:28
TOPIC_ANOMALIES_KMEANS = "anomalias_kmeans"  # IP:26
TOPIC_ANOMALIES_BISECT = "anomalias_bisect_kmeans"  # IP:29


@dataclass
class ModelSpec:
    """A scoring model: centroids + anomaly threshold (M3/M4)."""

    centers: list[list[float]]
    threshold: float


@dataclass
class PipelineConfig:
    sink_mode: str = "parquet"  # kafka | parquet | memory
    out_dir: str = "./out"  # parquet sink root / checkpoint root
    brokers: str | None = None  # kafka mode
    watermark: str = P.DEFAULT_WATERMARK
    available_now: bool = False  # drain-and-stop (tests/golden runs)
    models: dict[str, ModelSpec] = field(default_factory=dict)


def _start(
    df: DataFrame, name: str, cfg: PipelineConfig, output_mode: str
) -> StreamingQuery:
    ckpt = f"{cfg.out_dir}/_checkpoints/{name}"
    if cfg.sink_mode == "kafka":
        if not cfg.brokers:
            raise ValueError("kafka sink_mode requires brokers")
        return sinks.kafka_sink(
            df, cfg.brokers, name, ckpt,
            key_col=df.columns[0], output_mode=output_mode,
        )
    if cfg.sink_mode == "parquet":
        # Update-mode branches route through the batch_id-overwrite
        # foreachBatch sink (parquet itself is append-only): a replayed
        # micro-batch after a crash overwrites its own batch_id=N/
        # partition instead of appending duplicate rows, so golden runs
        # are replay-safe.
        if output_mode == "update":
            return sinks.idempotent_parquet_sink(
                df, f"{cfg.out_dir}/{name}", ckpt,
                trigger_available_now=cfg.available_now,
                output_mode="update",
            )
        return sinks.parquet_sink(
            df, f"{cfg.out_dir}/{name}", ckpt,
            trigger_available_now=cfg.available_now,
        )
    if cfg.sink_mode == "memory":
        return sinks.memory_sink(
            df, name.replace("-", "_"), output_mode=output_mode,
            trigger_available_now=cfg.available_now,
        )
    raise ValueError(f"unknown sink_mode {cfg.sink_mode!r}")


def run_pipeline(lines: DataFrame, cfg: PipelineConfig) -> list[StreamingQuery]:
    """Wire all four branches onto a normalized line stream
    (sources.*_lines_source) and start their queries. If wiring fails
    after some queries started (bad checkpoint dir, broken sink), the
    survivors are stopped before the error propagates — a partial
    topology must not leak active streams into the session."""
    queries: list[StreamingQuery] = []
    try:
        queries.append(
            _start(P.invalid_lines(lines), TOPIC_INVALID, cfg, "append")
        )
        queries.append(
            _start(
                P.cancellation_counts(lines, watermark=cfg.watermark),
                TOPIC_CANCELLATIONS, cfg, "append",
            )
        )

        updates = P.invoice_updates(P.good_purchases(lines))
        topic_by_model = {
            "kmeans": TOPIC_ANOMALIES_KMEANS,
            "bisecting": TOPIC_ANOMALIES_BISECT,
        }
        for model_name, spec in cfg.models.items():
            flagged = scoring.anomalies_with_centroids(
                updates, spec.centers, spec.threshold
            )
            topic = topic_by_model.get(model_name, f"anomalias_{model_name}")
            queries.append(_start(flagged, topic, cfg, "update"))
    except Exception:
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass  # best-effort cleanup; the wiring error propagates
        raise
    return queries


def await_all(queries: list[StreamingQuery], timeout: int | None = None) -> None:
    for q in queries:
        q.awaitTermination(timeout)
