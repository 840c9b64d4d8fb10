"""E2E tests: the four-branch streaming app (app.run_pipeline) and the
training CLI (ml.cli.train_all) — SURVEY.md §5.3/§5.5."""

from __future__ import annotations

import glob
import os

import pytest

from bigdata_invoice_stream_analysis_spark.ml.cli import train_all
from bigdata_invoice_stream_analysis_spark.streaming.app import (
    ModelSpec,
    PipelineConfig,
    run_pipeline,
)
from bigdata_invoice_stream_analysis_spark.streaming.producer import replay_to_dir
from bigdata_invoice_stream_analysis_spark.streaming.sources import file_lines_source


def line(inv, qty, date, price, cust="7"):
    return f"{inv},S1,item,{qty},{date},{price},{cust},ES"


LINES = [
    # normal cluster: unit price ~10, qty small, morning
    line("I1", 2, "1/4/2011 9:15", "10.0"),
    line("I1", 1, "1/4/2011 9:20", "11.0"),
    line("I2", 3, "1/4/2011 10:00", "9.5"),
    line("I3", 2, "1/4/2011 10:30", "10.5"),
    # outlier invoice: price 500
    line("I9", 1, "1/4/2011 11:00", "500.0"),
    # cancelled + invalid dirt
    line("C5", 1, "1/4/2011 11:10", "5.0"),
    "too,few,fields",
    # watermark pusher
    line("I4", 1, "1/4/2011 23:59", "10.2"),
]


def test_run_pipeline_parquet_sinks(spark, tmp_path):
    src = tmp_path / "in"
    raw = tmp_path / "raw.csv"
    raw.write_text("\n".join(LINES) + "\n")
    replay_to_dir(str(raw), str(src), chunk=4)

    out = str(tmp_path / "out")
    cfg = PipelineConfig(
        sink_mode="parquet",
        out_dir=out,
        watermark="1 minute",
        available_now=True,
        models={
            "kmeans": ModelSpec(
                centers=[[10.0, 9.5, 11.0, 10.0, 3.0]], threshold=1000.0
            ),
            "bisecting": ModelSpec(
                centers=[[10.0, 9.5, 11.0, 10.0, 3.0]], threshold=1000.0
            ),
        },
    )
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    queries = run_pipeline(lines, cfg)
    assert len(queries) == 4
    for q in queries:
        q.awaitTermination(120)

    invalid = spark.read.parquet(f"{out}/facturas_erroneas")
    assert [r.value for r in invalid.collect()] == ["too,few,fields"]

    cancels = spark.read.parquet(f"{out}/cancelaciones")
    crows = cancels.collect()
    assert len(crows) == 8  # C5 covered by 8 sliding windows, all closed
    assert all(r.n_cancelled == 1 for r in crows)

    km = spark.read.parquet(f"{out}/anomalias_kmeans")
    anomalous = {r.InvoiceNo for r in km.collect()}
    assert "I9" in anomalous  # price-500 outlier flagged
    assert "I2" not in anomalous
    bi = spark.read.parquet(f"{out}/anomalias_bisect_kmeans")
    assert "I9" in {r.InvoiceNo for r in bi.collect()}


@pytest.mark.parametrize(
    "bad",
    [
        {"sink_mode": "kafka"},  # kafka without brokers
        {"sink_mode": "no-such-sink"},  # unknown sink mode
    ],
    ids=["kafka-without-brokers", "unknown-sink-mode"],
)
def test_run_pipeline_rejects_bad_sink_config_at_wiring(spark, tmp_path, bad):
    """A bad sink config fails when the topology is wired — not
    asynchronously on batch 0 — and leaves no query running."""
    src = tmp_path / "in"
    src.mkdir()
    lines = file_lines_source(spark, str(src), max_files_per_trigger=1)
    cfg = PipelineConfig(
        out_dir=str(tmp_path / "out"),
        available_now=True,
        models={"kmeans": ModelSpec(centers=[[0.0] * 5], threshold=1.0)},
        **bad,
    )
    with pytest.raises(ValueError):
        run_pipeline(lines, cfg)
    assert spark.streams.active == []


def test_train_all_cli(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(11)
    rows = ["InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country"]
    # two planted price clusters (~10 and ~200), 40 invoices x 2 lines
    for i in range(40):
        base = 10.0 if i % 2 == 0 else 200.0
        for j in range(2):
            price = round(base + rng.uniform(-1, 1), 2)
            rows.append(
                f"N{i},S1,item,{1 + j},1/4/2011 {9 + i % 8}:{10 + j},{price},42,ES"
            )
    csv = tmp_path / "training.csv"
    csv.write_text("\n".join(rows) + "\n")

    out = str(tmp_path / "models")
    res = train_all(spark, str(csv), out, kmax=4, seed=42)
    assert set(res) == {"kmeans", "bisecting"}
    for algo, info in res.items():
        assert 2 <= info["k"] <= 4
        assert info["threshold"] >= 0
        assert os.path.isdir(info["model_path"])
        assert os.path.isfile(info["threshold_path"])

    # Round-trip: reload model + threshold and score the training set —
    # with the planted two-cluster structure and threshold = max-ish
    # distance, nothing in-training should be anomalous by a wide margin.
    from bigdata_invoice_stream_analysis_spark.ml import anomaly as A
    from bigdata_invoice_stream_analysis_spark.ml.train import assemble_features
    from bigdata_invoice_stream_analysis_spark.operators.featurize import invoice_features
    from bigdata_invoice_stream_analysis_spark.operators.validate import coerce_purchase_types
    from bigdata_invoice_stream_analysis_spark.sources.tables import read_purchases_csv

    model = A.load_model(res["kmeans"]["model_path"], "kmeans")
    thr = A.load_threshold(res["kmeans"]["threshold_path"])
    assert thr == pytest.approx(res["kmeans"]["threshold"])
    feats = invoice_features(coerce_purchase_types(read_purchases_csv(spark, str(csv))))
    scored = A.score(assemble_features(feats), model)
    # n < 2000, so the top-2000 rule degrades to the overall MIN training
    # distance (train.scala:45-46 top(2000).last does the same): nothing
    # scores below it, (n - #min) rows score above.
    from pyspark.sql import functions as F

    assert scored.filter(scored.dist < thr).count() == 0
    assert scored.agg(F.min("dist")).first()[0] == pytest.approx(thr)
