#!/usr/bin/env python3
"""Regenerate fixture/models.json: the models ml.cli.train_all produces
on the purchases of the default seed (centroids, anomaly threshold and
chosen k per algorithm), after checking them against DuckDB. Both
streaming workloads score against this fixture, so they never retrain
during a run.

Usage (from the repository root):  python3 perfbench/make_fixture.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run as R  # noqa: E402
import workloads as W  # noqa: E402

DEFAULT_SEED = 1


def stage_purchases(sf_dir: str, seed: int, path: str) -> None:
    """Typed purchases (the valid lines, in seeded delivery order) as one
    parquet file, written by DuckDB."""
    lines = gen.generate_lines(sf_dir, seed)
    con = oracle.connect()
    try:
        con.register("raw", pa.table({"value": lines, "pos": range(len(lines))}))
        f = "string_split(value, ',')"
        con.execute(
            f"""COPY (SELECT {f}[1] AS InvoiceNo, {f}[2] AS StockCode, {f}[3] AS Description,
                  CAST({f}[4] AS INT) AS Quantity, {f}[5] AS InvoiceDate,
                  CAST({f}[6] AS DOUBLE) AS UnitPrice, {f}[7] AS CustomerID, {f}[8] AS Country
                FROM raw WHERE NOT {oracle.INVALID} ORDER BY pos)
              TO '{path}' (FORMAT parquet)"""
        )
    finally:
        con.close()


def main() -> int:
    from bigdata_invoice_stream_analysis_spark.ml import anomaly
    from bigdata_invoice_stream_analysis_spark.ml.cli import train_all
    from bigdata_invoice_stream_analysis_spark.operators.featurize import invoice_features
    from bigdata_invoice_stream_analysis_spark.streaming.scoring import centers_of

    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, "fixture")
    shutil.rmtree(work, ignore_errors=True)
    R.prepare_env(scratch)
    os.makedirs(work)
    purchases = os.path.join(work, "purchases.parquet")
    stage_purchases(gen.sf_dir(), DEFAULT_SEED, purchases)
    spark = R.start_session(scratch)
    try:
        results = train_all(spark, purchases, os.path.join(work, "models"),
                            kmax=W.TRAIN_KMAX, seed=W.TRAIN_SEED)
        centers = {a: centers_of(anomaly.load_model(r["model_path"], a))
                   for a, r in results.items()}
        n_features = invoice_features(spark.read.parquet(purchases)).count()
        con = oracle.connect()
        try:
            fails = oracle.check_training(con, purchases, n_features, results, centers, W.THRESHOLD_RANK)
        finally:
            con.close()
        if fails:
            print("\n".join(fails), file=sys.stderr)
            return 1
        fixture = {
            "input_seed": DEFAULT_SEED, "train_seed": W.TRAIN_SEED, "kmax": W.TRAIN_KMAX,
        }
        for algo, r in results.items():
            fixture[algo] = {
                "k": r["k"],
                "threshold": r["threshold"],
                "centers": centers[algo],
            }
    finally:
        R.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    with open(W.FIXTURE, "w") as f:
        json.dump(fixture, f, indent=1)
        f.write("\n")
    print(json.dumps({a: {"k": fixture[a]["k"], "threshold": fixture[a]["threshold"]}
                      for a in ("kmeans", "bisecting")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
