"""The shared keyed-state fold (streaming/state._make_fold) on plain
pandas frames — no JVM. Both state APIs call this one fold, so these
paths hold for applyInPandasWithState and transformWithStateInPandas
alike, including the two no Spark test reaches: a NaT head timestamp
and a key whose chunks are all empty."""

from __future__ import annotations

import pandas as pd
import pytest

from bigdata_invoice_stream_analysis_spark.streaming.state import _make_fold


def _chunk(rows):
    """(UnitPrice, Quantity, ts, CustomerID) rows → one Arrow-shaped chunk."""
    return pd.DataFrame(
        rows, columns=["UnitPrice", "Quantity", "ts", "CustomerID"]
    ).astype({"ts": "datetime64[ns]"})


T915 = pd.Timestamp("2011-01-04 09:15")
T1130 = pd.Timestamp("2011-01-04 11:30")


def test_weighted_running_mean_across_two_calls():
    fold = _make_fold()
    batch1 = _chunk([(10.0, 2, T915, "7"), (30.0, 1, T915, "7")])
    s1, _ = fold("I1", iter([batch1]), None, 100)
    assert s1 == pytest.approx(((2 * 10 + 1 * 30) / 3, 10.0, 30.0, 3.0, 100, 1))
    s2, r2 = fold("I1", iter([_chunk([(20.0, 3, T1130, "7")])]), s1, 200)
    avg, mn, mx, n, last, lines = s2
    assert avg == pytest.approx(110.0 / 6)  # (2·10 + 1·30 + 3·20) / 6
    assert (mn, mx, n, last, lines) == (10.0, 30.0, 6.0, 200, 2)
    row = r2.iloc[0]
    assert row["InvoiceNo"] == "I1"
    assert row["AvgUnitPrice"] == pytest.approx(110.0 / 6)
    assert row["LastUpdated"] == 200
    assert row["Lines"] == 2
    assert list(r2.columns) == [
        "InvoiceNo", "AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time",
        "NumberItems", "LastUpdated", "Lines", "CustomerID",
    ]


def test_reference_seeds():
    """A new key folds from the reference's dummy state: min from +inf,
    max from Double.MinPositiveValue — so a lone negative price leaves
    max at 4.9e-324 (the reference quirk) while min takes the price."""
    state, _ = _make_fold()(
        "I1", iter([_chunk([(-5.0, 1, T915, "7")])]), None, 1
    )
    assert state[1] == -5.0
    assert state[2] == 4.9e-324
    state, _ = _make_fold()(
        "I2", iter([_chunk([(float("inf"), 1, T915, "7")])]), None, 1
    )
    assert state[1] == float("inf")  # min seed is +inf, not a finite max


def test_head_of_batch_hour_and_customer():
    """Time and CustomerID come from the first row of the first
    non-empty chunk, whatever the later rows say."""
    _, row = _make_fold()(
        "I1",
        iter([
            _chunk([]),
            _chunk([(1.0, 1, T1130, "8"), (2.0, 1, T915, "9")]),
            _chunk([(3.0, 1, T915, "9")]),
        ]),
        None, 1,
    )
    assert row.iloc[0]["Time"] == pytest.approx(11.5)
    assert row.iloc[0]["CustomerID"] == "8"


def test_nat_head_timestamp_gives_hour_zero():
    _, row = _make_fold()(
        "I1", iter([_chunk([(1.0, 1, pd.NaT, "7")])]), None, 1
    )
    assert row.iloc[0]["Time"] == 0.0


def test_only_empty_chunks_is_no_update_no_row():
    prev = (5.0, 5.0, 5.0, 1.0, 10, 1)
    assert _make_fold()("I1", iter([_chunk([]), _chunk([])]), prev, 1) == (
        None, None
    )
    assert _make_fold()("I1", iter([]), None, 1) == (None, None)
