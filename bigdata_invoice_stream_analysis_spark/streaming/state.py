"""Legacy-exact keyed invoice state (W2/A4) on both state APIs.

One fold (``_make_fold``) reproduces ``updateInvoiceState``
(InvoicePipeline.scala:93-130) exactly, per micro-batch and per key:

  * quantity-weighted running mean:
      avg ← (avg·n + price·qty) / (n + qty), folded line by line;
  * running min/max of UnitPrice (seeded min=+inf, max=4.9e-324 — the
    reference's Double.MaxValue / Double.MinPositiveValue dummy,
    InvoicePipeline.scala:96);
  * Time = fractional hour of the *head purchase of this batch*
    (InvoicePipeline.scala:104-105 — an arrival-order artifact kept for
    fidelity; pipeline.invoice_updates is the order-free variant);
  * Lines = number of micro-batches that touched the invoice (the
    reference's ``previous.lines + 1``, InvoicePipeline.scala:126);
  * emits only keys that received data this batch (updateStateByKey
    returns None for quiet keys — which also DROPS their state,
    InvoicePipeline.scala:99; here an optional eviction reproduces
    that, default keeps state — strictly more correct for invoices
    spanning quiet batches).

``apply_invoice_state`` runs the fold under applyInPandasWithState
(eviction = processing-time timeout); ``transform_invoice_state`` runs
it under transformWithStateInPandas (state v2; eviction = value-state
TTL). The timer and list/map processors cover the rest of the v2 API.

This is the one operator whose semantics genuinely need custom state —
Arrow-batched (not row-at-a-time), grouped by InvoiceNo so each state
row is ~60 bytes; with the RocksDB state store this scales to billions
of keys per Structured Streaming's state partitioning (state lives with
the shuffle partition that owns the key — no global rescan per batch,
unlike the reference's updateStateByKey cogroup).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bigdata_invoice_stream_analysis_spark.schemas import INVOICE_STATE_SCHEMA

# Reference dummy-state seeds (InvoicePipeline.scala:96).
_SEED_MIN = float("inf")  # Double.MaxValue (dominates min identically)
_SEED_MAX = 4.9e-324  # Double.MinPositiveValue

_STATE_SCHEMA = (
    "avg double, mn double, mx double, number_items double, "
    "last_updated long, lines int"
)


def _make_fold():
    """Build the reference's per-key, per-micro-batch fold
    (InvoicePipeline.scala:93-130) that BOTH state APIs call. Built by
    a factory so the returned closure cloudpickles BY VALUE:
    transformWithState runs its processor in a separately-spawned
    long-lived Python worker whose sys.path need not contain this
    package, so a module-level function (pickled by name) would crash
    that worker with ModuleNotFoundError. The closure touches only
    pandas and float constants, which pickle without this package.

    ``fold(invoice_no, pdf_iter, prev, batch_ms)`` folds the key's
    Arrow chunks into ``prev`` (a ``_STATE_SCHEMA`` tuple, or None for
    a new key) and returns ``(state, row)`` — the updated state tuple
    and the one-row output frame — or ``(None, None)`` when the chunks
    held no rows. ``batch_ms`` is the engine's processing time; None or
    a non-positive value (no engine clock) means wall-clock now."""

    def fold(invoice_no, pdf_iter, prev, batch_ms):
        if prev is None:
            avg, mn, mx, number_items, lines = 0.0, _SEED_MIN, _SEED_MAX, 0.0, 0
        else:
            avg, mn, mx, number_items, _last, lines = prev
        head = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            if head is None:
                # Head purchase of this batch (InvoicePipeline.scala:104).
                head = pdf.iloc[0]
            # Line-by-line weighted-mean fold (InvoicePipeline.scala:109-114).
            for price, qty in zip(pdf["UnitPrice"], pdf["Quantity"]):
                price, qty = float(price), float(qty)
                avg = (avg * number_items + price * qty) / (number_items + qty)
                mn = min(mn, price)
                mx = max(mx, price)
                number_items += qty
        if head is None:
            return None, None
        lines += 1
        if batch_ms is None or batch_ms <= 0:
            batch_ms = int(pd.Timestamp.utcnow().value // 1_000_000)
        ts = head["ts"]
        hour = 0.0 if pd.isna(ts) else float(ts.hour + ts.minute / 60.0)
        row = pd.DataFrame(
            {
                "InvoiceNo": [invoice_no],
                "AvgUnitPrice": [avg],
                "MinUnitPrice": [mn],
                "MaxUnitPrice": [mx],
                "Time": [hour],
                "NumberItems": [number_items],
                "LastUpdated": [batch_ms],
                "Lines": [int(lines)],
                "CustomerID": [str(head["CustomerID"])],
            }
        )
        return (avg, mn, mx, number_items, batch_ms, lines), row

    return fold


def _make_updater(evict_after_ms: int | None):
    fold = _make_fold()

    def update(
        key: tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Reference eviction: a batch with no new purchases for the
            # key returns None → state dropped (InvoicePipeline.scala:99).
            state.remove()
            return
        new, row = fold(
            key[0], pdf_iter, state.get if state.exists else None, None
        )
        if new is None:
            return
        state.update(new)
        if evict_after_ms is not None:
            state.setTimeoutDuration(evict_after_ms)
        yield row

    return update


def apply_invoice_state(
    purchases: DataFrame, evict_after_ms: int | None = None
) -> DataFrame:
    """W2 — the legacy-exact stateful aggregation. Input: good purchase
    rows with ``ts`` (pipeline.good_purchases). Output mode: update.

    evict_after_ms approximates the reference's drop-quiet-keys behavior
    with a processing-time timeout; None keeps state indefinitely.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if evict_after_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return purchases.groupBy("InvoiceNo").applyInPandasWithState(
        _make_updater(evict_after_ms),
        outputStructType=INVOICE_STATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def _make_processor(evict_after_ms: int | None):
    """Build the state-v2 processor as a SELF-CONTAINED dynamic class
    (cloudpickled by value, like the fold it calls — see _make_fold).
    Only pyspark/pandas (always on the worker path) are imported."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    fold = _make_fold()

    class InvoiceStateProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "invoice", _STATE_SCHEMA, evict_after_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            new, row = fold(
                key[0], rows, self._state.get(),
                timer_values.getCurrentProcessingTimeInMs(),
            )
            if new is not None:
                self._state.update(new)
                yield row

    return InvoiceStateProcessor()


def _transform_with_state(
    purchases: DataFrame, processor, output_schema, time_mode: str
) -> DataFrame:
    """The one state-v2 entry: ``groupBy("InvoiceNo")
    .transformWithStateInPandas`` in update mode, with the wire set up
    first. The v2 state-server protocol speaks protobuf between the JVM
    and its Python workers. A real ``protobuf`` package is used when
    installed; otherwise the in-repo miniproto shim
    (vendor/protobuf_shim — a from-scratch implementation of the public
    proto3 wire format) is installed on the driver and shipped to the
    Python workers via addPyFile, so state-v2 executes even in
    environments without the dependency. If neither can be set up this
    raises immediately (clear error beats a mid-query worker crash),
    and apply_invoice_state remains the value-state fallback."""
    try:
        from bigdata_invoice_stream_analysis_spark.vendor.protobuf_shim import (
            ensure_on_workers,
            install,
        )

        install()
        ensure_on_workers(purchases.sparkSession)
    except Exception as e:  # pragma: no cover - defensive
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's state-v2 wire protocol) and the in-repo miniproto "
            "shim could not be installed; use apply_invoice_state "
            "on environments without it"
        ) from e
    return purchases.groupBy("InvoiceNo").transformWithStateInPandas(
        processor,
        outputStructType=output_schema,
        outputMode="update",
        timeMode=time_mode,
    )


def _make_timer_processor():
    """State-v2 TIMER processor (registerTimer + handleExpiredTimer) as
    a self-contained dynamic class (same cloudpickle-by-value rule as
    _make_processor). Semantics, all measured (scripts r5 experiment):
    a timer registered at currentProcessingTimeInMs − 1 is already
    expired, and the engine evaluates expired timers WITHIN the same
    micro-batch AFTER input rows — so each data batch that touches a
    key fires exactly one timer callback for it; fired timers are
    auto-deleted (never re-fire). That makes the timer surface fully
    deterministic: per key, fires == number of data micro-batches, and
    the LAST fire emits the completed running totals."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class InvoiceTimerProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._handle = handle
            self._state = handle.getValueState(
                "totals", "n_rows long, qty_sum long, fires int"
            )

        def handleInputRows(self, key, rows, timer_values):
            n_rows, qty_sum, fires = self._state.get() or (0, 0, 0)
            saw = False
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                saw = True
                n_rows += len(pdf)
                qty_sum += int(sum(int(q) for q in pdf["Quantity"]))
            if not saw:
                return
            self._state.update((n_rows, qty_sum, fires))
            # Already-expired: fires later THIS batch, after all input.
            self._handle.registerTimer(
                timer_values.getCurrentProcessingTimeInMs() - 1
            )
            return
            yield  # pragma: no cover - generator form, emits nothing

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            n_rows, qty_sum, fires = self._state.get() or (0, 0, 0)
            fires += 1
            self._state.update((n_rows, qty_sum, fires))
            yield pd.DataFrame(
                {
                    "InvoiceNo": [key[0]],
                    "n_rows": [n_rows],
                    "qty_sum": [qty_sum],
                    "n_fires": [fires],
                }
            )

    return InvoiceTimerProcessor()


def transform_invoice_timers(purchases: DataFrame) -> DataFrame:
    """W2 on state-v2 TIMERS: keyed running totals where every output
    row is emitted by handleExpiredTimer, not by input processing —
    the register/fire/auto-delete lifecycle is the operator. Input
    batches only update state and arm an already-expired processing-
    time timer; the engine's same-batch timer evaluation then emits
    the snapshot. Requires timeMode="ProcessingTime" (so the drain
    must be stopped from the driver — see ``stop_after_files`` in
    plans/drains.run_custom_state_drain) and the RocksDB provider."""
    return _transform_with_state(
        purchases,
        _make_timer_processor(),
        "InvoiceNo string, n_rows long, qty_sum long, n_fires int",
        "ProcessingTime",
    )


def _make_list_map_processor():
    """State-v2 LIST + MAP state processor (self-contained dynamic
    class, cloudpickle-by-value — same rule as _make_processor). Per
    invoice key it keeps BOTH remaining typed-state kinds the v2 API
    offers beyond value state:

      * ListState "batch_qty": one entry per data micro-batch — that
        batch's integer quantity subtotal, appended in arrival order
        (the staged buckets' mtime order), so a position-weighted
        checksum over the list proves the ENGINE preserved list order
        across batches;
      * MapState "band_rows": row counts keyed by the line's integer
        quantity band (abs(qty) % 4) — containsKey/getValue/
        updateValue per band, order-independent checksum.

    Emitted per data batch (update mode; last emission wins): the list
    length, the 1-indexed position-weighted sum Σ i·qty_i, the map
    size, and Σ band·count."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class InvoiceListMapProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._list = handle.getListState("batch_qty", "qty long")
            self._map = handle.getMapState(
                "band_rows", "band int", "cnt long"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            batch_qty = 0
            band_counts: dict[int, int] = {}
            saw = False
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                saw = True
                for q in pdf["Quantity"]:
                    qi = int(q)
                    batch_qty += qi
                    band = abs(qi) % 4  # abs: Python % floors,
                    band_counts[band] = band_counts.get(band, 0) + 1
                    # SQL % truncates — they agree only on non-negatives
            if not saw:
                return
            self._list.appendValue((batch_qty,))
            for band, cnt in band_counts.items():
                prev = (
                    self._map.getValue((band,))
                    if self._map.containsKey((band,))
                    else None
                )
                self._map.updateValue(
                    (band,), ((prev[0] if prev else 0) + cnt,)
                )
            qtys = [t[0] for t in self._list.get()]
            bands = [(k[0], v[0]) for k, v in self._map.iterator()]
            yield pd.DataFrame(
                {
                    "InvoiceNo": [key[0]],
                    "n_batches": [len(qtys)],
                    "weighted_qty": [
                        sum((i + 1) * q for i, q in enumerate(qtys))
                    ],
                    "n_bands": [len(bands)],
                    "band_checksum": [sum(b * c for b, c in bands)],
                }
            )

    return InvoiceListMapProcessor()


def transform_invoice_list_map(purchases: DataFrame) -> DataFrame:
    """W2 on state-v2 LIST and MAP state — the two composable typed
    state kinds beyond value state (getListState / getMapState), which
    the v1 applyInPandasWithState API cannot express without manual
    encoding into one struct. timeMode stays "None" (no TTL, no
    timers), so the plain availableNow drain terminates."""
    return _transform_with_state(
        purchases,
        _make_list_map_processor(),
        "InvoiceNo string, n_batches int, weighted_qty long, "
        "n_bands int, band_checksum long",
        "None",
    )


def transform_invoice_state(
    purchases: DataFrame, evict_after_ms: int | None = None
) -> DataFrame:
    """W2 on the transformWithState (state v2) API — Spark 4's
    successor to applyInPandasWithState, with identical semantics to
    apply_invoice_state. What the new API buys at scale: typed named
    state slots with engine-managed per-value TTL (``evict_after_ms``
    maps to ttlDurationMs — no hand-rolled timeout dance), composable
    List/Map state for richer operators, and first-class timers.
    Requires the RocksDB state store provider. timeMode is
    "ProcessingTime" only when TTL is requested (TTL requires it) and
    "None" otherwise — NOT harmless to leave on: with ProcessingTime
    the engine keeps scheduling timer-evaluation micro-batches, so an
    availableNow drain never terminates (measured: 267 empty batches
    before timeout). Without the protobuf package the wire is served by
    the in-repo miniproto shim (see _transform_with_state)."""
    return _transform_with_state(
        purchases,
        _make_processor(evict_after_ms),
        INVOICE_STATE_SCHEMA,
        "ProcessingTime" if evict_after_ms is not None else "None",
    )
