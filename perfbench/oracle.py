"""Correctness checks: the program's outputs against a DuckDB
computation over the very lines the benchmark generated.

Each check returns a list of failure descriptions (empty = correct);
every failure counts as one failed operation in the run's result.

The routing predicates and feature formulas are written out here in
SQL, independently of the program's Spark expressions.
"""

from __future__ import annotations

import glob
import os

import duckdb

_FIELDS = "string_split(value, ',')"
INVALID = (
    f"(len({_FIELDS}) != 8 OR list_contains({_FIELDS}, '')"
    f" OR (len({_FIELDS}) = 8 AND ("
    f"NOT regexp_matches({_FIELDS}[4], '^-?\\d+$')"
    f" OR NOT regexp_matches({_FIELDS}[6], '^-?\\d+(\\.\\d+)?$'))))"
)
CANCELLED = f"starts_with({_FIELDS}[1], 'C')"
EVENT_TS = f"try_strptime({_FIELDS}[5], '%m/%d/%Y %H:%M')"

# Invoices whose squared distance lies this close (relative) to the
# threshold may flip either way under float summation order.
DIST_RTOL = 1e-9
# train_threshold and this oracle sum features in different orders.
THRESHOLD_RTOL = 1e-6
# BisectingKMeans assigns a row by descending its cluster tree, which can
# pick a leaf other than the nearest one, so its threshold (distance to
# the assigned leaf) is bounded below by the nearest-leaf oracle and may
# exceed it by at most this share.
BISECT_THRESHOLD_SLACK = 0.02


def connect() -> duckdb.DuckDBPyConnection:
    return duckdb.connect()


def load_fed_lines(con, chunk_files: list[str]) -> None:
    """Table ``fed(file, value)``: every line of the given chunk files."""
    con.execute("CREATE OR REPLACE TABLE fed (file VARCHAR, value VARCHAR)")
    if not chunk_files:
        return
    con.execute(
        """INSERT INTO fed
           SELECT parse_filename(filename), unnest(string_split(rtrim(content, chr(10)), chr(10)))
           FROM read_text(?)""",
        [chunk_files],
    )


def batch_sink_files(sink_dir: str, committed: set[int]) -> list[str]:
    """Data files of the committed batches of a batch_id-partitioned sink."""
    out = []
    for d in glob.glob(os.path.join(sink_dir, "batch_id=*")):
        if int(d.rsplit("=", 1)[1]) in committed:
            out.extend(glob.glob(os.path.join(d, "*.parquet")))
    return sorted(out)


def check_invalid(con, files: list[str]) -> list[str]:
    """The invalid sink (its committed ``files``) holds exactly the
    invalid lines, as a multiset."""
    got = "SELECT value FROM read_parquet(?)" if files else "SELECT NULL::VARCHAR AS value WHERE false"
    params = [files] if files else []
    diff = con.execute(
        f"""SELECT count(*) FROM (
              (SELECT value FROM fed WHERE {INVALID} EXCEPT ALL {got})
              UNION ALL
              ({got} EXCEPT ALL SELECT value FROM fed WHERE {INVALID}))""",
        params + params,
    ).fetchone()[0]
    n = con.execute(f"SELECT count(*) FROM fed WHERE {INVALID}").fetchone()[0]
    return [] if diff == 0 else [f"invalid sink differs from oracle on {diff} of {n} lines"]


def cancellation_windows(con, window_min: int = 8, slide_min: int = 1) -> None:
    """Table ``cancel_oracle(start_ms, end_ms, n)``: distinct cancelled
    invoices per sliding event-time window."""
    con.execute(
        f"""CREATE OR REPLACE TABLE cancel_oracle AS
            WITH c AS (
              SELECT {_FIELDS}[1] AS inv, {EVENT_TS} AS ts FROM fed
              WHERE NOT {INVALID} AND {CANCELLED} AND {EVENT_TS} IS NOT NULL),
            w AS (
              SELECT inv, time_bucket(INTERVAL {slide_min} MINUTE, ts)
                       - k * INTERVAL {slide_min} MINUTE AS ws
              FROM c, range(0, {window_min // slide_min}) r(k))
            SELECT epoch_ms(ws) AS start_ms,
                   epoch_ms(ws + INTERVAL {window_min} MINUTE) AS end_ms,
                   count(DISTINCT inv) AS n
            FROM w GROUP BY ws"""
    )


def check_cancellations(con, files: list[str], watermark_ms: int) -> list[str]:
    """Every window closed by the final watermark (end <= watermark) is
    emitted once with the oracle's count, and no open window is."""
    cancellation_windows(con)
    if files:
        con.execute(
            """CREATE OR REPLACE TABLE cancel_got AS
               SELECT epoch_ms(window_start) AS start_ms, epoch_ms(window_end) AS end_ms,
                      n_cancelled AS n FROM read_parquet(?)""",
            [files],
        )
    else:
        con.execute("CREATE OR REPLACE TABLE cancel_got (start_ms BIGINT, end_ms BIGINT, n BIGINT)")
    fails = []
    dup = con.execute(
        "SELECT count(*) FROM (SELECT start_ms FROM cancel_got GROUP BY start_ms HAVING count(*) > 1)"
    ).fetchone()[0]
    if dup:
        fails.append(f"{dup} cancellation windows emitted more than once")
    diff = con.execute(
        """SELECT count(*) FROM (
             (SELECT start_ms, end_ms, n FROM cancel_oracle WHERE end_ms <= ?
              EXCEPT SELECT start_ms, end_ms, n FROM cancel_got)
             UNION ALL
             (SELECT start_ms, end_ms, n FROM cancel_got
              EXCEPT SELECT start_ms, end_ms, n FROM cancel_oracle WHERE end_ms <= ?))""",
        [watermark_ms, watermark_ms],
    ).fetchone()[0]
    if diff:
        fails.append(f"{diff} cancellation windows differ from oracle (watermark {watermark_ms})")
    return fails


def stream_features(con) -> None:
    """Table ``feat(inv, f1..f5)``: each good invoice's final streaming
    feature row (quantity-weighted mean price, min, max, mean
    fractional hour, items)."""
    con.execute(
        f"""CREATE OR REPLACE TABLE feat AS
            WITH g AS (
              SELECT {_FIELDS}[1] AS inv, CAST({_FIELDS}[4] AS INT) AS q,
                     CAST({_FIELDS}[6] AS DOUBLE) AS p, {EVENT_TS} AS ts
              FROM fed WHERE NOT {INVALID} AND NOT {CANCELLED})
            SELECT inv, sum(p * q) / sum(q) AS f1, min(p) AS f2, max(p) AS f3,
                   avg(hour(ts) + minute(ts) / 60.0) AS f4,
                   CAST(sum(q) AS DOUBLE) AS f5
            FROM g GROUP BY inv"""
    )


def _dist_sql(centers: list[list[float]]) -> str:
    terms = []
    for c in centers:
        parts = [f"(f{i + 1} - {float(v)!r}) * (f{i + 1} - {float(v)!r})" for i, v in enumerate(c)]
        terms.append("(" + " + ".join(parts) + ")")
    return "least(" + ", ".join(terms) + ")" if len(terms) > 1 else terms[0]


def expected_flags(con, centers: list[list[float]], threshold: float) -> tuple[set[str], set[str]]:
    """(flagged invoices, borderline invoices) under one model, from ``feat``."""
    rows = con.execute(f"SELECT inv, {_dist_sql(centers)} AS d FROM feat").fetchall()
    tol = abs(threshold) * DIST_RTOL
    flagged = {inv for inv, d in rows if d is not None and d > threshold + tol}
    border = {inv for inv, d in rows if d is not None and abs(d - threshold) <= tol}
    return flagged, border


def last_batches(con, file_batch: dict[str, int]) -> dict[str, int]:
    """Invoice → id of the batch that read its last good line."""
    con.execute("CREATE OR REPLACE TABLE fb (file VARCHAR, batch BIGINT)")
    con.executemany("INSERT INTO fb VALUES (?, ?)", list(file_batch.items()))
    rows = con.execute(
        f"""SELECT {_FIELDS}[1] AS inv, max(batch) FROM fed JOIN fb USING (file)
            WHERE NOT {INVALID} AND NOT {CANCELLED} GROUP BY inv"""
    ).fetchall()
    return dict(rows)


def check_anomalies(
    con, files: list[str], file_batch: dict[str, int], centers: list[list[float]],
    threshold: float,
) -> tuple[list[str], int]:
    """The set of invoices flagged on their last update equals the
    oracle's flagged set (borderline invoices excepted). ``files`` are
    the sink's committed batch_id=N files, ``file_batch`` maps each
    input chunk to the committed batch that read it. Returns
    (failures, rows written)."""
    flagged, border = expected_flags(con, centers, threshold)
    last = last_batches(con, file_batch)
    rows = []
    if files:
        rows = con.execute(
            "SELECT InvoiceNo, batch_id FROM read_parquet(?, hive_partitioning = true)", [files]
        ).fetchall()
    final_batch: dict[str, int] = {}
    for inv, b in rows:
        final_batch[inv] = max(int(b), final_batch.get(inv, -1))
    got = {inv for inv, b in final_batch.items() if last.get(inv) == b}
    diff = (got ^ flagged) - border
    fails = [] if not diff else [
        f"{len(diff)} invoices flagged differently from oracle (e.g. {sorted(diff)[:3]})"
    ]
    return fails, len(rows)


def train_features(con, purchases_path: str) -> None:
    """Table ``tfeat(inv, f1..f5)``: the training feature rows (row-mean
    price, min, max, mean fractional hour, items) after the training
    validity filter."""
    con.execute(
        f"""CREATE OR REPLACE TABLE tfeat AS
            WITH g AS (
              SELECT InvoiceNo AS inv, avg(UnitPrice) AS f1, min(UnitPrice) AS f2,
                     max(UnitPrice) AS f3,
                     avg(hour(strptime(InvoiceDate, '%m/%d/%Y %H:%M'))
                         + minute(strptime(InvoiceDate, '%m/%d/%Y %H:%M')) / 60.0) AS f4,
                     CAST(sum(Quantity) AS DOUBLE) AS f5,
                     max(CASE WHEN CustomerID IS NULL OR trim(CustomerID) = '' THEN 0 ELSE 1 END) AS cust
              FROM read_parquet('{purchases_path}')
              WHERE NOT starts_with(InvoiceNo, 'C')
              GROUP BY InvoiceNo)
            SELECT inv, f1, f2, f3, f4, f5 FROM g
            WHERE cust = 1 AND f1 > 0 AND f2 > 0 AND f3 > 0 AND f5 > 0 AND f4 BETWEEN 0 AND 24"""
    )


def kth_largest_dist(con, centers: list[list[float]], rank: int) -> float:
    row = con.execute(
        f"""SELECT min(d) FROM (SELECT {_dist_sql(centers)} AS d FROM tfeat
            ORDER BY d DESC LIMIT {int(rank)})"""
    ).fetchone()
    return float(row[0])


def check_training(
    con, purchases_path: str, n_features: int, results: dict, centers: dict, rank: int,
) -> list[str]:
    """Feature count, chosen k (one of the sweep's, with as many centers)
    and threshold per algorithm."""
    train_features(con, purchases_path)
    fails = []
    n = con.execute("SELECT count(*) FROM tfeat").fetchone()[0]
    if n != n_features:
        fails.append(f"feature rows {n_features} != oracle {n}")
    for algo, res in results.items():
        if res["k"] != len(centers[algo]):
            fails.append(f"{algo}: chose k={res['k']} but the model has {len(centers[algo])} centers")
        want = kth_largest_dist(con, centers[algo], rank)
        lo, hi = want * (1 - THRESHOLD_RTOL), want * (1 + THRESHOLD_RTOL)
        if algo == "bisecting":
            hi = want * (1 + BISECT_THRESHOLD_SLACK)
        if not lo <= res["threshold"] <= hi:
            fails.append(f"{algo}: threshold {res['threshold']!r} outside oracle [{lo!r}, {hi!r}]")
    return fails
