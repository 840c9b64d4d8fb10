"""Input generation for the invoice-pipeline benchmark.

The raw purchase lines are synthesized with DuckDB straight from the
TPC-H-shaped parquet tables (lineitem ⋈ orders), with the same 8-field
shape and the same deterministic dirt as the program's own line
synthesis: CustomerID empty when orderkey % 97 = 0, Quantity "x" when
% 89 = 0, a ninth field when % 83 = 0, and a "C" prefix on the
invoice number of finished orders (the cancellations). The SQL lives
here, not in the program, so inputs and set-up time do not move when
the program's staging code changes.

The seed drives two things only:
  * delivery order — lines are sorted by event time plus a seeded
    jitter in [0, MAX_DISORDER_S), so arrival is out of event-time order
    but always inside the pipeline's 10-minute watermark;
  * chunk boundaries — seeded chunk sizes around a target mean.

Chunks are written as hidden temp files and renamed into place (an
atomic publish for the file source), with strictly increasing mtimes.
"""

from __future__ import annotations

import os
import random

import duckdb

MAX_DISORDER_S = 540  # 9 minutes: strictly inside the 10-minute watermark

# The project's shared sf0.1 test tables (TESTDATA.md); PERFBENCH_SF_DIR
# points elsewhere.
DEFAULT_SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")


def sf_dir() -> str:
    return os.environ.get("PERFBENCH_SF_DIR", DEFAULT_SF_DIR)

_PURCHASE_SQL = """
SELECT
  l.l_orderkey AS line_order,
  l.l_linenumber AS line_no,
  CASE WHEN o.o_orderstatus = 'F'
       THEN 'C' || CAST(l.l_orderkey AS VARCHAR)
       ELSE CAST(l.l_orderkey AS VARCHAR) END AS invoice_no,
  CAST(l.l_partkey AS VARCHAR) AS stock_code,
  CAST(l.l_quantity AS INT) AS quantity,
  o.o_orderdate + (o.o_orderkey % 1440) * INTERVAL 1 MINUTE AS event_ts,
  l.l_extendedprice AS ext_price,
  CASE WHEN l.l_orderkey % 97 = 0 THEN ''
       ELSE CAST(o.o_custkey AS VARCHAR) END AS customer_id
FROM read_parquet('{sf}/lineitem.parquet') l
JOIN read_parquet('{sf}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
"""

_LINES_SQL = """
WITH p AS ({purchase}),
b AS (
  SELECT line_order, line_no, invoice_no, event_ts,
    concat_ws(',', invoice_no, stock_code, 'item',
      CASE WHEN line_order % 89 = 0 THEN 'x' ELSE CAST(quantity AS VARCHAR) END,
      strftime(event_ts, '%m/%d/%Y %H:%M'),
      printf('%d.%02d', CAST(ROUND(ext_price * 100) AS BIGINT) // 100,
             CAST(ROUND(ext_price * 100) AS BIGINT) % 100),
      customer_id, 'ES') AS base,
    hash(line_order, line_no, {seed}::BIGINT) AS h
  FROM p
)
SELECT CASE WHEN line_order % 83 = 0 THEN base || ',extra' ELSE base END AS value
FROM b
ORDER BY epoch(event_ts) + h % {disorder}, h, line_order, line_no
"""


def generate_lines(sf_dir: str, seed: int, limit: int | None = None, offset: int = 0) -> list[str]:
    """All raw lines of ``sf_dir`` in seeded delivery order (or ``limit``
    of them, starting at position ``offset``)."""
    sql = _LINES_SQL.format(
        purchase=_PURCHASE_SQL.format(sf=sf_dir), seed=int(seed),
        disorder=MAX_DISORDER_S,
    )
    if limit is not None:
        sql += f" LIMIT {int(limit)}"
    if offset:
        sql += f" OFFSET {int(offset)}"
    con = duckdb.connect()
    try:
        return [r[0] for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def count_lines(sf_dir: str) -> int:
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT count(*) FROM read_parquet('{sf_dir}/lineitem.parquet')").fetchone()[0]
    finally:
        con.close()


def chunk_sizes(n_lines: int, n_chunks: int, seed: int, spread: float = 0.5) -> list[int]:
    """Seeded chunk sizes summing to ``n_lines``: each size is the mean
    scaled by a factor drawn from [1 - spread, 1 + spread]."""
    if n_chunks < 1 or n_lines < n_chunks:
        raise ValueError(f"cannot cut {n_lines} lines into {n_chunks} chunks")
    rng = random.Random(seed)
    weights = [rng.uniform(1 - spread, 1 + spread) for _ in range(n_chunks)]
    total = sum(weights)
    cuts = [0]
    acc = 0.0
    for w in weights[:-1]:
        acc += w
        cuts.append(round(acc / total * n_lines))
    cuts.append(n_lines)
    # keep every chunk non-empty even where rounding collides
    for i in range(1, len(cuts) - 1):
        cuts[i] = min(max(cuts[i], cuts[i - 1] + 1), n_lines - (len(cuts) - 1 - i))
    return [b - a for a, b in zip(cuts, cuts[1:])]


def cut_chunks(lines: list[str], n_chunks: int, seed: int) -> list[list[str]]:
    """Cut ``lines`` into ``n_chunks`` consecutive chunks with seeded sizes."""
    out, pos = [], 0
    for size in chunk_sizes(len(lines), n_chunks, seed):
        out.append(lines[pos:pos + size])
        pos += size
    return out


def chunk_name(i: int) -> str:
    return f"chunk-{i:06d}.txt"


def write_chunk(directory: str, name: str, lines: list[str], mtime_ns: int) -> str:
    """Write one chunk atomically: hidden temp file (ignored by the file
    source), mtime set, then rename into place."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.utime(tmp, ns=(mtime_ns, mtime_ns))
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final


def stage_chunks(
    directory: str, chunks: list[list[str]], base_mtime_ns: int, step_ns: int = 1_000_000
) -> list[str]:
    """Write all ``chunks`` into ``directory`` with mtimes strictly
    increasing in chunk order (so the file source reads them in order)."""
    os.makedirs(directory, exist_ok=True)
    return [
        write_chunk(directory, chunk_name(i), c, base_mtime_ns + i * step_ns)
        for i, c in enumerate(chunks)
    ]
