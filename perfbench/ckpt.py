"""Read latency facts from streaming checkpoints, and the percentile rule.

Every streaming query keeps a checkpoint directory; three of its logs
give the latency of each input chunk without any tracing in the run:

  sources/0/N[.compact]  file-source log: one JSON entry per input file,
                         with the batch id that read it
  commits/N              written when batch N is committed; its mtime
                         is the commit time
  offsets/N              batch N's write-ahead entry; line 2 carries the
                         batch watermark

A chunk's result latency is measured from the moment it was due (its
scheduled drop time) to the commit of the first batch that contains it,
taken in the slowest of the sinks that must show it.
"""

from __future__ import annotations

import json
import math
import os


def _log_entries(log_dir: str) -> list[tuple[int, list[str]]]:
    """(batch id, payload lines) for every entry of a metadata log,
    skipping the version header and hidden temp files."""
    out = []
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        out.append((int(stem), lines[1:]))
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """Input file basename → id of the batch that read it, from the
    file-source log (plain and compacted entries alike), for committed
    batches only (a batch is logged here before it runs)."""
    committed = commit_times(ckpt)
    out: dict[str, int] = {}
    for _, lines in _log_entries(os.path.join(ckpt, "sources", "0")):
        for line in lines:
            if not line.strip():
                continue
            entry = json.loads(line)
            if int(entry["batchId"]) in committed:
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def sink_log_files(sink_dir: str) -> list[str]:
    """Data files the file sink committed, from its _spark_metadata log
    (files of an interrupted batch are on disk but not in the log)."""
    out = []
    for _, lines in _log_entries(os.path.join(sink_dir, "_spark_metadata")):
        for line in lines:
            if line.strip():
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    out.append(entry["path"].removeprefix("file://"))
    return sorted(set(out))


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id → commit time (epoch seconds, the mtime of commits/N)."""
    d = os.path.join(ckpt, "commits")
    out: dict[int, float] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def last_committed_watermark(ckpt: str) -> int:
    """The event-time watermark (epoch ms) of the last committed batch."""
    committed = commit_times(ckpt)
    wm = batch_watermarks(ckpt)
    return wm[max(committed)] if committed else 0


def batch_watermarks(ckpt: str) -> dict[int, int]:
    """Batch id → the event-time watermark (epoch ms) the batch ran with."""
    out: dict[int, int] = {}
    for bid, lines in _log_entries(os.path.join(ckpt, "offsets")):
        if lines:
            out[bid] = int(json.loads(lines[0]).get("batchWatermarkMs", 0))
    return out


def chunk_commits(files: dict[str, int], commits: dict[int, float]) -> dict[str, float]:
    """Join one query's file → batch map with its commit times: file
    basename → commit time of the batch that read it (uncommitted
    batches are left out)."""
    return {f: commits[b] for f, b in files.items() if b in commits}


def result_times(per_sink: list[dict[str, float]], chunks: list[str]) -> list[float | None]:
    """For each chunk, the time its result was in EVERY sink (the last
    of the per-sink commit times), or None if some sink never committed
    it."""
    out: list[float | None] = []
    for c in chunks:
        times = [s.get(c) for s in per_sink]
        out.append(None if any(t is None for t in times) else max(times))
    return out


def latencies_ms(due: list[float], done: list[float | None]) -> list[float]:
    """Due-to-result latency in ms of every chunk that has a result."""
    return [(d1 - d0) * 1000.0 for d0, d1 in zip(due, done) if d1 is not None]


def quantile(samples: list[float], p: float) -> float:
    """The p-th percentile (0 < p < 100) by linear interpolation between
    closest ranks (Python's statistics.quantiles, 'inclusive' method)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


CANDIDATE_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest candidate percentile that leaves at least
    ``min_beyond`` of ``n`` samples beyond it, or None if even the
    median does not."""
    best = None
    for p in CANDIDATE_PERCENTILES:
        if n * (1.0 - p / 100.0) >= min_beyond - 1e-9:
            best = p
    return best


def backlog_series(drops: list[float], done: list[float | None]) -> list[int]:
    """Backlog (chunks dropped but not yet in every sink) seen right
    after each drop."""
    finished = sorted(t for t in done if t is not None)
    out, j = [], 0
    for i, t in enumerate(drops):
        while j < len(finished) and finished[j] <= t:
            j += 1
        out.append(i + 1 - j)
    return out
