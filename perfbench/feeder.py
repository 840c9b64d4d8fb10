"""Open-loop chunk feeder for the live_feed workload.

Runs as its own single-threaded process, separate from the pipeline it
feeds. Chunk i is due at ``start + i * interval``; at its due time the
feeder renames the pre-staged chunk file into the source directory (an
atomic publish) with an mtime strictly above the previous chunk's. The
schedule never waits for the pipeline: if the pipeline falls behind,
the backlog grows.

Usage:
  python3 feeder.py STAGED_DIR SOURCE_DIR START_EPOCH INTERVAL_S N OUT_JSON

Writes OUT_JSON = {"due": [...], "dropped": [...]} (epoch seconds per
chunk) when done.
"""

from __future__ import annotations

import json
import os
import sys
import time

from gen import chunk_name


def feed(staged: str, source: str, start: float, interval: float, n: int) -> dict:
    due, dropped = [], []
    last_ns = 0
    for i in range(n):
        t_due = start + i * interval
        wait = t_due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = chunk_name(i)
        now_ns = time.time_ns()
        mtime_ns = max(now_ns, last_ns + 1_000_000)
        src = os.path.join(staged, name)
        os.utime(src, ns=(mtime_ns, mtime_ns))
        os.rename(src, os.path.join(source, name))
        last_ns = mtime_ns
        due.append(t_due)
        dropped.append(time.time())
    return {"due": due, "dropped": dropped}


def main(argv: list[str]) -> int:
    if len(argv) != 7:
        print(__doc__, file=sys.stderr)
        return 2
    staged, source, start, interval, n, out = argv[1:]
    record = feed(staged, source, float(start), float(interval), int(n))
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.rename(tmp, out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
