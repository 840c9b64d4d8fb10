#!/usr/bin/env python3
"""One-off live_feed rate sweep: a traced live_feed run per rate, then a
table of p50/p90 latency, throughput and end backlog per rate.

Usage (from the repository root):
  python3 perfbench/rate_sweep.py [--seed N] [--seconds S] RATE [RATE ...]

A rate is sustainable when the run ends with sources.backlog_files_end
= 0 (every chunk in every result sink within 15 s of its due time).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one(rate: int, seed: int, seconds: int) -> int:
    sys.path.insert(0, HERE)
    import run as R
    import workloads as W

    W.LIVE_RATE = rate
    return R.main(["--workload", "live_feed", "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", "1"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--one", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("rates", type=int, nargs="+")
    args = ap.parse_args()
    if args.one:
        return one(args.rates[0], args.seed, args.seconds)
    rows = []
    for rate in args.rates:
        proc = subprocess.run(
            [sys.executable, __file__, "--one", "--seed", str(args.seed),
             "--seconds", str(args.seconds), str(rate)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or not lines:
            rows.append((rate, None))
            continue
        vals = {ln.split()[0]: ln.split()[1] for ln in lines[:-1] if len(ln.split()) >= 2}
        rows.append((rate, vals, json.loads(lines[-1])))
    print("rate_lines_per_s p50_ms p90_ms lines_per_s backlog_files_max backlog_files_end failed")
    for row in rows:
        if row[1] is None:
            print(f"{row[0]} run failed")
            continue
        rate, vals, res = row
        print(rate, vals.get("result_latency_p50_ms"), vals.get("result_latency_p90_ms"),
              vals.get("lines_per_s"), vals.get("sources.backlog_files_max"),
              vals.get("sources.backlog_files_end"), res["failed"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
