"""Tests for the benchmark's own logic (no Spark needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ckpt  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

SF_DIR = gen.sf_dir()


def _write_log(d: str, name: str, payload: list[dict]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("v1\n" + "".join(json.dumps(p) + "\n" for p in payload))


def _fake_checkpoint(root: str, batches: dict[int, list[str]], commits: dict[int, float]) -> str:
    """A checkpoint dir with a file-source log (batches 0..9 compacted into
    9.compact, the rest plain) and commit files with the given mtimes."""
    ck = os.path.join(root, "ck")
    src = os.path.join(ck, "sources", "0")
    compacted = [
        {"path": f"file:///in/{f}", "timestamp": 1, "batchId": b}
        for b, files in batches.items() if b <= 9 for f in files
    ]
    if compacted:
        _write_log(src, "9.compact", compacted)
    for b, files in batches.items():
        if b > 9:
            _write_log(src, str(b), [{"path": f"file:///in/{f}", "timestamp": 1, "batchId": b} for f in files])
    os.makedirs(os.path.join(ck, "commits"), exist_ok=True)
    for b, t in commits.items():
        p = os.path.join(ck, "commits", str(b))
        with open(p, "w") as f:
            f.write('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(p, ns=(int(t * 1e9), int(t * 1e9)))
    return ck


def test_chunks_join_batches_and_latency_runs_due_to_commit(tmp_path):
    ck = _fake_checkpoint(
        str(tmp_path),
        {0: ["c0", "c1"], 10: ["c2"], 11: ["c3"]},
        {0: 1000.5, 10: 1002.0},  # batch 11 logged but never committed
    )
    files = ckpt.file_batches(ck)
    assert files == {"c0": 0, "c1": 0, "c2": 10}
    per_query = ckpt.chunk_commits(files, ckpt.commit_times(ck))
    assert per_query["c0"] == pytest.approx(1000.5)
    # a second sink commits c0 later: the result counts when both have it
    other = {"c0": 1001.0, "c1": 1000.0, "c2": 1002.5, "c3": 1003.0}
    done = ckpt.result_times([per_query, other], ["c0", "c1", "c2", "c3"])
    assert done[:3] == [pytest.approx(1001.0), pytest.approx(1000.5), pytest.approx(1002.5)]
    assert done[3] is None
    lat = ckpt.latencies_ms([1000.0, 1000.1, 1000.2, 1000.3], done)
    assert lat == [pytest.approx(1000.0), pytest.approx(400.0), pytest.approx(2300.0)]


def test_backlog_after_each_drop():
    drops = [0.0, 1.0, 2.0, 3.0]
    done = [1.5, 1.5, 3.0, None]
    assert ckpt.backlog_series(drops, done) == [1, 2, 1, 1]


def test_tail_percentile_keeps_ten_samples_beyond():
    assert ckpt.tail_percentile(9) is None
    assert ckpt.tail_percentile(20) == 50.0
    assert ckpt.tail_percentile(99) == 75.0
    assert ckpt.tail_percentile(100) == 90.0
    assert ckpt.tail_percentile(199) == 90.0
    assert ckpt.tail_percentile(200) == 95.0
    assert ckpt.tail_percentile(1000) == 99.0
    assert ckpt.tail_percentile(10000) == 99.9


def test_quantile_matches_statistics_inclusive():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
    qs = statistics.quantiles(xs, n=4, method="inclusive")
    assert [ckpt.quantile(xs, p) for p in (25, 50, 75)] == pytest.approx(qs)
    assert ckpt.quantile([4.0], 90) == 4.0


def test_self_time_subtracts_merged_clipped_children():
    s = [
        spans.Span(1, "parent", 0.0, 10.0),
        spans.Span(2, "a", 1.0, 4.0, parent=1),
        spans.Span(3, "b", 3.0, 5.0, parent=1),    # overlaps a: union 1..5
        spans.Span(4, "c", 8.0, 12.0, parent=1),   # clipped to 8..10
        spans.Span(5, "a.child", 2.0, 3.0, parent=2),
    ]
    st = spans.self_times(s)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)
    by_name = spans.self_time_by_name(s + [spans.Span(6, "a", 20.0, 21.0)])
    assert by_name["a"] == pytest.approx(3.0)


def test_tracer_records_nested_spans():
    t = spans.Tracer()
    with t.span("outer", trace="x") as outer:
        with t.span("inner", parent=outer, trace="x"):
            pass
    names = {s.name: s for s in t.spans}
    assert names["inner"].parent == names["outer"].id
    assert names["outer"].start <= names["inner"].start <= names["inner"].end <= names["outer"].end


def test_batch_spans_lay_phases_inside_the_trigger():
    t = spans.Tracer()
    progress = {
        "batchId": 3, "timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 10,
        "durationMs": {"triggerExecution": 1000, "latestOffset": 100, "addBatch": 600,
                       "walCommit": 50, "commitOffsets": 50},
        "stateOperators": [{"numRowsTotal": 5, "numRowsUpdated": 2, "numRowsDroppedByWatermark": 0}],
    }
    sid = spans.batch_spans(t, "q", progress, ["chunk-000001.txt"])
    st = spans.self_times(t.spans)
    assert st[sid] == pytest.approx(0.2, abs=1e-6)
    assert all(s.trace == "chunk-000001.txt" for s in t.spans)


def test_chunk_sizes_cover_all_lines_and_follow_the_seed():
    a = gen.chunk_sizes(10_000, 37, seed=1)
    assert sum(a) == 10_000 and len(a) == 37 and min(a) > 0
    assert gen.chunk_sizes(10_000, 37, seed=1) == a
    assert gen.chunk_sizes(10_000, 37, seed=2) != a
    assert gen.chunk_sizes(40, 40, seed=3) == [1] * 40


def test_staged_chunks_have_increasing_mtimes(tmp_path):
    paths = gen.stage_chunks(str(tmp_path), [["a"], ["b", "c"], ["d"]], base_mtime_ns=10**18)
    mt = [os.stat(p).st_mtime_ns for p in paths]
    assert mt == sorted(mt) and len(set(mt)) == 3
    assert not [n for n in os.listdir(tmp_path) if n.startswith(".")]
    with open(paths[1]) as f:
        assert f.read() == "b\nc\n"


@pytest.mark.skipif(not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")),
                    reason="input tables not available")
def test_generator_is_deterministic_per_seed_and_differs_across_seeds():
    a = gen.generate_lines(SF_DIR, seed=7, limit=20_000)
    assert gen.generate_lines(SF_DIR, seed=7, limit=20_000) == a
    b = gen.generate_lines(SF_DIR, seed=8, limit=20_000)
    assert a != b
    assert gen.cut_chunks(a, 50, 7) != gen.cut_chunks(a, 50, 8)
    # 8-field shape with the deterministic dirt rules
    fields = [line.split(",") for line in a]
    assert {len(f) for f in fields} == {8, 9}
    assert any(f[3] == "x" for f in fields)
    assert any(f[0].startswith("C") for f in fields)


@pytest.mark.skipif(not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")),
                    reason="input tables not available")
def test_generator_disorder_stays_inside_the_watermark():
    from datetime import datetime

    lines = gen.generate_lines(SF_DIR, seed=3, limit=50_000)
    seen_max = None
    for line in lines:
        ts = datetime.strptime(line.split(",")[4], "%m/%d/%Y %H:%M").timestamp()
        if seen_max is not None:
            assert ts > seen_max - 600  # never behind the 10-minute watermark
        seen_max = ts if seen_max is None else max(seen_max, ts)


def test_benchmark_json_matches_what_the_runner_prints():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(run.W.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
