"""Unit tests of the benchmark's own arithmetic: the tail-percentile rule,
file-to-micro-batch latency attribution, end-of-window lag, span self
time, the event-log reader, and BENCHMARK.json agreeing with the code.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import spans  # noqa: E402
import stats  # noqa: E402


@pytest.mark.parametrize(
    "n,p",
    [(1, 50.0), (19, 50.0), (20, 50.0), (26, 61.5), (39, 74.3), (40, 75.0), (52, 80.7),
     (100, 90.0), (199, 94.9), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if n >= 20:
        assert stats.samples_beyond(n, p) >= 10
        assert stats.samples_beyond(n, p + 0.1) < 10


def test_latency_summary_reports_percentile_and_count():
    lat = [float(i) for i in range(1, 101)]  # 1..100
    s = stats.latency_summary(lat)
    assert s["samples"] == 100 and s["tail_percentile"] == 90.0
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail"] == pytest.approx(90.1)
    assert sum(1 for x in lat if x > s["tail"]) >= 10


def test_small_samples_fall_back_to_median():
    s = stats.latency_summary([3.0, 1.0, 2.0])
    assert s["tail_percentile"] == 50.0 and s["tail"] == s["p50"] == 2.0


def test_files_attributed_to_first_covering_batch():
    # files of 100, 50, 50, 100 rows; batches read 150, 0, 120, 30 rows
    files = [100, 50, 50, 100]
    batches = [(10.0, 150), (11.0, 0), (12.0, 120), (13.0, 30)]
    # cumulative files 100,150,200,300; cumulative batches 150,150,270,300
    assert stats.attribute_files_to_batches(files, batches) == [10.0, 10.0, 12.0, 13.0]


def test_uncovered_files_have_no_commit():
    assert stats.attribute_files_to_batches([10, 10], [(1.0, 10)]) == [1.0, None]
    assert stats.attribute_files_to_batches([5], []) == [None]


def test_lag_on_synthetic_timeline():
    scheduled = [0.0, 1.0, 2.0, 3.0]
    committed = [0.5, 2.5, 2.5, None]
    assert stats.lag_at(0.2, scheduled, committed) == pytest.approx(0.2)
    assert stats.lag_at(0.7, scheduled, committed) == 0.0  # caught up
    assert stats.lag_at(2.2, scheduled, committed) == pytest.approx(1.2)  # file 1 oldest
    assert stats.lag_at(2.7, scheduled, committed) == 0.0
    assert stats.lag_at(4.0, scheduled, committed) == pytest.approx(1.0)  # file 3 never


def test_self_time_subtracts_children():
    sp = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps sibling
        {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
    ]
    st = spans.self_times(sp)
    assert st[1] == pytest.approx(10.0 - 5.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nesting_ops_and_wrapping():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    t = spans.Tracer(True)
    t.wrap(Mod, "f", "mod.f")
    with t.op(7), t.span("outer"):
        assert Mod.f(1) == 2
    t.unwrap_all()
    assert Mod.f(1) == 2 and len(t.spans) == 2
    inner, outer = t.spans
    assert inner["name"] == "mod.f" and inner["parent"] == outer["id"]
    assert inner["op"] == outer["op"] == 7
    off = spans.Tracer(False)
    off.wrap(Mod, "f", "mod.f")
    with off.span("x"):
        Mod.f(0)
    assert off.spans == [] and not hasattr(Mod.f, "__wrapped__")


def test_event_log_window(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1500},
        {"Event": "SparkListenerJobStart", "Submission Time": 500},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Finish Time": 1600},
         "Task Metrics": {"Executor Run Time": 40, "JVM GC Time": 4,
                          "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Finish Time": 2500},
         "Task Metrics": {"Executor Run Time": 1000}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    tot = spans.read_event_log(str(tmp_path), 1.0, 2.0)
    assert tot == {"tasks": 1, "jobs": 1, "run_ms": 40, "gc_ms": 4,
                   "shuffle_write_bytes": 100, "spill_bytes": 10}


def test_benchmark_json_matches_code():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.xfail(strict=True, reason="known program defect: tablog keeps timestamp "
                   "footer stats with a UTC offset that probe keys lack, so a probe "
                   "equal to a file's minimum prunes that file (perfbench/README.md)")
def test_timestamp_probe_equal_to_file_minimum_keeps_the_file(tmp_path):
    """Why ``medallion_refresh`` fails on some seeds and is not listed in
    BENCHMARK.json. When the program is fixed this test passes, and the
    strict xfail turns that into a failure to act on."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.dirname(BENCH))
    from gpu_telemetry_lakehouse_spark import tablog

    day = datetime(1970, 1, 2)
    f = str(tmp_path / "part.parquet")
    # Spark writes timestamps adjusted to UTC, which pyarrow reads as tz-aware
    pq.write_table(pa.table({"dt": pa.array([day, day + timedelta(days=1)],
                                            pa.timestamp("us", tz="UTC"))}), f)
    stat = tablog._file_stats(f, ["dt"])["dt"]
    assert tablog._overlaps(stat, day, day)
