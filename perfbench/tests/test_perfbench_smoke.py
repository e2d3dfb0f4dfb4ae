"""End-to-end runs of the benchmark on tiny inputs: every workload prints
every metric with its unit in both modes, a SIGTERM mid-run still tears
everything down, and a directory without the program fails fast.

Each test tags the benchmark's environment and afterwards scans /proc for
any process (JVM, ``pyspark.daemon`` worker, ...) that inherited the tag.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402


def _tagged(tag: str) -> list[int]:
    needle = f"PERFBENCH_TEST_TAG={tag}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            pass
    return out


def _env(tag: str) -> dict:
    return dict(os.environ, PERFBENCH_TEST_TAG=tag)


def _assert_no_survivors(tag: str) -> None:
    deadline = time.monotonic() + 5
    while _tagged(tag) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert _tagged(tag) == [], "benchmark left processes running"


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_prints_every_metric(workload, trace):
    tag = uuid.uuid4().hex
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, env=_env(tag), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    for k, v in last["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    if not trace:
        assert all(v["value"] > 0 for v in last["metrics"].values())
    report = json.loads(proc.stdout.strip().splitlines()[-2])["report"]
    assert report["samples"] >= 1 and report["tail_percentile"] >= 50
    assert set(report["versions"]) >= {"nproc", "spark", "java", "python", "commit"}
    if trace:
        with open(report["trace_file"]) as f:
            names = {s["name"] for s in json.load(f)}
        os.remove(report["trace_file"])
        assert "session.get_spark" in names
    _assert_no_survivors(tag)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp")) or not os.listdir(
        os.path.join(ROOT, ".perfbench_tmp"))


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_sigterm_mid_run_leaves_nothing_behind(workload):
    tag = uuid.uuid4().hex
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "4",
         "--seconds", "120", "--scale", "smoke"],
        cwd=ROOT, env=_env(tag), stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        for line in p.stderr:
            if "timed loop started" in line:
                break
        else:
            pytest.fail("benchmark never reached its timed loop")
        time.sleep(1.0)
        assert len(_tagged(tag)) >= 2  # the benchmark and at least its JVM
        p.send_signal(signal.SIGTERM)
        p.communicate(timeout=120)
    finally:
        if p.poll() is None:
            p.kill()
    assert p.returncode != 0
    _assert_no_survivors(tag)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp", f"run-{p.pid}"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lakehouse_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
