"""Seeded input generators for the benchmark workloads.

The registry queries run on the checked-in catalog tables under
``perfbench/data/`` (a copy of the fixed scale-factor 0.001/0.01/0.1
tables the program's tests use). What is generated here from ``--seed``
is the rest: the PAI-format CSVs the medallion flow ingests, its
late-telemetry batches, and the event files landed into the stream. The
same seed always yields the same rows; different seeds change the values
but not the sizes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# event types and value distribution of the catalog's ``events`` table
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _rng(seed: int, salt: str) -> np.random.Generator:
    """Independent stream per (seed, input) so adding an input never shifts
    the values of another."""
    return np.random.default_rng([seed, sum(map(ord, salt)) * 7919 + len(salt)])


def event_file(seed: int, i: int, n: int) -> pd.DataFrame:
    """The ``i``-th stream file: ``n`` events whose times advance five
    minutes per file with +-20 minutes of microsecond jitter, so rows are
    out of order but well inside the pipeline's two-hour watermark."""
    r = np.random.default_rng([seed, 7, i])
    base = np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(300 * i, "s")
    jitter = r.integers(-1_200_000_000, 1_200_000_000, n).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
        "ts": pd.to_datetime(base + jitter).tz_localize("UTC"),
        "user_id": r.integers(0, 1_500, n).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n)],
    })


# --- PAI-format medallion sources --------------------------------------------

DAY_S = 86_400.0
METRIC_COLS = [
    "worker_name", "machine", "start_time", "end_time", "machine_gpu", "machine_cpu",
    "machine_cpu_iowait", "machine_cpu_kernel", "machine_cpu_usr", "machine_load_1",
    "machine_net_receive", "machine_num_worker",
]


def machine_metrics(
    seed: int, salt: str, days: range, machines: int, samples_per_day: int, hour_lo: int = 0
) -> pd.DataFrame:
    """Telemetry samples for ``machines`` machines on each day in ``days``;
    sample times fall in [hour_lo, 24) hours of the day. About 2% of rows
    have a NULL end time and 3% a NULL GPU reading (both paths the silver
    and gold models filter)."""
    r = _rng(seed, f"metrics-{salt}")
    day = np.repeat(np.asarray(list(days), dtype=np.float64), machines * samples_per_day)
    m = len(day)
    mach = np.tile(np.repeat(np.arange(machines), samples_per_day), len(days))
    ts = day * DAY_S + r.integers(hour_lo * 3600, 86_400, m).astype(np.float64)
    end = np.where(r.random(m) < 0.02, np.nan, ts)
    gpu = np.where(r.random(m) < 0.03, np.nan, r.integers(0, 50_000, m) / 100.0)
    return pd.DataFrame({
        "worker_name": [f"w_m{i}" for i in mach],
        "machine": [f"m{i}" for i in mach],
        "start_time": ts - 60.0,
        "end_time": end,
        "machine_gpu": gpu,
        "machine_cpu": r.integers(0, 10_000, m) / 100.0,
        "machine_cpu_iowait": r.integers(0, 1_000, m) / 100.0,
        "machine_cpu_kernel": r.integers(0, 2_000, m) / 100.0,
        "machine_cpu_usr": r.integers(0, 8_000, m) / 100.0,
        "machine_load_1": r.integers(0, 6_400, m) / 100.0,
        "machine_net_receive": r.integers(0, 1_000_000, m) / 100.0,
        "machine_num_worker": r.integers(1, 9, m).astype(np.int64),
    }, columns=METRIC_COLS)


def write_pai_sources(
    out_dir: str, seed: int, metrics: pd.DataFrame, machines: int, jobs: int
) -> int:
    """Write the five PAI source CSVs around ``metrics``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "jobs")
    horizon = float(np.nanmax(metrics["end_time"].to_numpy()))
    start = np.round(r.uniform(0.0, horizon * 0.9, jobs), 1)
    status = r.choice(["Terminated", "Running", "Failed", "Waiting"], jobs, p=[0.7, 0.1, 0.1, 0.1])
    end = np.where(status == "Running", np.nan, np.round(start + r.uniform(60.0, 3 * DAY_S, jobs), 1))
    names = [f"job_{i}" for i in range(jobs)]
    insts = [f"inst_{i}" for i in range(jobs)]
    pd.DataFrame({
        "job_name": names, "inst_id": insts,
        "user": [f"u{u}" for u in r.integers(0, max(2, jobs // 20), jobs)],
        "status": status, "start_time": start, "end_time": end,
    }).to_csv(os.path.join(out_dir, "pai_job_table.csv"), index=False)
    metrics.to_csv(os.path.join(out_dir, "pai_machine_metric.csv"), index=False)
    pd.DataFrame({
        "inst_id": insts, "job_name": names, "status": status,
        "start_time": start, "end_time": end,
    }).to_csv(os.path.join(out_dir, "pai_instance_table.csv"), index=False)
    pd.DataFrame({
        "machine": [f"m{i}" for i in range(machines)],
        "cap_cpu": r.choice([64, 96, 128], machines),
        "cap_mem": r.choice([256, 512, 1024], machines),
        "cap_gpu": r.choice([2, 4, 8], machines),
    }).to_csv(os.path.join(out_dir, "pai_machine_spec.csv"), index=False)
    pd.DataFrame({
        "Product_Name": ["GeForce RTX 3090", "Radeon RX 6900 XT", "Tesla V100", "A100 PCIe"],
        "GPU_Chip": ["GA102", "Navi 21", "GV100", "GA100"],
        "Released": ["Sep 2020", "Dec 2020", "Jun 2017", "Jun 2020"],
        "Bus": ["PCIe 4.0 x16", "PCIe 4.0 x16", "PCIe 3.0 x16", "PCIe 4.0 x16"],
        "Memory": ["24 GB, GDDR6X, 384 bit", "16 GB, GDDR6, 256 bit",
                   "16 GB, HBM2, 4096 bit", "40 GB, HBM2e, 5120 bit"],
        "GPU_clock": ["1395 MHz", "1825 MHz", "1245 MHz", "765 MHz"],
        "Memory_clock": ["1219 MHz", "2000 MHz", "876 MHz", "1215 MHz"],
        "Shaders_TMUs_ROPs": ["10496 / 328 / 112", "5120 / 320 / 128",
                              "5120 / 320 / 128", "6912 / 432 / 160"],
    }).to_csv(os.path.join(out_dir, "tpu_gpus.csv"), index=False)
    return sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))

