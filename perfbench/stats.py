"""Pure summary statistics used by every workload (unit-tested in
``perfbench/tests/test_stats.py``)."""

from __future__ import annotations

import bisect

# samples that must lie beyond the tail percentile
MIN_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def samples_beyond(n: int, p: float) -> float:
    """How many of ``n`` samples lie beyond the ``p``-th percentile."""
    return round(n * (100.0 - p) / 100.0, 6)


def tail_percentile(n: int) -> float:
    """The highest percentile, to a tenth, that leaves at least ten of
    ``n`` samples beyond it. Below 20 samples no percentile at or above the
    median qualifies, and the median itself is reported as the tail."""
    if n < 2 * MIN_BEYOND:
        return 50.0
    return (1000 * (n - MIN_BEYOND) // n) / 10.0


def latency_summary(latencies: list[float]) -> dict:
    """Median, tail (at :func:`tail_percentile`) and sample count."""
    p = tail_percentile(len(latencies))
    return {
        "p50": median(latencies),
        "tail": quantile(latencies, p / 100.0),
        "tail_percentile": p,
        "samples": len(latencies),
    }


def attribute_files_to_batches(
    file_rows: list[int], batch_ends: list[tuple[float, int]]
) -> list[float | None]:
    """Commit time of each landed file.

    ``file_rows`` are the row counts of the files in landing order;
    ``batch_ends`` are (end time, numInputRows) of the micro-batches in
    order. A file is committed by the first batch whose CUMULATIVE input
    row count covers the cumulative rows up to and including that file.
    Files no batch covers get None."""
    cum_batch, ends, total = [], [], 0
    for end, rows in batch_ends:
        total += rows
        cum_batch.append(total)
        ends.append(end)
    out: list[float | None] = []
    covered = 0
    for rows in file_rows:
        covered += rows
        j = bisect.bisect_left(cum_batch, covered)
        out.append(ends[j] if j < len(ends) else None)
    return out


def lag_at(t: float, scheduled: list[float], committed: list[float | None]) -> float:
    """Age at time ``t`` of the oldest file scheduled at or before ``t`` but
    not committed by ``t`` (0 when the stream has caught up)."""
    pending = [
        s for s, c in zip(scheduled, committed) if s <= t and (c is None or c > t)
    ]
    return t - min(pending) if pending else 0.0
