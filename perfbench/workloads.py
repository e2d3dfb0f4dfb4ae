"""The benchmark workloads. Each one generates its inputs from the seed,
starts one Spark session sized to the usable cores, warms up, runs a timed
loop, and checks the program's outputs after the clock stops.

A workload's ``run()`` returns a dict with the per-operation latencies,
attempted/failed counts, the timed window, set-up time, peak RSS, check
results, workload-specific end-to-end numbers (``extra``) and, in traced
runs, per-layer numbers (``layers``).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
import threading
import time
from datetime import datetime, timedelta

import numpy as np

import datagen
import procs
import stats
import spans as tracing

# registry query -> class, for the relational closed loop
LAKEHOUSE = {
    "gold_daily_util": "scan_agg",
    "tpch_q1": "scan_agg",
    "events_hourly_window": "scan_agg",
    "tpch_q3_shipping": "join",
    "tpch_q5_local_volume": "join",
    "interval_join_shipments": "join",
    "join_outer_histogram": "join",
    "nation_market_share": "join",
    "large_volume_orders": "join",
    "order_count_distribution": "join",
    "window_rolling_metrics": "window",
    "window_topk_per_group": "window",
    "sole_fault_suppliers": "subquery",
}

# LLM-data operator query -> class, for the corpus curation loop
CURATION = {
    "dedup_minhash_pairs": "dedup",
    "dedup_shingle_jaccard": "dedup",
    "dedup_simhash": "dedup",
    "exact_substring_dup_spans": "dedup",
    "benchmark_decontam": "dedup",
    "knn_cosine_brute": "similarity",
    "knn_ivf_fixed": "similarity",
    "embedding_neardup_pairs": "similarity",
    "semdedup_prune": "similarity",
    "text_stats": "text",
}


class Context:
    """Per-run state shared by the harness and a workload."""

    def __init__(self, tmp, seed, seconds, tracer, t_proc, smoke):
        self.tmp, self.seed, self.seconds = tmp, seed, seconds
        self.tracer: tracing.Tracer = tracer
        self.t_proc = t_proc
        self.smoke = smoke
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.get_spark_s = 0.0
        self.java_version = "?"
        self.stop = threading.Event()
        self.threads: list[threading.Thread] = []
        self.closers: list = []
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record the wall time of one set-up/check phase for the report."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(self.phases.get(name, 0.0) + time.perf_counter() - t, 3)

    def start_spark(self):
        from gpu_telemetry_lakehouse_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app="perfbench", cpus=self.cpus)
        self.get_spark_s = time.perf_counter() - t
        self.java_version = self.spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")
        return self.spark

    def spawn(self, target, *args) -> threading.Thread:
        th = threading.Thread(target=target, args=args, daemon=True)
        self.threads.append(th)
        th.start()
        return th

    def join(self, threads: list[threading.Thread]) -> None:
        # short timeouts keep the main thread responsive to SIGTERM
        for th in threads:
            while th.is_alive():
                th.join(0.2)

    def begin_timing(self) -> tuple[float, float]:
        """Mark the start of the timed loop: (epoch s, perf_counter s)."""
        print("perfbench: timed loop started", file=sys.stderr, flush=True)
        return time.time(), time.perf_counter()

    def rss_breakdown(self) -> dict:
        """Peak RSS (VmHWM, MB) of this Python process, the JVM and its
        Python workers, summed per process name."""
        me = os.getpid()
        out: dict = {}
        for p in [me] + procs.descendants(me):
            key = "benchmark" if p == me else procs.comm(p)
            out[key] = out.get(key, 0.0) + procs.vm_hwm_kb(p) / 1024.0
        return out

    def peak_rss_mb(self) -> float:
        return sum(self.rss_breakdown().values())

    def close(self) -> list[int]:
        """Stop client/generator threads and streaming queries, then Spark;
        returns pids that had to be killed."""
        self.stop.set()
        for fn in reversed(self.closers):
            try:
                fn()
            except Exception:
                pass
        deadline = time.monotonic() + 15.0
        for th in self.threads:
            th.join(max(0.0, deadline - time.monotonic()))
        return procs.stop_spark()


class Workload:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.ops = itertools.count(1)

    def timed_spans(self, t0: float, name: str | None = None) -> list[dict]:
        return [s for s in self.ctx.tracer.spans
                if s["start"] >= t0 and (name is None or s["name"] == name)]

    def span_medians(self, t0: float, name: str, key: str | None = None) -> dict:
        """Median duration of ``name`` spans in the timed window, grouped by
        the span attribute ``key`` (or one group ``""``)."""
        groups: dict = {}
        for s in self.timed_spans(t0, name):
            groups.setdefault(s.get(key, "") if key else "", []).append(s["end"] - s["start"])
        return {k: stats.median(v) for k, v in groups.items()}

    def trace_common(self, t0: float, n_ops: int, latencies: list[float]) -> dict:
        spans = self.timed_spans(t0)
        per_op = len(spans) / max(1, n_ops)
        selfs = tracing.self_times(self.ctx.tracer.spans)
        by_name: dict = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        return {
            "session.get_spark_s": self.ctx.get_spark_s,
            "trace.op_latency_p50_s": stats.median(latencies) if latencies else 0.0,
            "trace.spans_per_op": per_op,
            # bookkeeping cost of the spans alone; the whole tracing overhead
            # (traced minus untraced) is in the report's tracing_overhead
            "trace.span_cost_s_per_op": per_op * tracing.span_cost_s(),
            "self_s_per_op": {k: v / max(1, n_ops) for k, v in sorted(by_name.items())},
        }


DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _data_dir(sf: float) -> str:
    """Checked-in catalog tables at scale factor ``sf``."""
    return os.path.join(DATA, f"sf{sf}")


def _oracle_check(name: str, pdf, con) -> tuple[str, bool, str]:
    """The registry's differential gate (tests/oracle.py): same columns,
    same row count, same order-insensitive values as the DuckDB oracle."""
    from gpu_telemetry_lakehouse_spark.queries import ORACLE
    from tests.oracle import rows_of

    try:
        ddf = con.sql(ORACLE[name]).df()
        if sorted(pdf.columns) != sorted(ddf.columns):
            return name, False, f"columns {sorted(pdf.columns)} != {sorted(ddf.columns)}"
        if len(pdf) != len(ddf):
            return name, False, f"rows {len(pdf)} != {len(ddf)}"
        bad = sum(a != b for a, b in zip(rows_of(pdf), rows_of(ddf)))
        return name, bad == 0, f"{bad} mismatching rows" if bad else "ok"
    except Exception as e:  # an oracle crash is a failed check, not a crash
        return name, False, f"{type(e).__name__}: {e}"


class _QueryMix(Workload):
    """Registry queries: warm-up passes, a timed loop, DuckDB checks."""

    MIX: dict[str, str] = {}
    SPAN = "queries.exec"

    def run_query(self, name: str, sf_dir: str, collect: bool = False):
        from gpu_telemetry_lakehouse_spark.queries import QUERIES

        tr = self.ctx.tracer
        with tr.span("queries.build", query=name):
            df = QUERIES[name](self.ctx.spark, sf_dir)
        with tr.span(self.SPAN, cls=self.MIX[name], query=name):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
        return None

    def parallel(self, names: list[str], sf_dir: str, collect: bool) -> dict:
        """Run each query once on ``cpus`` threads; name -> pandas frame
        (collect) or None."""
        out: dict = {}
        todo = list(names)
        lock = threading.Lock()

        def worker():
            while not self.ctx.stop.is_set():
                with lock:
                    if not todo:
                        return
                    name = todo.pop(0)
                try:
                    out[name] = self.run_query(name, sf_dir, collect)
                except Exception as e:
                    out[name] = e

        self.ctx.join([self.ctx.spawn(worker) for _ in range(self.ctx.cpus)])
        return out

    # scale factor of the pass whose collected results are checked
    CHECK_SF = 0.01
    # warm up with one pass at the bench scale and collect the checked pass
    # after timing, when it is warm and fast; otherwise the checked pass is
    # the warm-up
    BENCH_WARMUP = False

    def prepare(self, names: list[str]) -> tuple[str, str, dict]:
        """Start Spark and warm up; returns (bench dir, checked dir,
        collected frames). The mix runs once, compiling generated code off
        the clock: at the bench scale (``BENCH_WARMUP``, frames collected
        later by ``collect_checked``) or at ``CHECK_SF`` with results
        collected for the oracle check."""
        ctx = self.ctx
        bench = _data_dir(0.001 if ctx.smoke else 0.1)
        checked = _data_dir(0.001 if ctx.smoke else self.CHECK_SF)
        with ctx.phase("spark_start_s"):
            ctx.start_spark()
        with ctx.phase("warmup_s"):
            if self.BENCH_WARMUP:
                self.parallel(names, bench, collect=False)
                return bench, checked, {}
            return bench, checked, self.parallel(names, checked, collect=True)

    def collect_checked(self, names: list[str], checked: str, frames: dict) -> dict:
        """The collected pass for the oracle check, if the warm-up was not it."""
        return frames or self.parallel(names, checked, collect=True)

    def timed_op(self, name: str, sf_dir: str, records: list) -> None:
        op_id = next(self.ops)
        with self.ctx.tracer.op(op_id):
            s = time.perf_counter()
            try:
                self.run_query(name, sf_dir)
                ok = True
            except Exception:
                ok = False
            records.append((name, s, time.perf_counter(), ok))

    def checks(self, frames: dict, sf_dir: str) -> list:
        from tests.oracle import duck_con

        con = duck_con(sf_dir)
        out = []
        for name in self.MIX:
            got = frames.get(name)
            if isinstance(got, Exception) or got is None:
                out.append((name, False, f"query failed: {got!r}"))
            else:
                out.append(_oracle_check(name, got, con))
        return out

    def result(self, records: list, ops: list, t0: float, t0_epoch: float,
               setup_s: float, checks: list) -> dict:
        """``records`` are per-query (name, start, end, ok); ``ops`` are the
        workload's operations as (start, end, ok)."""
        ctx = self.ctx
        ok = [r for r in records if r[3]]
        t1 = max((r[2] for r in records), default=t0)
        lat = [e - s for s, e, good in ops if good]
        res = {
            "latencies": lat, "attempted": len(ops),
            "failed": sum(1 for o in ops if not o[2]), "wall_s": max(t1 - t0, 1e-9),
            "t0_epoch": t0_epoch, "t1_epoch": t0_epoch + (t1 - t0), "n_ops": len(ops),
            "setup_s": setup_s, "peak_rss_mb": ctx.peak_rss_mb(), "checks": checks,
            "extra": {"median_latency_s_per_query": {
                n: round(stats.median([r[2] - r[1] for r in ok if r[0] == n]), 4)
                for n in self.MIX if any(r[0] == n for r in ok)},
                "rss_mb": ctx.rss_breakdown()},
            "layers": {},
        }
        if ctx.tracer.enabled:
            lay = self.trace_common(t0, len(ops), lat)
            lay["queries.build_s"] = self.span_medians(t0, "queries.build").get("", 0.0)
            prefix = "queries.exec_s." if self.SPAN == "queries.exec" else "operators.exec_s."
            for cls, v in self.span_medians(t0, self.SPAN, "cls").items():
                lay[prefix + cls] = v
            res["layers"] = lay
        return res


class LakehouseQueries(_QueryMix):
    """Closed loop: ``cpus`` client threads sharing one session pull the
    next query from a seeded sequence of passes over the relational
    registry queries, each pass a fresh permutation, so a run averages over
    several orders. The loop stops at the first whole pass after the run
    length, and after no fewer than ``MIN_PASSES`` passes, so every run
    times each query the same number of times and only the order and
    overlap depend on the seed."""

    MIX = LAKEHOUSE
    # two timed passes (26 queries, tail at p61.5) keep one run near 45 s on
    # 4 cores, so that a full round, 4 + 22 runs of each listed workload,
    # fits in 3,420 s.
    # With a warm-up pass at scale factor 0.01 only, the first timed pass
    # carried the JIT warm-up and the median latency spread 22% over ten
    # seeds.
    MIN_PASSES = 2
    BENCH_WARMUP = True

    def run(self) -> dict:
        ctx = self.ctx
        names = list(self.MIX)
        bench, checked, frames = self.prepare(names)

        order: list[str] = []  # grows one seeded pass at a time
        records: list = []
        lock = threading.Lock()
        issued = itertools.count()
        t0_epoch, t0 = ctx.begin_timing()
        setup_s = t0_epoch - ctx.t_proc
        stop_at = [None]  # op index that ends the run (a pass boundary)

        def client() -> None:
            while not ctx.stop.is_set():
                with lock:
                    k = next(issued)
                    if stop_at[0] is None and time.perf_counter() - t0 >= ctx.seconds:
                        stop_at[0] = max(-(-k // len(names)), self.MIN_PASSES) * len(names)
                    if stop_at[0] is not None and k >= stop_at[0]:
                        return
                    if k == len(order):
                        order.extend(names[i] for i in self.rng.permutation(len(names)))
                    name = order[k]
                self.timed_op(name, bench, records)

        ctx.join([ctx.spawn(client) for _ in range(ctx.cpus)])
        with ctx.phase("check_s"):
            checks = self.checks(self.collect_checked(names, checked, frames), checked)
        ops = [(s, e, good) for _, s, e, good in records]
        return self.result(records, ops, t0, t0_epoch, setup_s, checks)


class CorpusCuration(_QueryMix):
    """Closed loop, one client. An operation is one LLM-data operator call.
    The client runs whole passes, every operator once in a fresh seeded
    order, until the run length is reached and at least ``MIN_PASSES``
    passes are done, so every run times each operator equally often."""

    MIX = CURATION
    SPAN = "operators.exec"
    MIN_PASSES = 1
    # the operators' inputs at the bench scale. The warm-up pass runs at
    # scale factor 0.01, so without a read of these the first timed operator
    # on each table paid the first read (0.6-0.8 s more), and the seeded
    # order decided which one.
    TABLES = ("documents", "embeddings")

    def warm_tables(self, bench: str) -> None:
        from gpu_telemetry_lakehouse_spark.catalog import load_table, spread_input

        with self.ctx.phase("warmup_s"):
            for t in self.TABLES:
                spread_input(load_table(self.ctx.spark, bench, t)).write.format("noop").mode(
                    "overwrite").save()

    def run(self) -> dict:
        ctx = self.ctx
        names = list(self.MIX)
        bench, checked, frames = self.prepare(names)
        self.warm_tables(bench)

        records: list = []
        t0_epoch, t0 = ctx.begin_timing()
        setup_s = t0_epoch - ctx.t_proc
        passes = 0
        while not ctx.stop.is_set():
            for i in self.rng.permutation(len(names)):
                self.timed_op(names[i], bench, records)
            passes += 1
            if passes >= self.MIN_PASSES and time.perf_counter() - t0 >= ctx.seconds:
                break
        with ctx.phase("check_s"):
            checks = self.checks(self.collect_checked(names, checked, frames), checked)
        ops = [(s, e, good) for _, s, e, good in records]
        return self.result(records, ops, t0, t0_epoch, setup_s, checks)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _table_dirs(lake: str) -> list[str]:
    wh = os.path.join(lake, "warehouse")
    return [os.path.join(wh, t) for t in sorted(os.listdir(wh))] if os.path.isdir(wh) else []


class MedallionRefresh(Workload):
    """The reference pipeline, write-heavy. Each timed cycle is one
    ``flow.full_refresh`` of the base sources into the same lake (tablog
    overwrite commits), then one operation per late batch of the cycle
    (three at the bench scale); an operation is one
    ``flow.incremental_update`` of a late-telemetry batch (a new day plus
    extra samples for an already built day) and a dashboard read of the new
    gold day through ``tablog.read(..., between=...)``. Cycles repeat until
    the run length is reached, so every run ends on a whole cycle."""

    def sizes(self):
        # (machines, base days, samples per machine-day, batches per cycle)
        return (4, 5, 6, 2) if self.ctx.smoke else (40, 30, 40, 3)

    def run(self) -> dict:
        import pandas as pd

        ctx = self.ctx
        tr = ctx.tracer
        machines, days, samples, k = self.sizes()
        seed = ctx.seed
        base = datagen.machine_metrics(seed, "base", range(days), machines, samples)
        old_days = self.rng.integers(0, days, k + 1)
        batches = []
        for j in range(k + 1):  # batch k is the warm-up batch
            new_day = days + j
            late = datagen.machine_metrics(seed, f"late{j}", [int(old_days[j])], machines,
                                           max(1, samples // 5), hour_lo=12)
            new = datagen.machine_metrics(seed, f"new{j}", [new_day], machines, samples)
            batches.append((new_day, pd.concat([new, late], ignore_index=True)))
        warm_day, warm_batch = batches.pop()
        jobs = 10 if ctx.smoke else 400
        med = os.path.join(ctx.tmp, "medallion")
        src, ref_src = os.path.join(med, "src"), os.path.join(med, "ref_src")
        lake = os.path.join(med, "lake")
        with ctx.phase("generate_s"):
            src_bytes = datagen.write_pai_sources(src, seed, base, machines, jobs)
            ref_bytes = datagen.write_pai_sources(
                ref_src, seed, pd.concat([base] + [b for _, b in batches], ignore_index=True),
                machines, jobs)
            batch_bytes = [len(b.to_csv(index=False).encode()) for _, b in batches]
        csv_rows = len(base) + 2 * jobs + machines + 4

        with ctx.phase("spark_start_s"):
            spark = ctx.start_spark()
        from gpu_telemetry_lakehouse_spark import flow, tablog
        from gpu_telemetry_lakehouse_spark.schemas import MACHINE_METRICS

        self._wrap_layers(flow, tablog)
        batch_dfs = [(d, spark.createDataFrame(b, schema=MACHINE_METRICS)) for d, b in batches]
        warm_df = spark.createDataFrame(warm_batch, schema=MACHINE_METRICS)
        gold_path = os.path.join(lake, "warehouse", "gold_cluster_util_daily")

        def dashboard(day: int) -> bool:
            lo = datetime(1970, 1, 1) + timedelta(days=day)
            with tr.span("dashboard.read"):
                rows = tablog.read(spark, gold_path, between=("dt", lo, lo)).collect()
            if tr.enabled:
                kept, total = tablog.pruned_file_count(gold_path, "dt", lo, lo)
                self.read_ratios.append(kept / max(1, total))
            return len(rows) == 1 and rows[0]["dt"] == lo

        # warm-up: one cold refresh and one incremental operation. The cold
        # refresh is the check's reference, a from-scratch refresh over the
        # union of the base and every timed batch; its gold is collected
        # before the incremental operation and the timed refreshes overwrite
        # the same lake.
        self.read_ratios: list[float] = []
        with ctx.phase("warmup_s"):
            want = self._gold_rows(flow.full_refresh(spark, ref_src, lake))
            flow.incremental_update(spark, lake, warm_df)
            dashboard(warm_day)
        input_bytes = ref_bytes + len(warm_batch.to_csv(index=False).encode())
        self.read_ratios.clear()

        versions0 = {p: tablog.current_version(p) for p in _table_dirs(lake)}
        bytes0 = _dir_bytes(lake)
        records, refreshes = [], []
        t0_epoch, t0 = ctx.begin_timing()
        setup_s = t0_epoch - ctx.t_proc
        while not ctx.stop.is_set():
            with tr.op(next(self.ops)):
                s = time.perf_counter()
                with tr.span("flow.full_refresh"):
                    flow.full_refresh(spark, src, lake)
                refreshes.append(time.perf_counter() - s)
                input_bytes += src_bytes
            for (day, bdf), nbytes in zip(batch_dfs, batch_bytes):
                with tr.op(next(self.ops)):
                    s = time.perf_counter()
                    try:
                        with tr.span("flow.incremental_update"):
                            flow.incremental_update(spark, lake, bdf)
                        ok = dashboard(day)
                    except Exception:
                        ok = False
                    records.append((s, time.perf_counter(), ok))
                input_bytes += nbytes
            if time.perf_counter() - t0 >= ctx.seconds:
                break
        t1 = time.perf_counter()
        peak = ctx.peak_rss_mb()
        lake_bytes = _dir_bytes(lake)
        versions1 = {p: tablog.current_version(p) for p in _table_dirs(lake)}
        commits = sum(v - (versions0.get(p) if versions0.get(p) is not None else -1)
                      for p, v in versions1.items() if v is not None)

        with ctx.phase("check_s"):
            checks = self._check(spark, lake, want)
        lat = [e - s for s, e, ok in records if ok]
        res = {
            "latencies": lat, "attempted": len(records),
            "failed": sum(1 for r in records if not r[2]), "wall_s": t1 - t0,
            "t0_epoch": t0_epoch, "t1_epoch": t0_epoch + (t1 - t0), "n_ops": len(records),
            "setup_s": setup_s, "peak_rss_mb": peak, "checks": checks,
            "extra": {
                "full_refresh_s": {"value": stats.median(refreshes), "unit": "s"},
                "lake_bytes_per_input_byte": {"value": lake_bytes / input_bytes, "unit": "ratio"},
                "cycles": len(refreshes), "metric_rows_base": len(base),
            },
            "layers": {},
        }
        if tr.enabled:
            res["layers"] = self._layers(t0, lat, len(records), refreshes, csv_rows, commits,
                                         versions1, lake_bytes - bytes0,
                                         lake_bytes / input_bytes)
        return res

    def _wrap_layers(self, flow, tablog) -> None:
        tr = self.ctx.tracer
        tr.wrap(flow, "ingest_all", "ingest.ingest_all")
        tr.wrap(flow, "run_reference_checks", "checks.run_reference_checks")
        tr.wrap(flow, "score_driver_side", "ml.score_driver_side")

        def table(*args, **_kw):
            path = next(a for a in args if isinstance(a, str))
            return {"table": os.path.basename(path.rstrip("/"))}

        for fn in ("create_table", "overwrite", "append", "merge_upsert",
                   "merge_upsert_pruned", "read"):
            tr.wrap(tablog, fn, f"tablog.{fn}", table)

    # compared gold tables -> columns
    GOLD = {
        "gold_cluster_util_daily": ["dt", "avg_gpu_util", "p95_gpu_util", "avg_cpu_util"],
        "gold_cluster_util_daily_scored": ["dt", "avg_gpu_util", "p95_gpu_util", "avg_cpu_util",
                                           "anomaly_flag"],
    }

    def _gold_rows(self, tables: dict) -> dict:
        return {name: sorted(tables[name].select(*cols).collect())
                for name, cols in self.GOLD.items()}

    def _check(self, spark, lake, want: dict) -> list:
        """Gold after the incremental operations must equal gold from a
        from-scratch refresh over the union of all inputs (``want``)."""
        from gpu_telemetry_lakehouse_spark import tablog

        got = self._gold_rows({
            name: tablog.read(spark, os.path.join(lake, "warehouse", name)) for name in self.GOLD})
        out = []
        for name in self.GOLD:
            a, b = got[name], want[name]
            only_got = [r for r in a if r not in b]
            only_want = [r for r in b if r not in a]
            bad = len(only_got) + len(only_want)
            out.append((f"medallion.{name}", bad == 0,
                        f"{len(a)} rows vs {len(b)} in a full rebuild; only after the "
                        f"incremental path: {only_got[:2]}; only in the rebuild: "
                        f"{only_want[:2]}" if bad else "ok"))
        return out

    def _layers(self, t0, lat, n_ops, refreshes, csv_rows, commits, versions, grown, ratio):
        spans = self.timed_spans(t0)
        lay = self.trace_common(t0, n_ops, lat)
        med = lambda name: self.span_medians(t0, name).get("", 0.0)  # noqa: E731
        selfs = tracing.self_times(self.ctx.tracer.spans)
        refresh_ops = {s["op"] for s in spans if s["name"] == "flow.full_refresh"}
        tiers: dict = {"silver": {}, "gold": {}}
        for s in spans:
            if s["op"] in refresh_ops and s["name"] in ("tablog.create_table", "tablog.overwrite"):
                tier = s["table"].split("_", 1)[0]
                if tier in tiers:
                    tiers[tier][s["op"]] = tiers[tier].get(s["op"], 0.0) + s["end"] - s["start"]
        ingest = med("ingest.ingest_all")
        lay.update({
            "flow.full_refresh_s": stats.median(refreshes),
            "flow.full_refresh_self_s": stats.median(
                [selfs[s["id"]] for s in spans if s["name"] == "flow.full_refresh"] or [0.0]),
            "flow.incremental_update_self_s": stats.median(
                [selfs[s["id"]] for s in spans if s["name"] == "flow.incremental_update"] or [0.0]),
            "ingest.ingest_all_s": ingest,
            "ingest.rows_per_s": csv_rows / ingest if ingest else 0.0,
            "flow.materialize_s.silver": stats.median(list(tiers["silver"].values()) or [0.0]),
            "flow.materialize_s.gold": stats.median(list(tiers["gold"].values()) or [0.0]),
            "checks.run_reference_checks_s": med("checks.run_reference_checks"),
            "ml.score_driver_side_s": med("ml.score_driver_side"),
            "tablog.merge_upsert_pruned_s": med("tablog.merge_upsert_pruned"),
            "tablog.read_s": med("tablog.read"),
            "tablog.files_read_ratio": float(np.mean(self.read_ratios)) if self.read_ratios else 0.0,
            "tablog.commits": commits,
            "tablog.log_versions": sum(v + 1 for v in versions.values() if v is not None),
            "tablog.bytes_written_per_commit": grown / commits if commits else 0.0,
            "lake.bytes_per_input_byte": ratio,
        })
        return lay


class MedallionFullRefresh(MedallionRefresh):
    """The reference pipeline as a nightly rebuild. An operation is one
    ``flow.full_refresh`` of the seeded PAI sources into the same lake
    (tablog overwrite commits for every silver and gold table), then two
    dashboard reads: the daily gold table, and one seeded day of raw
    telemetry from silver through ``tablog.read(..., between=("ts", ...))``.
    A run times at least ``MIN_OPS`` operations. ``CurationRefresh`` runs
    the same operation between the curation operators.

    It calls no ``flow.incremental_update`` and reads gold without a
    ``between`` range, the two paths on which ``medallion_refresh`` shows a
    program defect: tablog keeps timestamp footer stats with a UTC offset
    that probe keys lack, so it prunes a gold file whose first ``dt`` is the
    probed day. Silver's ``ts`` is epoch seconds, a number, which tablog
    compares correctly."""

    # a refresh takes about 7.5 s on 4 cores, nearly all of it fixed cost
    # (Spark jobs, tablog commits, model scoring), so two keep a run near 47 s
    MIN_OPS = 2

    def sizes(self):
        # (machines, days, samples per machine-day, jobs)
        return (4, 5, 6, 10) if self.ctx.smoke else (40, 30, 40, 400)

    def setup(self) -> None:
        """Generate the sources, start Spark unless it runs, wrap the layers
        and warm up with one cold refresh and dashboard read."""
        ctx = self.ctx
        machines, self.days, samples, jobs = self.sizes()
        base = datagen.machine_metrics(ctx.seed, "base", range(self.days), machines, samples)
        med = os.path.join(ctx.tmp, "medallion")
        self.src, self.lake = os.path.join(med, "src"), os.path.join(med, "lake")
        with ctx.phase("generate_s"):
            self.src_bytes = datagen.write_pai_sources(self.src, ctx.seed, base, machines, jobs)
        self.csv_rows = len(base) + 2 * jobs + machines + 4
        self.want_gold = gold_oracle(base)
        silver_end = base["end_time"].dropna().to_numpy()
        self.want_day_rows = np.bincount((silver_end // datagen.DAY_S).astype(np.int64),
                                         minlength=self.days)
        if ctx.spark is None:
            with ctx.phase("spark_start_s"):
                ctx.start_spark()
        from gpu_telemetry_lakehouse_spark import flow, tablog

        self.flow, self.tablog = flow, tablog
        self._wrap_layers(flow, tablog)
        self.wh = os.path.join(self.lake, "warehouse")
        self.read_ratios: list[float] = []
        self.refreshes: list[float] = []
        with ctx.phase("warmup_s"):
            flow.full_refresh(ctx.spark, self.src, self.lake)
            self.warm_ok = self.dashboard(int(self.rng.integers(0, self.days)))
        self.read_ratios.clear()
        self.versions0 = {p: tablog.current_version(p) for p in _table_dirs(self.lake)}
        self.bytes0 = _dir_bytes(self.lake)
        self.input_bytes = 2 * self.src_bytes  # the warm-up refresh read the sources too

    def dashboard(self, day: int) -> bool:
        """Read gold and one day of silver; True when both match the inputs."""
        spark, tablog, tr = self.ctx.spark, self.tablog, self.ctx.tracer
        silver_path = os.path.join(self.wh, "silver_gpu_timeseries")
        lo, hi = day * datagen.DAY_S, (day + 1) * datagen.DAY_S - 1
        with tr.span("dashboard.read"):
            gold = tablog.read(spark, os.path.join(self.wh, "gold_cluster_util_daily")
                               ).select("dt").collect()
            n = tablog.read(spark, silver_path, between=("ts", lo, hi)).count()
        if tr.enabled:
            kept, total = tablog.pruned_file_count(silver_path, "ts", lo, hi)
            self.read_ratios.append(kept / max(1, total))
        return bool(sorted(r["dt"] for r in gold) == sorted(self.want_gold)
                    and n == self.want_day_rows[day])

    def op(self) -> tuple[float, float, bool]:
        """One timed operation: (start, end, ok)."""
        tr = self.ctx.tracer
        day = int(self.rng.integers(0, self.days))
        with tr.op(next(self.ops)):
            s = time.perf_counter()
            try:
                with tr.span("flow.full_refresh"):
                    self.flow.full_refresh(self.ctx.spark, self.src, self.lake)
                self.refreshes.append(time.perf_counter() - s)
                ok = self.dashboard(day)
            except Exception:
                ok = False
            e = time.perf_counter()
        self.input_bytes += self.src_bytes
        return s, e, ok

    def finish(self, t0: float, lat: list[float], n_ops: int) -> tuple[list, dict, dict]:
        """After the timed loop: (checks, extra report numbers, layers)."""
        tablog = self.tablog
        lake_bytes = _dir_bytes(self.lake)
        versions1 = {p: tablog.current_version(p) for p in _table_dirs(self.lake)}
        commits = sum(v - (self.versions0.get(p) if self.versions0.get(p) is not None else -1)
                      for p, v in versions1.items() if v is not None)
        with self.ctx.phase("check_s"):
            checks = [("medallion.warmup_dashboard", self.warm_ok, "ok" if self.warm_ok else
                       "gold days or the silver day read differ from the inputs")]
            checks += self._check_oracle(self.ctx.spark, self.wh, self.want_gold)
        ratio = lake_bytes / self.input_bytes
        extra = {
            "full_refresh_s": {"value": stats.median(self.refreshes) if self.refreshes else 0.0,
                               "unit": "s"},
            "lake_bytes_per_input_byte": {"value": ratio, "unit": "ratio"},
        }
        layers = {}
        if self.ctx.tracer.enabled:
            layers = self._layers(t0, lat, n_ops, self.refreshes or [0.0], self.csv_rows,
                                  commits, versions1, lake_bytes - self.bytes0, ratio)
        return checks, extra, layers

    def run(self) -> dict:
        ctx = self.ctx
        self.setup()
        records = []
        t0_epoch, t0 = ctx.begin_timing()
        setup_s = t0_epoch - ctx.t_proc
        while not ctx.stop.is_set() and (len(records) < self.MIN_OPS
                                         or time.perf_counter() - t0 < ctx.seconds):
            records.append(self.op())
        t1 = time.perf_counter()
        peak = ctx.peak_rss_mb()
        lat = [e - s for s, e, ok in records if ok]
        checks, extra, layers = self.finish(t0, lat, len(records))
        return {
            "latencies": lat, "attempted": len(records),
            "failed": sum(1 for r in records if not r[2]), "wall_s": t1 - t0,
            "t0_epoch": t0_epoch, "t1_epoch": t0_epoch + (t1 - t0), "n_ops": len(records),
            "setup_s": setup_s, "peak_rss_mb": peak, "checks": checks, "extra": extra,
            "layers": layers,
        }

    def _check_oracle(self, spark, wh: str, want: dict) -> list:
        """Gold must equal the daily aggregates computed with pandas from the
        generated samples, and the scored table must carry gold's rows with
        a 0/1 anomaly flag."""
        from gpu_telemetry_lakehouse_spark import tablog

        got = self._gold_rows({name: tablog.read(spark, os.path.join(wh, name))
                               for name in self.GOLD})
        gold = got["gold_cluster_util_daily"]
        bad = [r for r in gold if r["dt"] not in want
               or not np.allclose(tuple(r)[1:], want[r["dt"]], rtol=1e-9, atol=1e-9)]
        bad_n = len(bad) + abs(len(gold) - len(want))
        scored = got["gold_cluster_util_daily_scored"]
        scored_ok = ([tuple(r)[:4] for r in scored] == [tuple(r) for r in gold]
                     and all(r["anomaly_flag"] in (0, 1) for r in scored))
        return [
            ("medallion.gold_vs_pandas", bad_n == 0,
             "ok" if bad_n == 0 else f"{len(gold)} rows vs {len(want)} expected; "
             f"first differing: {bad[:2]}"),
            ("medallion.scored_carries_gold", scored_ok,
             "ok" if scored_ok else f"{len(scored)} scored rows vs {len(gold)} gold rows"),
        ]


class CurationRefresh(CorpusCuration):
    """Closed loop, one client: the platform's heavy batch jobs in one
    process. Each pass runs, in a fresh seeded order, the ten LLM-data
    operators of ``corpus_curation`` and one operation of
    ``medallion_full_refresh`` (a full refresh with its dashboard reads); an
    operation is one of these eleven jobs. Every job fills the cores by
    itself, so one client keeps them busy without contention between jobs.

    One process runs both because each run pays a JVM start and a warm-up:
    as two workloads, a full round of the benchmark (4 + 22 runs per
    workload, with ``lakehouse_queries``) did not fit in 3,420 s on a
    4-core shared host."""

    REFRESH = "full_refresh"

    def run(self) -> dict:
        ctx = self.ctx
        names = list(self.MIX)
        bench, checked, frames = self.prepare(names)
        self.warm_tables(bench)
        refresh = MedallionFullRefresh(ctx)
        refresh.ops = self.ops  # one operation id sequence for the spans
        refresh.rng = np.random.default_rng([ctx.seed, 2])
        refresh.setup()

        jobs = names + [self.REFRESH]
        records: list = []
        t0_epoch, t0 = ctx.begin_timing()
        setup_s = t0_epoch - ctx.t_proc
        passes = 0
        while not ctx.stop.is_set():
            for i in self.rng.permutation(len(jobs)):
                if jobs[i] == self.REFRESH:
                    records.append((self.REFRESH, *refresh.op()))
                else:
                    self.timed_op(jobs[i], bench, records)
            passes += 1
            if passes >= self.MIN_PASSES and time.perf_counter() - t0 >= ctx.seconds:
                break
        ops = [(s, e, good) for _, s, e, good in records]
        lat = [e - s for s, e, good in ops if good]
        r_checks, r_extra, r_layers = refresh.finish(t0, lat, len(ops))
        with ctx.phase("check_s"):
            checks = self.checks(self.collect_checked(names, checked, frames), checked)
        res = self.result(records, ops, t0, t0_epoch, setup_s, checks + r_checks)
        res["extra"].update(r_extra)
        # the refresh's layers first: its trace_common is the same numbers
        res["layers"] = {**r_layers, **res["layers"]}
        return res


def gold_oracle(metrics) -> dict:
    """``gold_cluster_util_daily`` computed with pandas from raw samples:
    day -> (mean GPU, p95 GPU by linear interpolation, mean CPU) over the
    samples that have an end time and a GPU reading."""
    m = metrics.dropna(subset=["end_time", "machine_gpu"])
    day = (m["end_time"] // datagen.DAY_S).astype(np.int64)
    out = {}
    for d, g in m.groupby(day):
        out[datetime(1970, 1, 1) + timedelta(days=int(d))] = (
            g["machine_gpu"].mean(), float(np.percentile(g["machine_gpu"], 95)),
            g["machine_cpu"].mean())
    return out


class TelemetryStream(Workload):
    """Open loop. A generator thread, separate from the system under test,
    lands one seeded parquet file of 4,000 events every ``INTERVAL_S``
    (written under a temporary name, then renamed). Event times are in
    microseconds, out of order but within the watermark, so nothing is
    dropped. The system runs ``read_event_stream`` ->
    ``incremental_hourly_gold`` in update mode -> ``foreachBatch`` ->
    ``tablog.merge_upsert(..., batch_id=...)`` on (hour_start, event_type).
    An operation is one micro-batch that carries landed rows, timed from
    its trigger to its end. Each file's latency, from its scheduled
    creation time to the end of the micro-batch whose cumulative
    ``numInputRows`` covers it, is reported alongside."""

    # file-to-commit latency is not steady: at one file per second the data
    # batch plus the watermark's no-data batch kept the query near
    # saturation (46% spread between quartiles over ten seeds); at one file
    # every 2 s it is bimodal, since a file that lands during a no-data
    # batch waits for it (49% over five seeds)
    INTERVAL_S = 2.0
    WARM_FILES = 3

    def events_per_file(self) -> int:
        return 200 if self.ctx.smoke else 4_000

    def run(self) -> dict:
        from pyspark.sql.streaming import StreamingQueryListener

        ctx = self.ctx
        tr = ctx.tracer
        root = os.path.join(ctx.tmp, "stream")
        landing, table = os.path.join(root, "landing"), os.path.join(root, "table")
        ckpt = os.path.join(root, "checkpoint")
        os.makedirs(landing)
        with ctx.phase("spark_start_s"):
            spark = ctx.start_spark()
        from gpu_telemetry_lakehouse_spark import tablog
        from gpu_telemetry_lakehouse_spark.streaming import pipeline as P

        batches: list[dict] = []  # query progress, in batch order
        landed: list[tuple[float, float, int]] = []  # (scheduled, landed, rows)

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                d = p.durationMs
                st = p.stateOperators[0] if p.stateOperators else None
                batches.append({
                    "id": p.batchId, "rows": p.numInputRows, "start": start,
                    "end": start + d.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": d.get("addBatch", 0) / 1000.0,
                    "planning_s": d.get("queryPlanning", 0) / 1000.0,
                    "batch_s": d.get("triggerExecution", 0) / 1000.0,
                    "state_rows": st.numRowsTotal if st else 0,
                    "state_bytes": st.memoryUsedBytes if st else 0,
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Progress()
        spark.streams.addListener(listener)
        ctx.closers.append(lambda: spark.streams.removeListener(listener))

        def land(i: int, scheduled: float) -> None:
            pdf = datagen.event_file(self.ctx.seed, i, self.events_per_file())
            tmp = os.path.join(landing, f".part-{i:06d}.tmp")
            pdf.to_parquet(tmp, index=False)
            os.rename(tmp, os.path.join(landing, f"part-{i:06d}.parquet"))
            landed.append((scheduled, time.time(), len(pdf)))

        def apply_batch(bdf, batch_id):
            with tr.span("tablog.merge_upsert"):
                tablog.merge_upsert(bdf.sparkSession, bdf, table,
                                    key_cols=["hour_start", "event_type"], batch_id=int(batch_id))

        # version 0: the empty table, so every epoch goes through the
        # batch-id guarded MERGE (a replayed epoch is a no-op)
        empty = P.hourly_agg(spark.createDataFrame([], P.EVENTS_STREAM_SCHEMA))
        tablog.create_table(empty, table)

        def committed_rows() -> int:
            return sum(b["rows"] for b in list(batches))

        def wait_rows(n: int, timeout: float) -> bool:
            deadline = time.monotonic() + timeout
            while committed_rows() < n and time.monotonic() < deadline:
                if ctx.stop.wait(0.05):
                    return False
            return committed_rows() >= n

        with ctx.phase("warmup_s"):
            for i in range(self.WARM_FILES):
                land(i, time.time())
            query = (
                P.incremental_hourly_gold(P.read_event_stream(spark, landing))
                .writeStream.outputMode("update").foreachBatch(apply_batch)
                .option("checkpointLocation", ckpt).start()
            )
            ctx.closers.append(query.stop)
            wait_rows(sum(r for _, _, r in landed), 120.0)
        warm_rows, warm_files = committed_rows(), len(landed)

        versions0 = len(tablog.history(table))
        n_files = max(1, int(ctx.seconds / self.INTERVAL_S))
        t0_epoch, t0 = ctx.begin_timing()
        setup_s = t0_epoch - ctx.t_proc

        def generator() -> None:
            for k in range(n_files):
                due = t0_epoch + k * self.INTERVAL_S
                while not ctx.stop.is_set() and time.time() < due:
                    ctx.stop.wait(min(0.01, max(0.0, due - time.time())))
                if ctx.stop.is_set():
                    return
                land(warm_files + k, due)

        ctx.join([ctx.spawn(generator)])
        t_window_end = t0_epoch + n_files * self.INTERVAL_S
        with ctx.phase("drain_s"):
            caught_up = wait_rows(sum(r for _, _, r in landed), 120.0)
        t1 = time.perf_counter()
        peak = ctx.peak_rss_mb()
        query.stop()
        query.awaitTermination(30)

        timed = landed[warm_files:]
        done = sorted(batches, key=lambda b: b["id"])
        commits = stats.attribute_files_to_batches(
            [r for _, _, r in landed], [(b["end"], b["rows"]) for b in done])[warm_files:]
        file_lat = [c - s for (s, _, _), c in zip(timed, commits) if c is not None]
        # operations: the micro-batches that carried timed rows (the warm-up
        # rows were all committed before the clock started), plus one failed
        # operation per timed file that was never committed
        ops, cum = [], 0
        for b in done:
            if b["rows"] > 0 and cum >= warm_rows:
                ops.append((b["start"], b["end"], True))
            cum += b["rows"]
        ops += [(s, float("inf"), False) for (s, _, _), c in zip(timed, commits) if c is None]
        lat = [e - s for s, e, ok in ops if ok]
        with ctx.phase("check_s"):
            checks = [self._check(spark, P, tablog, landing, table, caught_up)]
        lag_end = stats.lag_at(t_window_end, [s for s, _, _ in timed], commits)
        gen_late = [w - s for s, w, _ in timed]
        timed_batches = [b for b in done if b["start"] >= t0_epoch]
        res = {
            "latencies": lat, "attempted": len(ops),
            "failed": sum(1 for o in ops if not o[2]), "wall_s": t1 - t0,
            "t0_epoch": t0_epoch, "t1_epoch": t0_epoch + (t1 - t0), "n_ops": len(ops),
            "setup_s": setup_s, "peak_rss_mb": peak, "checks": checks,
            "extra": {
                "stream_lag_end_s": {"value": lag_end, "unit": "s"},
                "file_to_commit_p50_s": {
                    "value": stats.median(file_lat) if file_lat else None, "unit": "s"},
                "file_to_commit_max_s": {"value": max(file_lat, default=None), "unit": "s"},
                "offered_events_per_s": {"value": self.events_per_file() / self.INTERVAL_S,
                                         "unit": "1/s"},
                "generator_late_p50_s": {"value": stats.median(gen_late) if gen_late else 0.0,
                                         "unit": "s"},
                "generator_late_max_s": {"value": max(gen_late, default=0.0), "unit": "s"},
                "warm_rows": warm_rows, "micro_batches": len(timed_batches),
                "rss_mb": ctx.rss_breakdown(),
            },
            "layers": {},
        }
        if tr.enabled:
            lay = self.trace_common(t0, len(ops), lat)
            waits = [b["start"] - a["end"] for a, b in zip(timed_batches, timed_batches[1:])]
            med = lambda k: stats.median([b[k] for b in timed_batches]) if timed_batches else 0.0  # noqa: E731
            versions = len(tablog.history(table))
            lay.update({
                "tablog.merge_upsert_s": self.span_medians(t0, "tablog.merge_upsert").get("", 0.0),
                "tablog.commits": versions - versions0,
                "tablog.log_versions": versions,
                "stream.lag_end_s": lag_end,
                "stream.generator_late_p50_s": stats.median(gen_late) if gen_late else 0.0,
                "streaming.batch_s": med("batch_s"),
                "streaming.add_batch_s": med("add_batch_s"),
                "streaming.planning_s": med("planning_s"),
                "streaming.trigger_wait_s": stats.median(waits) if waits else 0.0,
                "streaming.rows_per_batch": med("rows"),
                "streaming.state_rows": max((b["state_rows"] for b in timed_batches), default=0),
                "streaming.state_memory_bytes": max(
                    (b["state_bytes"] for b in timed_batches), default=0),
            })
            res["layers"] = lay
        return res

    @staticmethod
    def _check(spark, P, tablog, landing, table, caught_up) -> tuple:
        """The streamed table must equal the batch hourly rollup of every
        landed file."""
        if not caught_up:
            return ("stream.caught_up", False, "stream did not commit every landed file")
        want = sorted(P.hourly_agg(spark.read.schema(P.EVENTS_STREAM_SCHEMA).parquet(landing))
                      .collect())
        got = sorted(tablog.read(spark, table).select(
            "hour_start", "event_type", "n", "sum_value").collect())
        bad = len([r for r in got if r not in want]) + len([r for r in want if r not in got])
        return ("stream.table_equals_batch_rollup", bad == 0,
                f"{len(got)} rows vs {len(want)}; {bad} differ" if bad else "ok")


def spark_layer_metrics(log_dir: str, res: dict, cpus: int) -> dict:
    """Per-operation Spark totals for the timed window, from the event log
    (written completely once the context has stopped)."""
    tot = tracing.read_event_log(log_dir, res["t0_epoch"], res["t1_epoch"])
    n = max(1, res["n_ops"])
    return {
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.task_busy_share": tot["run_ms"] / 1000.0 / (res["wall_s"] * cpus),
        "spark.shuffle_write_bytes_per_op": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.gc_share": tot["gc_ms"] / tot["run_ms"] if tot["run_ms"] else 0.0,
    }


WORKLOADS = {
    "lakehouse_queries": LakehouseQueries,
    "corpus_curation": CorpusCuration,
    "medallion_refresh": MedallionRefresh,
    "medallion_full_refresh": MedallionFullRefresh,
    "curation_refresh": CurationRefresh,
    "telemetry_stream": TelemetryStream,
}
