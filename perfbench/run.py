#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program under test
(``gpu_telemetry_lakehouse_spark``) is imported from that root; all inputs
are generated from ``--seed`` under a per-run temporary directory inside
the checkout, which is removed on every exit path together with the JVM
and its Python workers. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones. The line before it is a full human-readable report
(workload-specific metrics, tail percentiles, versions, checks).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import spans as tracing  # noqa: E402

# end-to-end metrics (untraced runs), name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_latency_p50_s": "s",
    "op_latency_tail_s": "s",
    "ops_per_s": "1/s",
}

# per-layer metrics of the workloads in BENCHMARK.json (traced runs), name
# -> unit; 0 where a workload does not call the layer. medallion_refresh and
# telemetry_stream, kept out of BENCHMARK.json, print their
# tablog.merge_upsert_pruned, tablog.merge_upsert and streaming layers in the
# report.
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "queries.exec_s.scan_agg": "s",
    "queries.exec_s.join": "s",
    "queries.exec_s.window": "s",
    "queries.exec_s.subquery": "s",
    "operators.exec_s.dedup": "s",
    "operators.exec_s.similarity": "s",
    "operators.exec_s.text": "s",
    "flow.full_refresh_s": "s",
    "ingest.ingest_all_s": "s",
    "ingest.rows_per_s": "1/s",
    "flow.materialize_s.silver": "s",
    "flow.materialize_s.gold": "s",
    "checks.run_reference_checks_s": "s",
    "ml.score_driver_side_s": "s",
    "tablog.read_s": "s",
    "tablog.files_read_ratio": "ratio",
    "tablog.commits": "count",
    "tablog.log_versions": "count",
    "tablog.bytes_written_per_commit": "bytes",
    "lake.bytes_per_input_byte": "ratio",
    "spark.tasks_per_op": "count",
    "spark.jobs_per_op": "count",
    "spark.task_busy_share": "ratio",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_share": "ratio",
    "trace.op_latency_p50_s": "s",
    "trace.spans_per_op": "count",
    "trace.span_cost_s_per_op": "s",
}

# the program's own tuning knobs: left unset so that program changes, not
# benchmark settings, move the numbers
PROGRAM_KNOBS = ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_MIN_COALESCE", "SPARK_DRIVER_MEM")


class Interrupted(BaseException):
    """Raised in the main thread by SIGTERM/SIGINT."""


def _on_signal(signum, _frame):
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    signal.signal(signal.SIGINT, signal.SIG_IGN)
    raise Interrupted(f"signal {signum}")


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _versions(root: str, java: str) -> dict:
    import pyspark

    out = {"python": platform.python_version(), "nproc": len(os.sched_getaffinity(0)),
           "spark": pyspark.__version__, "java": java}
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           cwd=root, timeout=10)
        out["commit"] = r.stdout.strip() if r.returncode == 0 else "not-a-git-checkout"
    except (OSError, subprocess.SubprocessError):
        out["commit"] = "not-a-git-checkout"
    return out


def _prepare_env(tmp: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python create inside ``tmp``, and
    turn the Spark event log on for traced runs only."""
    for k in PROGRAM_KNOBS:
        os.environ.pop(k, None)
    for d in ("py", "spark-local", "jvm", "warehouse", "eventlog"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')} -XX:-UsePerfData")
    args = ["--conf", f"spark.sql.warehouse.dir=file://{os.path.join(tmp, 'warehouse')}"]
    if trace:
        args += tracing.event_log_args(os.path.join(tmp, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"'{a}'" if " " in a else a for a in args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _e2e_file(root: str, args) -> str:
    return os.path.join(root, ".perfbench_out", f"e2e-{args.workload}-seed{args.seed}"
                        f"-{args.seconds:g}s.json")


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f)


def _overhead(root: str, args, traced: dict) -> dict:
    """Tracing overhead: this traced run's end-to-end numbers minus those of
    the last correct untraced run of the same workload, seed and length in
    this checkout (empty when there is none)."""
    try:
        with open(_e2e_file(root, args)) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        return {}
    return {k: traced[k] - untraced[k] for k in traced if k in untraced}


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="smoke: tiny inputs for the benchmark's own tests")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import gpu_telemetry_lakehouse_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found under {root}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    _prepare_env(tmp, bool(args.trace))
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    tracer = tracing.Tracer(bool(args.trace))
    ctx = workloads.Context(tmp=tmp, seed=args.seed, seconds=args.seconds,
                            tracer=tracer, t_proc=t_proc, smoke=args.scale == "smoke")
    wl = workloads.WORKLOADS[args.workload](ctx)
    res = None
    code = 0
    killed: list[int] = []
    try:
        res = wl.run()
    except Interrupted as e:
        print(f"perfbench: interrupted ({e}), cleaning up", file=sys.stderr)
        code = 130
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        try:
            with ctx.phase("shutdown_s"):
                killed = ctx.close()
            tracer.unwrap_all()
            if res is not None and args.trace:
                res["layers"].update(workloads.spark_layer_metrics(
                    os.path.join(tmp, "eventlog"), res, ctx.cpus))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass
    if res is None:
        return code or 1
    if killed:
        print(f"perfbench: killed {len(killed)} process(es) that outlived shutdown",
              file=sys.stderr)

    lat = stats.latency_summary(res["latencies"]) if res["latencies"] else None
    e2e = {
        "setup_s": res["setup_s"],
        "op_latency_p50_s": lat["p50"] if lat else 0.0,  # no operation succeeded
        "op_latency_tail_s": lat["tail"] if lat else 0.0,
        "ops_per_s": len(res["latencies"]) / res["wall_s"],
    }
    correct = all(ok for _, ok, _ in res["checks"]) and res["failed"] == 0 and lat is not None
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "versions": _versions(root, ctx.java_version),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "tail_percentile": lat["tail_percentile"] if lat else None,
        "samples": lat["samples"] if lat else 0,
        "latencies_s": [round(x, 4) for x in res["latencies"]],
        "op_error_share": res["failed"] / max(1, res["attempted"]),
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        "workload_metrics": res["extra"],
        "phases_s": ctx.phases,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in res["checks"]],
    }
    if args.trace:
        spans = tracer.spans
        res["layers"]["peak_rss_mb"] = res["peak_rss_mb"]
        report["layers"] = res["layers"]
        out = os.path.join(root, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(out)
        report["trace_file"] = out
        report["span_count"] = len(spans)
        report["tracing_overhead"] = _overhead(root, args, e2e)
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        if correct:
            _write_json(_e2e_file(root, args), e2e)
    for c in report["checks"]:
        if not c["ok"]:
            print(f"perfbench: CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
