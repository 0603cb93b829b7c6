"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Starts one ``local[nproc]`` Spark session,
generates the workload's input from ``--seed``, then:

- ``--trace 0``: runs the workload's operation in a closed loop (one
  client) for ``--seconds`` and reports the end-to-end metrics. There
  is no warm-up: the first operation runs in the fresh JVM, as a
  spark-submit job does;
- ``--trace 1``: runs the traced layer sequence first, in the fresh JVM
  as the timed operation runs (each layer's output materialized in
  pipeline order under its own Spark job group, with the event log on),
  then the operation once untraced, and reports the per-layer metrics.

Either way the last operation's output is checked against an
independent reference outside the timed region. Human-readable lines
go first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Scratch files live
under ``.perfbench/`` in the repository root and are removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# every workload reports every metric; a layer it does not run reads 0
END_TO_END = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "peak_mem_mb": "MB",
}

# layer → the metric that carries its self time
SELF_METRIC = {
    "sources": "sources.scan_s",
    "asof": "asof.self_s",
    "horizons": "horizons.self_s",
    "grid": "grid.self_s",
    "manifest": "manifest.self_s",
    "leakage": "leakage.gate_s",
    "labels": "labels.self_s",
    "folds": "folds.self_s",
    "psi": "psi.self_s",
    "sessionize": "sessionize.self_s",
    "lags": "lags.self_s",
    "history": "history.self_s",
    "stream_asof": "stream_asof.self_s",
    "stream_sessions": "stream_sessions.self_s",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.turns": "count",
    "asof.self_s": "s",
    "asof.rows_out": "count",
    "asof.replication": "ratio",
    "horizons.self_s": "s",
    "horizons.distinct_s": "s",
    "horizons.groups_out": "count",
    "grid.self_s": "s",
    "grid.rows_out": "count",
    "grid.default_share": "ratio",
    "manifest.self_s": "s",
    "manifest.bucket_s": "s",
    "manifest.buckets": "count",
    "manifest.scan_ratio": "ratio",
    "manifest.bytes_written": "bytes",
    "leakage.gate_s": "s",
    "labels.self_s": "s",
    "labels.rows_out": "count",
    "folds.self_s": "s",
    "folds.rows_out": "count",
    "psi.self_s": "s",
    "sessionize.self_s": "s",
    "sessionize.prepass_s": "s",
    "sessionize.sessions_out": "count",
    "lags.self_s": "s",
    "history.self_s": "s",
    "stream_asof.self_s": "s",
    "stream_asof.batch_ms": "ms",
    "stream_asof.state_rows": "count",
    "stream_asof.state_bytes": "bytes",
    "stream_asof.commit_ms": "ms",
    "stream_sessions.self_s": "s",
    "stream_sessions.batch_ms": "ms",
    "stream_sessions.state_rows": "count",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.batch_p90_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.task_run_ms": "ms",
    "spark.busy_share": "ratio",
    "spark.task_skew": "ratio",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.failed_tasks": "count",
    "other.self_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_x": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _setup(wl, args, work: Path, started: float):
    from perfbench.harness import make_session
    from perfbench.workloads import Ctx

    spark = make_session(ROOT, work, work / "events" if args.trace else None)
    session_s = time.perf_counter() - started
    ctx = Ctx(spark, ROOT, work, args.seed)
    t = time.perf_counter()
    wl.generate(ctx, work / "turns")
    generate_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.after_generate(ctx)
    prepare_s = time.perf_counter() - t
    phases = {"session_s": session_s, "generate_s": generate_s, "prepare_s": prepare_s}
    return ctx, session_s + generate_s + prepare_s, phases


def _check(wl, ctx, phases: dict) -> list[str]:
    from concurrent.futures import ThreadPoolExecutor

    try:
        t = time.perf_counter()
        # the reference (DuckDB, pandas) is built while Spark reads back
        # the engine's outputs
        with ThreadPoolExecutor(1) as pool:
            want = pool.submit(wl.reference, ctx)
            got = wl.outputs(ctx)
            want = want.result()
        phases["check_s"] = time.perf_counter() - t
        return wl.check(got, want)
    except Exception:
        traceback.print_exc()
        return ["correctness check raised (traceback on stderr)"]


def _batch_quantiles(wl, ctx) -> dict:
    from perfbench.harness import quantile

    batches = wl.batch_ms(ctx)
    if not batches:
        return {}
    return {"stream.batches": len(batches),
            "stream.batch_p50_ms": quantile(batches, 0.5),
            "stream.batch_p90_ms": quantile(batches, 0.9)}


def _timed(wl, ctx, seconds: float) -> dict:
    from perfbench.harness import ManagedMemorySampler, python_workers_hwm_mb

    durations, failed, peak = [], 0, 0
    start = time.perf_counter()
    i = 1
    while i == 1 or time.perf_counter() - start < seconds:
        # collect the previous operation's garbage outside the timed call,
        # so no operation pays another's GC debt
        ctx.spark._jvm.System.gc()
        with ManagedMemorySampler(ctx.spark) as mem:
            t = time.perf_counter()
            try:
                wl.op(ctx, i)
                durations.append(time.perf_counter() - t)
            except Exception:
                traceback.print_exc()
                failed += 1
        peak = max(peak, mem.peak_bytes)
        i += 1
    # per operation: input turns ÷ its wall time; the median operation
    # stands for the run
    metrics = {"turns_per_s": ctx.n_turns / statistics.median(durations) if durations else 0.0,
               "peak_mem_mb": peak / 2**20 + python_workers_hwm_mb()}
    return {"attempted": i - 1, "failed": failed, "ops_s": durations,
            "managed_peak_mb": peak / 2**20, "batches": _batch_quantiles(wl, ctx),
            "metrics": metrics}


def _traced(wl, ctx) -> dict:
    from perfbench.harness import Tracer

    # traced pass first: its layers pay the class loading, code
    # generation and JIT the timed operation pays, so their self times
    # split that operation; the untraced operation after it runs warm,
    # which makes trace.overhead_x an upper bound
    tr = Tracer(ctx.spark)
    t = time.perf_counter()
    m = wl.trace(ctx, tr)
    wall = time.perf_counter() - t
    t = time.perf_counter()
    wl.op(ctx, 1)
    untraced = time.perf_counter() - t
    m |= _batch_quantiles(wl, ctx)
    for layer, s in tr.self_times().items():
        if layer in SELF_METRIC:
            m[SELF_METRIC[layer]] = s
    covered = sum(v for k, v in m.items() if k in SELF_METRIC.values())
    m |= {"other.self_s": wall - covered, "trace.wall_s": wall,
          "trace.overhead_x": wall / untraced}
    return {"metrics": m, "tracer": tr, "untraced_s": untraced, "spans": len(tr.spans)}


def _engine_metrics(work: Path, tr, m: dict, cpus: int) -> dict:
    """Event-log totals over the traced job groups, and per layer."""
    from perfbench.harness import ENGINE_KEYS, read_event_log, task_skew

    groups = read_event_log(work / "events")
    stage_runs = groups.pop("_stage_runs")
    layer_of = {s.group: s.layer for s in tr.spans} | tr.stream_groups
    per_layer: dict[str, dict] = {}
    for g, vals in groups.items():
        layer = layer_of.get(g)
        if layer is None:
            continue
        acc = per_layer.setdefault(layer, {k: 0 for k in ENGINE_KEYS})
        for k in ENGINE_KEYS:
            acc[k] += vals[k]
    total = {k: sum(v[k] for v in per_layer.values()) for k in ENGINE_KEYS}
    out = {f"spark.{k}": v for k, v in total.items()}
    out["spark.busy_share"] = total["task_run_ms"] / (m["trace.wall_s"] * 1000 * cpus)
    out["spark.task_skew"] = task_skew(stage_runs, set(layer_of))
    table = m.pop("_table_bytes", None)
    if table and "manifest" in per_layer:
        out["manifest.scan_ratio"] = per_layer["manifest"]["input_bytes"] / table
    return out, per_layer


def main(argv=None) -> int:
    started = time.perf_counter() - process_age_s()
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    try:
        import duckdb  # noqa: F401  (the references need it)
        import pyspark  # noqa: F401

        import kkbox_churn_prediction_spark  # noqa: F401
        from perfbench.harness import host_snapshot, stop_session
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its dependencies: {exc}", file=sys.stderr)
        return 2
    for needed in ("jobs/backfill_job.py", "__spark_entry__.py"):
        if not (ROOT / needed).is_file():
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    host = host_snapshot()
    work = ROOT / ".perfbench" / f"{wl.name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ctx = None
    try:
        ctx, setup_s, phases = _setup(wl, args, work, started)
        if args.trace:
            res = _traced(wl, ctx)
            attempted, failed = 1 + res["spans"], 0
        else:
            res = _timed(wl, ctx, args.seconds)
            res["metrics"]["setup_s"] = setup_s
            attempted, failed = res["attempted"], res["failed"]
        problems = _check(wl, ctx, phases)
        detail = {"workload": wl.name, "seed": args.seed, "turns": ctx.n_turns,
                  "convs": ctx.n_convs, "phases": phases, "problems": problems}
        stop_session(ctx.spark)  # also flushes the event log
        ctx = None
        detail |= {"host_start": host, "host_end": host_snapshot()}
        if args.trace:
            engine, per_layer = _engine_metrics(work, res["tracer"], res["metrics"],
                                                os.cpu_count() or 1)
            res["metrics"] |= engine
            detail |= {"untraced_s": res["untraced_s"], "engine_per_layer": per_layer}
            names = PER_LAYER
        else:
            detail |= {"ops_s": res["ops_s"], "managed_peak_mb": res["managed_peak_mb"],
                       "batches": res["batches"], "failed_share": failed / attempted}
            names = END_TO_END
        if problems:
            failed = attempted
        metrics = {k: {"value": float(res["metrics"].get(k, 0.0)), "unit": u}
                   for k, u in names.items()}
        print("perfbench detail " + json.dumps(detail, default=str))
        for k, v in metrics.items():
            print(f"perfbench {wl.name} {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if ctx is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()


if __name__ == "__main__":
    sys.exit(main())
