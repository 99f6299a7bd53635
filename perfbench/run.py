#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each was chosen):
  cdc            drain a seeded backlog of envelope files (large epochs),
                 then open-loop binlog appends under a 5 s trigger
                 (small epochs)
  analytics_mix  registered queries over seeded tables, warm, noop sink

Every run starts its own local Spark session with one core per CPU,
builds its inputs from the seed, measures for about ``--seconds``,
checks the outputs, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run records
spans around the program's public functions and the metrics are the
per-layer ones. The exit code is 0 only if every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# Import the benchmark as a package from the checkout root, not its
# modules as top-level names from this directory.
sys.path[0] = str(ROOT)

WORKLOADS = ("cdc", "analytics_mix")

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_s": "s",
    "latency_p90_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A
    workload that bypasses a layer reports zero for it."""
    from perfbench.analytics import MIX, TRACED_ONLY
    from perfbench.tracing import LAYERS

    units = {
        "session.start_s": "s",
        "session.peak_rss_mb": "MB",
        "bench.tracing_overhead_ratio": "ratio",
        "bench.generator_late_p90_s": "s",
    }
    units.update({f"layer.{name}.self_s": "s" for name in LAYERS})
    units.update(
        {
            "sources.parse_s": "s",
            "sources.latest_offset_ms_p50": "ms",
            "sources.get_batch_ms_p50": "ms",
            "sources.input_rows": "count",
            "pipeline.build_s": "s",
            "pipeline.archived_rows": "count",
            "pipeline.guard_dropped_rows": "count",
            "pipeline.archive_yield": "ratio",
            "job.trigger_ms_p50": "ms",
            "job.trigger_ms_p90": "ms",
            "job.add_batch_ms_p50": "ms",
            "job.wal_commit_ms_p50": "ms",
            "job.commit_offsets_ms_p50": "ms",
            "job.query_planning_ms_p50": "ms",
            "job.spark_jobs_per_epoch": "count",
            "job.epochs": "count",
            "job.backlog_end_rows": "count",
            "job.backlog_trigger_ms_p50": "ms",
            "sinks.dual_call_s_p50": "s",
            "sinks.adb_write_s_p50": "s",
            "sinks.sr_write_s_p50": "s",
            "sinks.sr_put_s_p50": "s",
            "sinks.persist_overhead_s_p50": "s",
            "sinks.backlog_dual_call_s_p50": "s",
            "sinks.sr_requests": "count",
            "sinks.sr_rows_per_request": "count",
            "sinks.sr_label_skips": "count",
            "sinks.adb_bytes_per_row": "bytes",
            "io.stage_calls": "count",
            "io.stage_s": "s",
        }
    )
    for q in MIX + TRACED_ONLY:
        units[f"plans.{q}.wall_s"] = "s"
        units[f"plans.{q}.build_s"] = "s"
        units[f"plans.{q}.jobs"] = "count"
        units[f"plans.{q}.stages"] = "count"
        units[f"spark.{q}.task_s"] = "s"
        units[f"spark.{q}.shuffle_bytes"] = "bytes"
        units[f"spark.{q}.spill_bytes"] = "bytes"
    return units


def install_tracing(tracer) -> None:
    """Wrap the public entry points of every layer, from here."""
    import jly_flink_spark.io as io_mod
    import jly_flink_spark.operators as ops_pkg
    import jly_flink_spark.pipeline as pipeline_mod
    import jly_flink_spark.plans  # noqa: F401 — registers every query
    import jly_flink_spark.sources.envelopes as envelopes_mod
    import jly_flink_spark.streaming.admission as admission_mod
    import jly_flink_spark.streaming.job as job_mod
    from jly_flink_spark.streaming import sinks

    from perfbench.tracing import trace_method, trace_module_functions

    import importlib
    import pkgutil

    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
        trace_module_functions(tracer, mod, "operators")
    trace_module_functions(tracer, io_mod, "io")
    trace_module_functions(tracer, admission_mod, "streaming.admission")
    trace_module_functions(tracer, envelopes_mod, "sources")
    trace_module_functions(tracer, pipeline_mod, "pipeline", names=("build_pipeline",))
    trace_module_functions(tracer, job_mod, "streaming.job")
    for cls, method in (
        (sinks.DualSink, "__call__"),
        (sinks.AdbStyleSink, "write"),
        (sinks.SrStyleSink, "write"),
    ):
        trace_method(tracer, cls, method, f"sinks.{cls.__name__}.{method}", "streaming.sinks")


def run(args, work: Path):
    from perfbench import common

    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(uuid.uuid4().hex)
    t0 = time.perf_counter()
    spark = common.start_session(
        work, f"perfbench-{args.workload}",
        event_log=work / "eventlog" if tracer else None,
    )
    session_s = time.perf_counter() - t0
    try:
        if tracer is not None:
            install_tracing(tracer)
            tracer.record("session.start", "session", time.time() - session_s, time.time())
        ctx = common.Ctx(
            work=work, seed=args.seed, seconds=float(args.seconds),
            spark=spark, tracer=tracer,
        )
        if args.workload == "cdc":
            from perfbench.cdc import run_cdc as fn
        else:
            from perfbench.analytics import run_analytics as fn
        out = fn(ctx)
        peak_rss = common.jvm_peak_rss_mb(spark)
    finally:
        common.stop_session(spark)
    setup = {"session_s": session_s, **out.setup_parts}
    out.e2e["setup_s"] = sum(setup.values())
    if tracer is not None:
        from perfbench.tracing import parse_event_log

        out.layers["session.start_s"] = session_s
        out.layers["session.peak_rss_mb"] = peak_rss
        out.layers["bench.tracing_overhead_ratio"] = out.overhead_ratio or 1.0
        for layer, v in tracer.self_times().items():
            out.layers[f"layer.{layer}.self_s"] = v
        per_group = parse_event_log(str(work / "eventlog"))
        from perfbench.analytics import MIX, TRACED_ONLY

        for q in MIX + TRACED_ONLY:
            groups = [g for g in per_group if g.split("#", 1)[0] == q]
            n = max(1, len(groups))
            for key in ("task_s", "shuffle_bytes", "spill_bytes"):
                out.layers[f"spark.{q}.{key}"] = (
                    sum(per_group[g][key] for g in groups) / n
                )
        # the spans outlive the run's scratch directory, for inspection
        tracer.dump(str(common.WORK_ROOT / f"spans-{args.workload}-{args.seed}.jsonl"))
    return out, setup


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description="Seeded benchmark of the CDC archival job and the query registry."
    )
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "jly_flink_spark" / "__init__.py").is_file():
        print(
            "perfbench: the jly_flink_spark package is not in this checkout",
            file=sys.stderr,
        )
        return 2

    from perfbench import common

    # A termination request unwinds through the finally blocks below, so
    # the Spark JVM is stopped and the scratch directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = common.WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    common.clean_dir(work)
    work.mkdir(parents=True)
    common.prepare_env(work)
    try:
        out, setup = run(args, work)
    except Exception:  # noqa: BLE001 — report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        common.clean_dir(work)
        try:
            common.WORK_ROOT.rmdir()
        except OSError:
            pass

    failed = len(out.problems)
    for problem in out.problems:
        print(f"MISMATCH {problem}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for k, v in setup.items():
        print(f"  setup.{k} = {v:.4f} s")
    for k, (v, unit) in out.report.items():
        print(f"  {k} = {v} {unit}")
    print(f"  error_rate = {failed / out.attempted} ratio")
    if args.trace:
        units = per_layer_units()
        values = {k: out.layers.get(k, 0.0) for k in units}
    else:
        units = E2E_UNITS
        values = out.e2e
    metrics = {}
    for k, unit in units.items():
        v = values[k]
        print(f"  {k} = {v} {unit}")
        metrics[k] = {"value": v, "unit": unit}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": out.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
