"""The analytics workload: a fixed mix of registered queries over tables
generated from the seed, each forced with the ``noop`` sink and timed
warm, in a closed loop (one query at a time, the next starts when the
previous one has finished).

Two families, told apart by how many Spark jobs a query runs.
Orchestrated queries run dozens of jobs each, so their wall is mostly
per-job coordination. Compute queries run a few jobs each; their wall is
a few jobs' fixed cost plus task time (tasks keep the CPUs 5-20% busy:
these plans are not task-bound at any scale a run can afford). A change
that cuts jobs per query should move the first family and leave the
second alone, so each family has its own gated metric.
"""

from __future__ import annotations

import math
import time

from . import common, gen_tables

ORCHESTRATED = (
    "graph_bfs_reachability",
    "graph_pagerank_dup_chunks",
)
COMPUTE = (
    "agg_q1_pricing_summary",
    "join_multiway_q5",
    "join_q18_large_orders",
    "tpch_q10_returned_items",
    "window_topk_per_group",
    "dedup_minhash_candidates",
)
MIX = ORCHESTRATED + COMPUTE
WARM_PASSES = 1  # untimed passes over the mix after the oracle pass
# Reaches streaming.admission; too slow for the timed loop, so only the
# traced run executes it (once, after the timed passes).
TRACED_ONLY = ("pipeline_streaming_admission_v5",)


def _generate(ctx):
    def make(i):
        d = ctx.work / f"tables{i}"
        gen_tables.write_tables(str(d), ctx.seed)
        return d, common.digest_files(sorted(d.iterdir()))

    return common.build_repeatedly(make)


def run_analytics(ctx) -> common.Outcome:
    from jly_flink_spark.plans import REGISTRY
    from tests.oracle_harness import compare_query

    data, gen_s, problems = _generate(ctx)
    spark = ctx.spark
    sc = spark.sparkContext
    st = sc.statusTracker()

    # Correctness against the DuckDB oracle, once, outside the timed
    # loop; the Spark side of each comparison also warms the query up.
    t0 = time.perf_counter()
    attempted = 0
    for name in MIX:
        attempted += 1
        try:
            r = compare_query(spark, name, str(data))
        except Exception as e:  # noqa: BLE001 — a failed query is counted
            problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        if not r.ok:
            problems.append(str(r)[:300])
    # After the oracle pass the JVM is still early on its JIT warm-up
    # curve: a query's wall falls by about a fifth in the next pass, and
    # by 5-10% a pass for a few passes after that. Timing starts after
    # WARM_PASSES; more would steady the figures a little but would not
    # fit the run budget.
    for _ in range(WARM_PASSES):
        for name in MIX:
            attempted += 1
            try:
                _force(REGISTRY[name].spark_fn(spark, str(data)))
            except Exception as e:  # noqa: BLE001 — a failed query is counted
                problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
    warm_s = time.perf_counter() - t0

    # Closed loop over the mix: one full pass, then on round the mix
    # until --seconds have passed. A traced run makes three passes at
    # least, untraced, traced, untraced, so that the traced one can be
    # set against the mean of its neighbours to measure the overhead.
    walls = {n: [] for n in MIX}
    builds = {n: [] for n in MIX}
    traced_walls = {n: [] for n in MIX}
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    min_runs = len(MIX) * (3 if ctx.tracer is not None else 1)
    t_start = time.perf_counter()
    i = 0
    while i < min_runs or time.perf_counter() - t_start < ctx.seconds:
        name = MIX[i % len(MIX)]
        pass_no = i // len(MIX)
        traced = ctx.tracer is not None and pass_no % 2 == 1
        group = f"{name}#{pass_no}"
        sc.setJobGroup(group, group)
        attempted += 1
        i += 1
        try:
            w, b = _timed(ctx, REGISTRY[name].spark_fn, spark, str(data), name, traced)
        except Exception as e:  # noqa: BLE001 — a failed query is counted
            problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        (traced_walls if traced else walls)[name].append(w)
        builds[name].append(b)
        ids = st.getJobIdsForGroup(group)
        jobs[name] = len(ids)
        stages[name] = sum(
            len(info.stageIds) for info in map(st.getJobInfo, ids) if info
        )
    sc.setJobGroup("bench", "bench")
    measured_s = time.perf_counter() - t_start

    med = {n: common.median(walls[n]) for n in MIX if walls[n]}
    if len(med) < len(MIX):
        problems.append("analytics: a query has no timed run")
    orch = [med[n] for n in ORCHESTRATED if n in med] or [float("nan")]
    comp = [med[n] for n in COMPUTE if n in med] or [float("nan")]
    out = common.Outcome(attempted=attempted, problems=problems)
    out.setup_parts = {"generate_s": gen_s, "warmup_s": warm_s}
    # Each family is gated on its own, so that a slowdown of the quick
    # compute queries is not hidden behind the slow orchestrated ones.
    out.e2e = {
        # compute family: queries per second of its closed loop
        "throughput_per_s": len(comp) / sum(comp),
        # orchestrated family: geometric mean of the per-query medians,
        # so each query weighs alike, as in TPC-H's power metric
        "latency_s": math.exp(sum(map(math.log, orch)) / len(orch)),
        # compute family: its slow end
        "latency_p90_s": common.quantile(comp, 0.9),
    }
    out.report = {
        "analytics_orchestrated_s": (sum(med.get(n, 0.0) for n in ORCHESTRATED), "s"),
        "analytics_compute_s": (sum(med.get(n, 0.0) for n in COMPUTE), "s"),
        "analytics_query_runs": (sum(len(w) for w in walls.values()), "count"),
        "analytics_measured_s": (measured_s, "s"),
    }
    for name in MIX:
        out.report[f"plans.{name}.wall_s"] = (med.get(name, 0.0), "s")
        out.report[f"plans.{name}.jobs"] = (jobs.get(name, 0), "count")
        out.report[f"plans.{name}.stages"] = (stages.get(name, 0), "count")

    if ctx.tracer is not None:
        for name in TRACED_ONLY:
            group = f"{name}#traced"
            sc.setJobGroup(group, group)
            attempted += 1
            out.attempted = attempted
            try:
                w, b = _timed(ctx, REGISTRY[name].spark_fn, spark, str(data), name, True)
            except Exception as e:  # noqa: BLE001 — a failed query is counted
                problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            traced_walls[name] = [w]
            builds[name] = [b]
            ids = st.getJobIdsForGroup(group)
            jobs[name] = len(ids)
            stages[name] = sum(
                len(info.stageIds) for info in map(st.getJobInfo, ids) if info
            )
        sc.setJobGroup("bench", "bench")
        for name in MIX + TRACED_ONLY:
            tw = traced_walls.get(name) or []
            out.layers[f"plans.{name}.wall_s"] = common.median(tw) if tw else 0.0
            out.layers[f"plans.{name}.build_s"] = (
                common.median(builds[name]) if builds.get(name) else 0.0
            )
            out.layers[f"plans.{name}.jobs"] = jobs.get(name, 0)
            out.layers[f"plans.{name}.stages"] = stages.get(name, 0)
        both = [n for n in MIX if walls[n] and traced_walls[n]]
        untraced = sum(sum(walls[n]) / len(walls[n]) for n in both)
        traced_sum = sum(sum(traced_walls[n]) / len(traced_walls[n]) for n in both)
        out.overhead_ratio = traced_sum / untraced if untraced else 1.0
        io_stage = ctx.tracer.durations("io.stage")
        out.layers["io.stage_calls"] = len(io_stage)
        out.layers["io.stage_s"] = sum(io_stage)
    return out


def _timed(ctx, fn, spark, data, name, traced):
    """Build the query's plan, then force it with the noop sink. Returns
    (wall seconds, build seconds)."""
    t0 = time.perf_counter()
    if traced:
        ctx.tracer.enabled = True
        try:
            df = ctx.tracer.call(f"plans.{name}", "plans", fn, spark, data)
            t1 = time.perf_counter()
            ctx.tracer.call(f"plans.{name}.execute", "plans", _force, df)
        finally:
            ctx.tracer.enabled = False
    else:
        df = fn(spark, data)
        t1 = time.perf_counter()
        _force(df)
    return time.perf_counter() - t0, t1 - t0


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()
