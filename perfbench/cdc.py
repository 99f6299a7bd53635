"""The CDC workload: a backlog drain, then an open-loop trickle, on one
Spark session.

Backlog phase: a pre-written backlog of seeded envelope files (three
instances, ``instance|json`` lines) drains through
``streaming.job.start_archival_stream`` into
``DualSink(AdbStyleSink, SrStyleSink(LocalDirTransport))`` — the CLI's
``--once`` replay and catch-up path. Epochs are large, so the cost is
per row: envelope parse, guards and projection, sink writes.

Trickle phase: one generator thread appends Debezium lines to three live
per-instance logs on a fixed schedule, well below capacity and far more
often than the trigger fires, while the native tailer
(``streaming_pipeline_binlogs``) reads them with the reference's
deployed sink settings, a 5 s trigger and 20-row SR chunks. Epochs are
small, so the cost is fixed per epoch: trigger, WAL and offset commits,
the sink's persist, ledger and label files, Spark job scheduling.
"""

from __future__ import annotations

import os
import threading
import time

from . import common, gen_cdc, verify

# Epochs of the released backlog still on the JIT warm-up curve; they
# count as set-up, and the rate is measured over the epochs after them.
BACKLOG_WARM_EPOCHS = gen_cdc.BACKLOG_WARM_EPOCHS
BACKLOG_SR_BATCH = 100  # SinkConfig default, as in the CLI's --once replay
TRICKLE_RATE = 400  # envelopes per second, all instances together
TRICKLE_TICK_S = 0.05  # 20 appends per second against one trigger per 5 s
TRICKLE_TRIGGER_S = 5.0
TRICKLE_SR_BATCH = 20  # the reference's deployed Stream Load chunk
TRICKLE_WARMUP_ROWS = 400  # read by the stream's cold first epoch


class CommitClock:
    """Calls the sink and records when each epoch's call returned, which
    is when both sinks hold the epoch. In a traced run, odd epochs are
    traced and even ones are not, so the two can be compared."""

    def __init__(self, sink, tracer=None):
        self.sink = sink
        self.tracer = tracer
        self.commits: dict[int, float] = {}

    def __call__(self, batch_df, epoch_id):
        if self.tracer is not None:
            self.tracer.enabled = epoch_id % 2 == 1
        self.sink(batch_df, epoch_id)
        self.commits[int(epoch_id)] = time.time()


def _sink(ctx, work, sr_batch) -> CommitClock:
    from jly_flink_spark.streaming.sinks import (
        AdbStyleSink,
        DualSink,
        LocalDirTransport,
        SrStyleSink,
    )

    if ctx.tracer is not None:
        from .tracing import TimedTransport

        transport = TimedTransport(str(work / "sr"), str(ctx.work / "spans"))
    else:
        transport = LocalDirTransport(str(work / "sr"))
    if ctx.transport_hook is not None:
        transport = ctx.transport_hook(transport)
    sink = DualSink(
        AdbStyleSink(str(work / "adb")),
        SrStyleSink(transport, batch_size=sr_batch),
        query_id="bench",
    )
    return CommitClock(sink, ctx.tracer)


def _streaming_jobs(spark, q) -> int:
    """Spark jobs the query ran: micro-batch execution puts every job of
    a run in a job group named after the run id."""
    st = spark.sparkContext.statusTracker()
    return len(st.getJobIdsForGroup(str(q.runId)))


class Phase:
    """One phase's measurements and what its checks need."""

    def __init__(self, ctx, name: str):
        self.name = name
        self.work = ctx.work / name
        self.problems: list[str] = []
        self.query = None
        self.epochs: list[dict] = []
        self.steady: list[dict] = []
        self.sink: CommitClock | None = None
        self.manifest = None
        self.n_jobs = 0
        self.n_sr_files = 0
        self.adb_rows: dict = {}
        self.gen_s = 0.0
        self.sample = None  # backlog: one input file, for the parse probe
        self.fresh: list[float] = []  # trickle: freshness per row, s
        self.late: list[float] = []  # trickle: generator lateness, s
        self.backlog_end = 0  # trickle: see _backlog_end

    def collect(self, ctx, listener) -> None:
        """After the query stopped: its epochs, its Spark jobs, and the
        read-back checks of both sinks against the manifest."""
        self.epochs = listener.epochs(self.query)
        self.n_jobs = _streaming_jobs(ctx.spark, self.query)
        self.problems += [
            f"{self.name}: epoch {e['batchId']} has no commit"
            for e in self.epochs
            if e["batchId"] not in self.sink.commits
        ]
        problems, self.adb_rows, self.n_sr_files = verify.check_cdc(
            self.manifest.to_json(), str(self.work / "adb"),
            str(self.work / "sr"), self.epochs,
        )
        self.problems += [f"{self.name}: {p}" for p in problems]


def _backlog_inputs(ctx, ph: Phase, seconds: float):
    """Write the backlog (three times; see common.build_repeatedly) and
    put its small warm-up file in the source directory. Returns the
    staging directory, the backlog's files and the source directory."""
    sizes = gen_cdc.backlog_sizes(seconds, common.cpu_count())

    def make(i):
        d = ph.work / f"gen{i}"
        m = gen_cdc.write_backlog(str(d), ctx.seed, sizes)
        files = sorted(os.listdir(d))
        return (d, m), common.digest_files(d / f for f in files) + repr(m.to_json())

    (stage, ph.manifest), ph.gen_s, ph.problems = common.build_repeatedly(make)
    src = ph.work / "src"
    src.mkdir()
    files = sorted(os.listdir(stage))
    os.rename(stage / files[0], src / files[0])
    ph.sample = src / files[1]
    return stage, files[1:], src


def _trickle_inputs(ctx, ph: Phase, window: float) -> dict[str, str]:
    """Check that the generator is deterministic over a window's worth of
    rows and create the empty per-instance logs."""

    def make(i):
        src = gen_cdc.EnvelopeSource(ctx.seed)
        rows = src.take(int(TRICKLE_RATE * window))
        return None, repr(rows) + repr(src.manifest.to_json())

    _, ph.gen_s, ph.problems = common.build_repeatedly(make)
    logdir = ph.work / "binlogs"
    logdir.mkdir(parents=True)
    logs = {i: str(logdir / f"{i}.log") for i in gen_cdc.instance_names()}
    for p in logs.values():
        open(p, "w").close()
    return logs


class TrickleGenerator(threading.Thread):
    """Open-loop writer: every ``TRICKLE_TICK_S`` it appends the lines
    that fell due since the last tick, each stamped with its own due
    time in ``ts_ms``. It does not slow down when the stream does."""

    def __init__(self, seed: int, logs: dict[str, str]):
        super().__init__(daemon=True)
        self.src = gen_cdc.EnvelopeSource(seed)
        self.logs = logs
        self.t0 = 0.0
        self.stop_at = float("inf")
        self.lateness: list[tuple[float, float]] = []  # (due, late_s)
        self.appended: list[tuple[float, int]] = []  # (write done, rows so far)
        self.error: BaseException | None = None

    def _append(self, handles, rows, first: int, due_of) -> None:
        by_inst: dict[str, list[str]] = {}
        for j, (inst, tmpl, has_ts) in enumerate(rows):
            ts_ms = int(due_of(first + j) * 1000)
            by_inst.setdefault(inst, []).append(
                gen_cdc.render(tmpl, has_ts, ts_ms) + "\n"
            )
        for inst, lines in by_inst.items():
            handles[inst].write("".join(lines))
            handles[inst].flush()

    def _open(self):
        return {k: open(p, "a", encoding="utf-8") for k, p in self.logs.items()}

    def burst(self, n: int) -> None:
        """Append ``n`` rows due now, before the loop starts, for the
        stream's cold first epoch to read during set-up."""
        now = time.time()
        handles = self._open()
        try:
            self._append(handles, self.src.take(n), 0, lambda _: now)
        finally:
            for h in handles.values():
                h.close()

    def start_at(self, t0: float, stop_at: float) -> None:
        self.t0 = t0
        self.stop_at = stop_at
        self.start()

    def run(self):
        try:
            self._run()
        except BaseException as e:  # noqa: BLE001 — surfaced by the caller
            self.error = e

    def _run(self):
        handles = self._open()
        try:
            n_done = 0
            tick = 1
            while True:
                due = self.t0 + tick * TRICKLE_TICK_S
                if due > self.stop_at:
                    break
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                n_due = int((due - self.t0) * TRICKLE_RATE)
                self._append(
                    handles, self.src.take(n_due - n_done), n_done + 1,
                    lambda i: self.t0 + i / TRICKLE_RATE,
                )
                n_done = n_due
                done = time.time()
                self.lateness.append((due, done - due))
                self.appended.append((done, self.src.manifest.n_input))
                tick += 1
        finally:
            for h in handles.values():
                h.close()


def _wait_until(cond, timeout: float, what: str, *queries) -> None:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline or not all(q.isActive for q in queries):
            raise RuntimeError(what)
        time.sleep(0.02)


def run_cdc(ctx) -> common.Outcome:
    """Half of ``--seconds`` drains the backlog; the trickle's measured
    window is the other half, rounded to whole trigger periods."""
    from jly_flink_spark.config import demo_task_config
    from jly_flink_spark.streaming.job import (
        start_archival_stream,
        streaming_pipeline_binlogs,
    )

    if ctx.tracer is not None:
        os.makedirs(ctx.work / "spans", exist_ok=True)
    half = ctx.seconds / 2
    # whole trigger periods, so every phase of the trigger is sampled alike
    window = TRICKLE_TRIGGER_S * max(1, round(half / TRICKLE_TRIGGER_S))
    bl, tr = Phase(ctx, "backlog"), Phase(ctx, "trickle")
    stage, backlog_files, src = _backlog_inputs(ctx, bl, half)
    logs = _trickle_inputs(ctx, tr, window)
    cfg = demo_task_config()
    k = common.cpu_count()
    bl.sink = _sink(ctx, bl.work, BACKLOG_SR_BATCH)
    tr.sink = _sink(ctx, tr.work, TRICKLE_SR_BATCH)
    gen = TrickleGenerator(ctx.seed, logs)
    listener = common.EpochListener()
    listener.attach(ctx.spark)
    try:
        # Set-up: both streams start, and run their cold first epochs,
        # side by side. The trickle then idles (no new rows, no epochs)
        # until its phase.
        t0 = time.perf_counter()
        bl.query = start_archival_stream(
            ctx.spark, str(src), cfg, bl.sink, str(bl.work / "ckpt"),
            trigger_seconds=0.5, max_files_per_trigger=k,
        )
        gen.burst(TRICKLE_WARMUP_ROWS)
        tr.query = (
            streaming_pipeline_binlogs(ctx.spark, logs, cfg)
            .writeStream.foreachBatch(tr.sink)
            .option("checkpointLocation", str(tr.work / "ckpt"))
            .trigger(processingTime=f"{TRICKLE_TRIGGER_S} seconds")
            .start()
        )
        bl.query.processAllAvailable()
        _wait_until(lambda: tr.sink.commits, 120,
                    "trickle: the warm-up epoch never committed", tr.query)
        warm_s = time.perf_counter() - t0

        # Backlog: release it all; its first epochs are still warming up.
        # A trigger may fire between two renames, so the epochs are not
        # counted: the phase ends when their progress events, which
        # arrive after processAllAvailable returns, add up to every row.
        release = time.time()
        for f in backlog_files:
            os.rename(stage / f, src / f)
        bl.query.processAllAvailable()
        n_in = bl.manifest.n_input
        try:
            _wait_until(
                lambda: sum(e["numInputRows"] for e in listener.epochs(bl.query)) >= n_in,
                60, f"backlog: the epochs reported fewer than {n_in} rows", bl.query,
            )
        except RuntimeError as e:
            bl.problems.append(str(e))
        bl.query.stop()
        warm_s += bl.sink.commits[BACKLOG_WARM_EPOCHS] - release

        # Trickle: the open loop runs for the window, then the stream
        # drains what it wrote.
        w0 = time.time()
        w1 = w0 + window
        gen.start_at(w0, w1)
        gen.join(timeout=window + 30)
        if gen.is_alive() or gen.error:
            raise RuntimeError(f"trickle: generator failed: {gen.error!r}")
        total = gen.src.manifest.n_input
        _wait_until(
            lambda: sum(e["numInputRows"] for e in listener.epochs(tr.query)) >= total,
            4 * TRICKLE_TRIGGER_S + 30, "trickle: the stream did not catch up",
            tr.query,
        )
        listener.wait_for_batch(tr.query, max(tr.sink.commits), 30)
        tr.query.stop()
    finally:
        gen.stop_at = 0.0
        if gen.is_alive():
            gen.join(timeout=30)
        for q in (bl.query, tr.query):
            if q is not None:
                q.stop()
        listener.detach(ctx.spark)
        if ctx.tracer is not None:
            ctx.tracer.enabled = True
    tr.manifest = gen.src.manifest
    bl.collect(ctx, listener)
    tr.collect(ctx, listener)
    bl_fig = _backlog_figures(bl, release)
    tr_fig = _trickle_figures(tr, gen, w0, w1)

    out = common.Outcome(
        attempted=len(bl.epochs) + len(tr.epochs),
        problems=bl.problems + tr.problems,
    )
    out.setup_parts = {"generate_s": bl.gen_s + tr.gen_s, "warmup_s": warm_s}
    out.e2e = {
        "throughput_per_s": bl_fig["cdc_rows_per_s"][0],
        "latency_s": common.quantile(tr.fresh, 0.5),
        "latency_p90_s": common.quantile(tr.fresh, 0.9),
    }
    out.report = {**bl_fig, **tr_fig}
    out.layers = _layers(ctx, bl, tr)
    if ctx.tracer is not None:
        out.overhead_ratio = _overhead_ratio(bl, tr)
    return out


def _backlog_figures(ph: Phase, release: float) -> dict:
    # epoch 0 drained the warm-up file before the release; the next
    # BACKLOG_WARM_EPOCHS are still on the JIT warm-up curve
    ph.steady = [e for e in ph.epochs if e["batchId"] > BACKLOG_WARM_EPOCHS]
    steady = ph.steady
    rows = sum(e["numInputRows"] for e in steady)
    start = min(common.iso_to_epoch_s(e["timestamp"]) for e in steady)
    end = max(ph.sink.commits[e["batchId"]] for e in steady)
    # per-epoch rates, so that one epoch slowed by a neighbour on the
    # machine moves the median less than it moves the total
    rates = [
        e["numInputRows"] / (e["durationMs"]["triggerExecution"] / 1000.0)
        for e in steady
    ]
    # how long after the backlog appeared each of its rows was archived
    archived = [
        ph.sink.commits[e] - release
        for e, rs in ph.adb_rows.items()
        if e >= 1
        for _ in rs
    ]
    trig = [e["durationMs"]["triggerExecution"] / 1000.0 for e in steady]
    return {
        "cdc_rows_per_s": (common.median(rates), "1/s"),
        "cdc_drain_rows_per_s": (rows / (end - start), "1/s"),
        "cdc_epoch_p50_s": (common.quantile(trig, 0.5), "s"),
        # p75, not p90: a run has far fewer than 100 epochs
        "cdc_epoch_p75_s": (common.quantile(trig, 0.75), "s"),
        "cdc_backlog_epochs": (len(trig), "count"),
        "cdc_backlog_archive_p50_s": (common.quantile(archived, 0.5), "s"),
        "cdc_backlog_archive_p90_s": (common.quantile(archived, 0.9), "s"),
        "cdc_backlog_archived_rows": (len(archived), "count"),
    }


def _trickle_figures(ph: Phase, gen: TrickleGenerator, w0: float, w1: float) -> dict:
    # freshness: a row's due time (its ts_ms) to its epoch's commit
    fresh_epochs = set()
    for e, rs in ph.adb_rows.items():
        for _, _, ts_ms in rs:
            due = ts_ms / 1000.0
            if w0 < due <= w1:
                ph.fresh.append(ph.sink.commits[e] - due)
                fresh_epochs.add(e)
    triggers = [common.iso_to_epoch_s(e["timestamp"]) for e in ph.epochs]
    inside = [i for i, t in enumerate(triggers) if w0 <= t <= w1]
    ph.steady = [ph.epochs[i] for i in inside]
    ph.late = [s for d, s in gen.lateness if w0 <= d <= w1]
    ph.backlog_end = _backlog_end(gen, ph.epochs, w1)
    return {
        "cdc_freshness_p50_s": (common.quantile(ph.fresh, 0.5), "s"),
        "cdc_freshness_p90_s": (common.quantile(ph.fresh, 0.9), "s"),
        "cdc_freshness_rows": (len(ph.fresh), "count"),
        "cdc_freshness_epochs": (len(fresh_epochs), "count"),
        "cdc_trickle_offered_per_s": (TRICKLE_RATE, "1/s"),
        # what the tailer handed the in-window epochs, per second since
        # the loop started: the offered rate while the stream keeps up,
        # less when it falls behind
        "cdc_trickle_ingest_per_s": (
            sum(e["numInputRows"] for e in ph.steady) / (triggers[inside[-1]] - w0),
            "1/s",
        ),
    }


def _backlog_end(gen, epochs, w1) -> int:
    """Rows appended before the last in-window trigger fired that the
    epoch it started did not read: about zero while the rate is
    sustainable."""
    read = 0
    last_trigger = None
    for e in epochs:
        t = common.iso_to_epoch_s(e["timestamp"])
        if t >= w1:
            break
        read += e["numInputRows"]
        last_trigger = t
    if last_trigger is None:
        return 0
    appended = max((n for done, n in gen.appended if done <= last_trigger), default=0)
    return max(0, appended - read)


def _p50(xs) -> float:
    return common.quantile(xs, 0.5) if xs else 0.0


def _layers(ctx, bl: Phase, tr: Phase) -> dict:
    def dur(ph, key):
        return [e["durationMs"].get(key, 0) for e in ph.steady]

    guards = {k: v + tr.manifest.guards[k] for k, v in bl.manifest.guards.items()}
    deletes = sum(v for k, v in guards.items() if k != "n_not_delete")
    archived = guards["n_archived"]
    adb_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for ph in ("backlog", "trickle")
        for r, _, fs in os.walk(ctx.work / ph / "adb" / "data")
        for f in fs
        if f.endswith(".parquet")
    )
    n_epochs = len(bl.epochs) + len(tr.epochs)
    n_sr = bl.n_sr_files + tr.n_sr_files
    trig = dur(tr, "triggerExecution")
    layers = {
        "sources.input_rows": sum(e["numInputRows"] for e in bl.epochs + tr.epochs),
        "sources.latest_offset_ms_p50": _p50(dur(tr, "latestOffset")),
        "sources.get_batch_ms_p50": _p50(dur(tr, "getBatch")),
        "pipeline.archived_rows": archived,
        "pipeline.guard_dropped_rows": deletes - archived,
        "pipeline.archive_yield": archived / deletes if deletes else 0.0,
        "job.trigger_ms_p50": _p50(trig),
        "job.trigger_ms_p90": common.quantile(trig, 0.9) if trig else 0.0,
        "job.add_batch_ms_p50": _p50(dur(tr, "addBatch")),
        "job.wal_commit_ms_p50": _p50(dur(tr, "walCommit")),
        "job.commit_offsets_ms_p50": _p50(dur(tr, "commitOffsets")),
        "job.query_planning_ms_p50": _p50(dur(tr, "queryPlanning")),
        "job.backlog_trigger_ms_p50": _p50(dur(bl, "triggerExecution")),
        "job.epochs": n_epochs,
        "job.spark_jobs_per_epoch": (bl.n_jobs + tr.n_jobs) / max(1, n_epochs),
        "job.backlog_end_rows": tr.backlog_end,
        "sinks.sr_requests": n_sr,
        "sinks.sr_rows_per_request": archived / max(1, n_sr),
        "sinks.adb_bytes_per_row": adb_bytes / max(1, archived),
        "bench.generator_late_p90_s": common.quantile(tr.late, 0.9),
    }
    if ctx.tracer is not None:
        layers.update(_sink_spans(ctx, bl, tr))
        layers.update(_sample_parse(ctx, bl.sample))
    return layers


def _sink_spans(ctx, bl: Phase, tr: Phase) -> dict:
    """Sink timings per epoch from the spans — the trickle's small epochs,
    and the DualSink call for the backlog's large ones — plus the Stream
    Load requests the workers timed."""
    from .tracing import read_puts

    tracer = ctx.tracer
    epoch_spans: dict[str, set] = {}
    for ph in (bl, tr):
        ids = set()
        for e in ph.epochs:
            start = common.iso_to_epoch_s(e["timestamp"])
            ids.add(
                tracer.record(
                    f"epoch.{ph.name}.{e['batchId']}", "streaming.job",
                    start, start + e["durationMs"]["triggerExecution"] / 1000.0,
                )
            )
        epoch_spans[ph.name] = ids
    tracer.adopt(sorted(epoch_spans["backlog"] | epoch_spans["trickle"]))

    def within(name, parents):
        spans = [
            s for s in tracer.spans if s["name"] == name and s["parent"] in parents
        ]
        return [s["end"] - s["start"] for s in spans], {s["id"] for s in spans}

    dual, dual_ids = within("sinks.DualSink.__call__", epoch_spans["trickle"])
    adb, _ = within("sinks.AdbStyleSink.write", dual_ids)
    sr, _ = within("sinks.SrStyleSink.write", dual_ids)
    puts = read_puts(str(ctx.work / "spans"))
    return {
        "sinks.dual_call_s_p50": _p50(dual),
        "sinks.adb_write_s_p50": _p50(adb),
        "sinks.sr_write_s_p50": _p50(sr),
        "sinks.persist_overhead_s_p50": _p50(
            [a - b - c for a, b, c in zip(dual, adb, sr)]
        ),
        "sinks.backlog_dual_call_s_p50": _p50(
            within("sinks.DualSink.__call__", epoch_spans["backlog"])[0]
        ),
        "sinks.sr_put_s_p50": _p50([p["end"] - p["start"] for p in puts]),
        "sinks.sr_label_skips": sum(
            1 for p in puts if p["status"] == "Label Already Exists"
        ),
    }


def _overhead_ratio(bl: Phase, tr: Phase) -> float:
    """Traced (odd) against untraced (even) steady epochs: the ratio of
    median trigger-to-commit times, averaged over the two phases."""
    ratios = []
    for ph in (bl, tr):
        odd = [e["durationMs"]["triggerExecution"] for e in ph.steady if e["batchId"] % 2]
        even = [
            e["durationMs"]["triggerExecution"]
            for e in ph.steady
            if not e["batchId"] % 2
        ]
        if odd and even:
            ratios.append(common.median(odd) / common.median(even))
    return sum(ratios) / len(ratios) if ratios else 1.0


def _sample_parse(ctx, path) -> dict:
    """Force ``parse_envelope_json`` alone, then the whole
    ``build_pipeline``, over one backlog file (a quarter of an epoch)
    read as a batch frame; the pipeline's own cost is the difference."""
    from pyspark.sql import functions as F

    from jly_flink_spark.config import demo_task_config
    from jly_flink_spark.pipeline import build_pipeline
    from jly_flink_spark.sources.envelopes import parse_envelope_json

    spark = ctx.spark
    raw = spark.read.text(str(path)).select(
        F.substring_index("value", "|", 1).alias("instance_name"),
        F.expr("substring(value, instr(value, '|') + 1)").alias("value"),
    )

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    parse_s, full_s = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        force(parse_envelope_json(raw))
        parse_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        force(build_pipeline(spark, parse_envelope_json(raw), demo_task_config()))
        full_s.append(time.perf_counter() - t0)
    p, f = common.median(parse_s), common.median(full_s)
    return {"sources.parse_s": p, "pipeline.build_s": max(0.0, f - p)}
