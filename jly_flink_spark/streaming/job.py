"""The streaming archival job: file-source envelope stream →
parse/filter/project/enrich (the batch pipeline, reused verbatim —
Structured Streaming executes the same logical plan incrementally) →
foreachBatch dual sink.

Maps the reference's runtime controls onto the micro-batch engine
(SURVEY.md §3.3):
- flushIntervalMs (T9, timer thread)  → trigger(processingTime=...)
- batchSize (T8, count trigger)       → maxFilesPerTrigger + sink chunking
- enableCheckpointing 60s (K5)        → checkpointLocation (offset log)
- snapshot/restore buffer state (K5)  → unnecessary: replayable source
                                        offsets + idempotent labels
- close/final flush (K6)              → query.stop() + epoch commit
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import TaskConfig
from ..pipeline import build_pipeline
from ..sources.envelopes import parse_envelope_json, read_envelope_stream
from .sinks import DualSink


def _envelope_lines(
    spark: SparkSession, envelope_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """(instance_name, value) stream of the envelope files, whose
    lines are `<instance_name>|<envelope json>`."""
    from pyspark.sql import functions as F

    return read_envelope_stream(
        spark, envelope_dir, max_files_per_trigger=max_files_per_trigger
    ).select(
        F.substring_index("value", "|", 1).alias("instance_name"),
        F.expr("substring(value, instr(value, '|') + 1)").alias("value"),
    )


def streaming_pipeline(
    spark: SparkSession,
    envelope_dir: str,
    cfg: TaskConfig,
    instance_col_from: str = "file",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming envelope source → target rows. The envelope files
    carry `instance_name|json` lines (the harness encoding of the
    per-source streams the reference unions — StartJob.java:52-92)."""
    parsed = parse_envelope_json(
        _envelope_lines(spark, envelope_dir, max_files_per_trigger)
    )
    # T2 log-and-drop observability (StartJob.java:128-151): per-epoch
    # guard-drop counters ride on the stream via observe() and surface
    # in StreamingQueryProgress.observedMetrics["guards"].
    from ..pipeline import observe_guard_drops

    return build_pipeline(spark, observe_guard_drops(parsed), cfg)


def streaming_pipeline_binlogs(
    spark: SparkSession,
    instance_logs: dict[str, str],
    cfg: TaskConfig,
) -> DataFrame:
    """Target-row stream from one NATIVE binlog tailer per instance
    (`sources/binlog_source.py`) — the closest Spark shape to the
    reference's per-instance `MySqlSource` list unioned into one
    dataflow (StartJob.java:52-92, T5): each source keeps its own
    byte-position offset in the shared checkpoint, the union happens
    BEFORE the one parse/filter/enrich plan, and recovery resumes
    every instance at its committed position independently."""
    from functools import reduce

    from pyspark.sql import functions as F

    from ..pipeline import observe_guard_drops
    from ..sources.binlog_source import read_binlog_stream

    if not instance_logs:
        raise ValueError("instance_logs must be non-empty")
    streams = [
        read_binlog_stream(spark, path).select(
            F.lit(instance).alias("instance_name"), "value"
        )
        for instance, path in sorted(instance_logs.items())
    ]
    raw = reduce(lambda a, b: a.unionByName(b), streams)
    parsed = parse_envelope_json(raw)
    return build_pipeline(spark, observe_guard_drops(parsed), cfg)


def start_archival_stream(
    spark: SparkSession,
    envelope_dir: str,
    cfg: TaskConfig,
    sink: DualSink,
    checkpoint_dir: str,
    trigger_seconds: float = 5.0,
    max_files_per_trigger: int = 1,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Start the delete-archival stream (the Spark analog of
    StartJob.main wiring + env.execute, StartJob.java:36-108).

    With `quarantine_dir`, malformed envelopes are split out inside
    each micro-batch and appended there as parquet (raw line kept for
    replay-after-fix) instead of poisoning the stream — one source,
    one checkpoint, both outputs written in the same epoch, so the
    quarantine inherits the stream's at-least-once guarantee."""
    from pyspark.sql import functions as F

    if quarantine_dir is None:
        target = streaming_pipeline(
            spark, envelope_dir, cfg,
            max_files_per_trigger=max_files_per_trigger,
        )
        return (
            target.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )

    from ..pipeline import observe_guard_drops
    from ..sources.envelopes import parse_envelope_json_flagged, split_flagged

    raw = _envelope_lines(spark, envelope_dir, max_files_per_trigger)
    # Parse ONCE in the streaming projection (flag column, no split):
    # the T2 guard counters then ride the stream exactly as in the
    # non-quarantine path (bad rows have NULL op, so the guard
    # cascade skips them), plus a quarantine counter — and the
    # foreachBatch below only filters the already-parsed frame
    # instead of re-running from_json up to three times per epoch.
    flagged = observe_guard_drops(
        parse_envelope_json_flagged(raw)
    ).observe(
        "quarantine",
        F.count(F.when(F.col("_is_bad"), 1)).alias("n_quarantined"),
    )

    def split_and_sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            good, bad = split_flagged(batch_df)
            if bad.limit(1).count() > 0:
                bad.write.mode("append").parquet(quarantine_dir)
            sink(build_pipeline(spark, good, cfg), epoch_id)
        finally:
            batch_df.unpersist()

    return (
        flagged.writeStream.foreachBatch(split_and_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def run_archival_once(
    spark: SparkSession,
    envelope_dir: str,
    cfg: TaskConfig,
    sink: DualSink,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    quarantine_dir: str | None = None,
) -> None:
    """Drain everything currently in the source and stop — the
    harness/run-to-completion mode (processAllAvailable ≈ the
    reference's graceful close K6: flush all, then shut down)."""
    q = start_archival_stream(
        spark,
        envelope_dir,
        cfg,
        sink,
        checkpoint_dir,
        trigger_seconds=0.5,
        max_files_per_trigger=max_files_per_trigger,
        quarantine_dir=quarantine_dir,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def replay_quarantine(
    spark: SparkSession,
    quarantine_dir: str,
    cfg: TaskConfig,
    sink: DualSink,
    epoch_id: int,
) -> tuple[int, int]:
    """Re-run quarantined envelopes through the pipeline after a
    parser/producer fix — the operational closing of the quarantine
    loop: rows that now parse are archived through the SAME sink
    (under the caller-chosen replay epoch, so the labels/cleanup keys
    are idempotent like any other epoch), rows that still fail stay
    quarantined for the next fix. Returns (n_archived, n_still_bad).

    This is a BATCH job over the quarantine parquet (raw lines were
    preserved verbatim for exactly this), so it can run any time
    without touching the live stream or its checkpoint; remove or
    archive the quarantine dir afterwards to avoid re-replaying the
    same rows."""
    from pyspark.sql import functions as F

    from ..sources.envelopes import parse_envelope_json_flagged, split_flagged

    raw = spark.read.parquet(quarantine_dir).select(
        "instance_name", F.col("raw_value").alias("value")
    )
    flagged = parse_envelope_json_flagged(raw).persist()
    try:
        good, bad = split_flagged(flagged)
        still_bad = bad.count()
        target = build_pipeline(spark, good, cfg).persist()
        try:
            n_archived = target.count()
            if n_archived:
                sink(target, epoch_id)
        finally:
            target.unpersist()
    finally:
        flagged.unpersist()
    return n_archived, still_bad
