"""Structured Streaming parity tests (SURVEY.md §5.2-5.3): the full
parse→filter→project→enrich→route pipeline running as a file-source
stream with foreachBatch dual sinks, checkpoint recovery, label
idempotency, and event-time windows with watermarks."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from jly_flink_spark.config import demo_task_config
from jly_flink_spark.pipeline import build_pipeline
from jly_flink_spark.session import REFERENCE_TZ
from jly_flink_spark.streaming.job import (
    run_archival_once,
    start_archival_stream,
)
from jly_flink_spark.streaming.sinks import (
    SINK_COLUMNS,
    AdbStyleSink,
    DualSink,
    LocalDirTransport,
    SrStyleSink,
)

CFG = demo_task_config()

# instance|envelope-json lines, split across files (one per micro-batch
# with maxFilesPerTrigger=1) — FIXTURES.md §4.
EVENTS = [
    ("src-0", "d", 1754000000000, "t_orders", {"id": "1", "v": "10.5"}),
    ("src-0", "i", 1754000001000, "t_orders", {"id": "2"}),
    ("src-1", "d", 1754000002000, "t_items", {"id": "3", "x": "y"}),
    ("src-1", "d", 0, "t_items", {"id": "4"}),  # bad ts guard
    ("src-2", "d", 1754000004000, "", {"id": "5"}),  # blank table guard
    ("src-2", "d", 1754000005000, "t_orders", None),  # null before guard
    ("src-0", "u", 1754000006000, "t_orders", {"id": "6"}),
    ("src-1", "d", 1754000007000, "t_orders", {"id": "7", "n": "1"}),
    # op=null (malformed envelope): must land in n_not_delete, not in
    # NO bucket — `~(NULL == 'd')` is NULL without the coalesce
    ("src-2", None, 1754000008000, "t_orders", {"id": "8"}),
]


def _envelope_line(instance, op, ts_ms, table, before):
    env = {
        "op": op,
        "ts_ms": ts_ms,
        "source": {"db": "demo", "table": table},
        "before": before,
    }
    return f"{instance}|{json.dumps(env, separators=(',', ':'))}"


def _write_envelope_files(path, events, per_file=3):
    os.makedirs(path, exist_ok=True)
    for fi in range(0, len(events), per_file):
        with open(os.path.join(path, f"batch_{fi:04d}.txt"), "w") as f:
            for ev in events[fi : fi + per_file]:
                f.write(_envelope_line(*ev) + "\n")


@pytest.fixture()
def stream_dirs(tmp_path):
    env_dir = str(tmp_path / "envelopes")
    _write_envelope_files(env_dir, EVENTS)
    return {
        "env": env_dir,
        "ckpt": str(tmp_path / "ckpt"),
        "adb": str(tmp_path / "adb"),
        "sr": str(tmp_path / "sr"),
    }


def _make_sink(dirs, spark):
    adb = AdbStyleSink(dirs["adb"])
    sr = SrStyleSink(LocalDirTransport(dirs["sr"]), batch_size=2)
    return DualSink(adb, sr)


EXPECTED_IDS = {"1", "3", "7"}  # deletes surviving all guards


def test_stream_end_to_end_dual_sink(spark, stream_dirs):
    run_archival_once(
        spark, stream_dirs["env"], CFG, _make_sink(stream_dirs, spark),
        stream_dirs["ckpt"],
    )
    # ADB-style sink: archived parquet matches the surviving deletes
    archived = spark.read.parquet(os.path.join(stream_dirs["adb"], "data"))
    rows = {r["id"]: r for r in archived.collect()}
    assert set(rows) == EXPECTED_IDS
    assert rows["1"]["fb_no"] == "FB0"
    assert rows["3"]["db_tb_name"] == "demo_t_items"
    assert rows["1"]["data_json"] == '{"id":"1","v":"10.5"}'
    # SR-style sink: every surviving row loaded exactly once
    loaded_ids = []
    for f in glob.glob(os.path.join(stream_dirs["sr"], "*", "*.json")):
        with open(f) as fh:
            loaded_ids += [r["id"] for r in json.load(fh)]
    assert sorted(loaded_ids) == sorted(EXPECTED_IDS)


def test_stream_restart_is_idempotent(spark, stream_dirs):
    sink = _make_sink(stream_dirs, spark)
    run_archival_once(
        spark, stream_dirs["env"], CFG, sink, stream_dirs["ckpt"]
    )
    # New envelope file arrives; restart from the same checkpoint.
    _write_envelope_files(
        stream_dirs["env"] + "_extra", []
    )  # no-op, keep helper exercised
    with open(
        os.path.join(stream_dirs["env"], "batch_9999.txt"), "w"
    ) as f:
        f.write(
            _envelope_line(
                "src-2", "d", 1754000008000, "t_items", {"id": "8"}
            )
            + "\n"
        )
    run_archival_once(
        spark, stream_dirs["env"], CFG, sink, stream_dirs["ckpt"]
    )
    archived = spark.read.parquet(os.path.join(stream_dirs["adb"], "data"))
    ids = [r["id"] for r in archived.collect()]
    # old rows not re-written (offsets committed), new row exactly once
    assert sorted(ids) == sorted(EXPECTED_IDS | {"8"})


def test_sr_label_replay_dedup(spark, stream_dirs):
    """Replaying the same epoch must not duplicate loads (K4)."""
    sink = _make_sink(stream_dirs, spark)
    target = build_pipeline(
        spark,
        spark.createDataFrame(
            [("src-0", "d", 1754000000000, "t_orders", '{"id":"42"}')],
            "instance_name string, op string, ts_ms long, "
            "source_table string, before string",
        ),
        CFG,
    )
    sink.sr.write(target, epoch_id=7)
    sink.sr.write(target, epoch_id=7)  # replay, same epoch
    files = glob.glob(os.path.join(stream_dirs["sr"], "*", "*.json"))
    all_ids = []
    for f in files:
        with open(f) as fh:
            all_ids += [r["id"] for r in json.load(fh)]
    assert all_ids == ["42"]  # loaded exactly once
    sink.sr.write(target, epoch_id=8)  # a new epoch loads again
    files = glob.glob(os.path.join(stream_dirs["sr"], "*", "*.json"))
    assert len(files) == 2


def test_sr_chunking_respects_batch_size(spark, stream_dirs):
    sink = SrStyleSink(LocalDirTransport(stream_dirs["sr"]), batch_size=2)
    rows = [
        ("src-0", "d", 1754000000000 + i, "t_orders", f'{{"id":"{i}"}}')
        for i in range(5)
    ]
    target = build_pipeline(
        spark,
        spark.createDataFrame(
            rows,
            "instance_name string, op string, ts_ms long, "
            "source_table string, before string",
        ),
        CFG,
    ).coalesce(1)
    sink.write(target, epoch_id=1)
    files = glob.glob(os.path.join(stream_dirs["sr"], "*", "*.json"))
    sizes = sorted(len(json.load(open(f))) for f in files)
    assert sizes == [1, 2, 2]  # Lists.partition(5, 2) semantics


def test_streaming_windowed_agg_matches_batch(spark, tmp_path):
    """The tumbling-window plan produces identical results in batch
    and in streaming (file source + watermark + append mode)."""
    from jly_flink_spark.io import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    # stream the same rows from parquet files
    stream_src = str(tmp_path / "events_stream")
    events.write.parquet(stream_src)
    sdf = (
        spark.readStream.schema(events.schema).parquet(stream_src)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    q = (
        sdf.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["ws"], r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
    finally:
        q.stop()
    want = {(r["ws"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids across micro-batches collapse to one row
    each, matching batch dropDuplicates on the same key set."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.streaming.stateful import dedup_within_watermark

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    # duplicate every row into a second file: redelivery simulation
    src = str(tmp_path / "dup_stream")
    events.write.parquet(src)
    events.write.mode("append").parquet(src)

    sdf = spark.readStream.schema(events.schema).parquet(src)
    deduped = dedup_within_watermark(
        sdf, ["event_id"], ts_col="ts", delay="10 minutes"
    ).select("event_id")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            r["event_id"]
            for r in spark.sql("SELECT * FROM dedup_out").collect()
        )
    finally:
        q.stop()
    want = sorted(r["event_id"] for r in events.select("event_id").collect())
    assert got == want


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    dimension must broadcast the dim per micro-batch (the streaming
    mirror of the reference's T6 lookup, AdbSink.java:88-90)."""
    from pyspark.sql import functions as F_
    from jly_flink_spark.io import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    src = str(tmp_path / "enrich_stream")
    events.write.parquet(src)

    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("buy", "revenue")],
        "event_type string, category string",
    )
    sdf = spark.readStream.schema(events.schema).parquet(src)
    enriched = sdf.join(F_.broadcast(dim), "event_type", "left").select(
        "event_id", "event_type", "category"
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM enrich_out").collect()
    finally:
        q.stop()
    assert len(rows) == 100
    cats = {r["event_type"]: r["category"] for r in rows if r["category"]}
    for et, cat in cats.items():
        assert cat == ("revenue" if et == "buy" else "engagement")


class TestIncrementalRollup:
    def _batch_truth(self, spark, events):
        return {
            (r["ws"], r["event_type"]): (r["n"], r["s"])
            for r in events.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n"),
                (
                    F.sum(
                        F.floor(F.col("value") * 10000).cast("decimal(38,0)")
                    ).cast("double")
                    / 10000
                ).alias("s"),
            )
            .select(F.col("window.start").alias("ws"), "event_type", "n", "s")
            .collect()
        }

    @pytest.mark.slow
    def test_rollup_store_matches_batch(self, spark, tmp_path):
        from jly_flink_spark.io import load_table
        from jly_flink_spark.streaming.rollup import run_hourly_rollup_once

        events = load_table(spark, "/root/testdata/sf0.001", "events")
        src = str(tmp_path / "src")
        # two arrivals: history, then late-arriving remainder
        first = events.filter(F.col("event_id") % 3 != 0)
        rest = events.filter(F.col("event_id") % 3 == 0)
        first.write.parquet(src)
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        # the synthetic events span ~1 month; the second arrival is
        # arbitrarily 'late' relative to event time, so the lateness
        # SLA (watermark) must cover the full span
        run_hourly_rollup_once(
            spark, src, events.schema, store, ckpt, watermark="90 days"
        )
        rest.write.mode("append").parquet(src)
        run_hourly_rollup_once(
            spark, src, events.schema, store, ckpt, watermark="90 days"
        )

        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(store).collect()
        }
        assert got == self._batch_truth(spark, events)

    @pytest.mark.slow
    def test_rollup_idempotent_when_no_new_data(self, spark, tmp_path):
        from jly_flink_spark.io import load_table
        from jly_flink_spark.streaming.rollup import run_hourly_rollup_once

        events = load_table(spark, "/root/testdata/sf0.001", "events")
        src = str(tmp_path / "src")
        events.write.parquet(src)
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        run_hourly_rollup_once(spark, src, events.schema, store, ckpt)
        before = sorted(
            map(tuple, spark.read.parquet(store).collect())
        )
        # re-drain with nothing new: store must not change
        run_hourly_rollup_once(spark, src, events.schema, store, ckpt)
        after = sorted(map(tuple, spark.read.parquet(store).collect()))
        assert after == before


def test_observe_guard_drop_counters(spark, stream_dirs):
    """T2 log-and-drop observability (StartJob.java:128-151): the
    archival stream exposes per-epoch guard-drop counters via
    observe(); summed over epochs they reconcile exactly with the
    fixture's known violations and archived rows. The DualSink's Arrow
    collect is each epoch's only action, so the counters fire on it."""
    from jly_flink_spark.streaming.job import start_archival_stream

    sink = _make_sink(stream_dirs, spark)
    q = start_archival_stream(
        spark,
        stream_dirs["env"],
        CFG,
        sink,
        stream_dirs["ckpt"],
        trigger_seconds=0.5,
    )
    try:
        q.processAllAvailable()
        totals = {}
        for p in q.recentProgress:
            guards = (p.get("observedMetrics") or {}).get("guards")
            if guards is not None:  # a Row per observed epoch
                for k, v in guards.asDict().items():
                    totals[k] = totals.get(k, 0) + v
    finally:
        q.stop()
    # EVENTS fixture: 3 non-deletes (i/u/null-op), 1 blank-table, 1
    # null-before, 1 bad-ts delete dropped; 3 deletes archived
    # (ids 1, 3, 7); no missing-id case. Buckets sum to len(EVENTS).
    assert totals == {
        "n_not_delete": 3,
        "n_blank_table": 1,
        "n_null_before": 1,
        "n_no_id": 0,
        "n_bad_ts": 1,
        "n_archived": 3,
    }
    assert sum(totals.values()) == len(EVENTS)


def test_adb_partial_epoch_replay_is_clean(spark, stream_dirs):
    """A crash between a partial parquet write and the ledger commit
    must not duplicate rows on replay: the epoch overwrites its own
    partition directory (parquet analog of DELETE-then-INSERT)."""
    sink = AdbStyleSink(stream_dirs["adb"])
    rows = [
        ("src-0", "d", 1754000000000 + i, "t_orders", f'{{"id":"{i}"}}')
        for i in range(2)
    ]
    target = build_pipeline(
        spark,
        spark.createDataFrame(
            rows,
            "instance_name string, op string, ts_ms long, "
            "source_table string, before string",
        ),
        CFG,
    )
    # simulate the crashed attempt: files exist, ledger was never
    # committed
    epoch_dir = os.path.join(stream_dirs["adb"], "data", "epoch_id=5")
    target.limit(1).write.partitionBy("db_tb_name").parquet(epoch_dir)

    sink.write(target, epoch_id=5)  # replay of the failed epoch
    data_dir = os.path.join(stream_dirs["adb"], "data")
    assert sorted(
        r["id"] for r in spark.read.parquet(data_dir).collect()
    ) == ["0", "1"]

    sink.write(target, epoch_id=5)  # committed epoch: no-op
    assert spark.read.parquet(data_dir).count() == 2


class _CrashOnLabelTransport:
    """LocalDirTransport wrapper that raises when asked to commit one
    specific label — a deterministic mid-epoch crash AFTER earlier
    chunks of the same partition already committed (SrSink.java's
    flush-then-snapshot window, K4/K5). Label matching works across
    Python worker processes because the committed state lives on
    disk, not in this object."""

    def __init__(self, inner, crash_label_suffix):
        self.inner = inner
        self.crash_label_suffix = crash_label_suffix

    def put(self, db_tb_name, label, payload):
        if label.endswith(self.crash_label_suffix):
            raise RuntimeError(f"injected crash before commit of {label}")
        return self.inner.put(db_tb_name, label, payload)


def test_sink_crash_mid_epoch_recovers_exactly_once(spark, tmp_path):
    """Kill the streaming query MID-EPOCH — after some Stream-Load
    chunks committed but before the epoch finished — then restart
    from the checkpoint. Deterministic labels + sorted-before-chunk
    contents must yield exactly-once table contents: committed chunks
    dedup byte-identically, the crashed chunk commits on replay, and
    the ADB side (whose ledger label the failed pass never wrote)
    wipes and rewrites its epoch."""
    env_dir = str(tmp_path / "env")
    # one epoch: 4 t_orders deletes (2 chunks at batch_size=2) + 2
    # t_items deletes (1 chunk) — crash on the orders SECOND chunk,
    # so chunk 0 is a committed partial when the query dies
    events = [
        ("src-0", "d", 1754000000000 + i, "t_orders",
         {"id": str(i), "v": f"{i}.5"})
        for i in range(1, 5)
    ] + [
        ("src-1", "d", 1754000010000 + i, "t_items", {"id": str(i)})
        for i in range(5, 7)
    ]
    _write_envelope_files(env_dir, events, per_file=len(events))

    sr_root = str(tmp_path / "sr")
    ckpt = str(tmp_path / "ckpt")
    local = LocalDirTransport(sr_root)
    crashing = DualSink(
        AdbStyleSink(str(tmp_path / "adb")),
        SrStyleSink(
            _CrashOnLabelTransport(local, "_demo_t_orders_1"),
            batch_size=2,
        ),
    )
    q = start_archival_stream(
        spark, env_dir, CFG, crashing, ckpt, trigger_seconds=0.5
    )
    with pytest.raises(Exception, match="injected crash"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # the crash window is real: some chunks committed, not all
    committed = sorted(
        os.path.relpath(f, sr_root)
        for f in glob.glob(os.path.join(sr_root, "*", "*.json"))
    )
    assert any("_demo_t_orders_0" in f for f in committed)
    assert not any("_demo_t_orders_1" in f for f in committed)
    pre_crash_bytes = {
        f: open(os.path.join(sr_root, f), "rb").read() for f in committed
    }

    # restart from the same checkpoint with a healthy transport
    healthy = DualSink(
        AdbStyleSink(str(tmp_path / "adb")),
        SrStyleSink(local, batch_size=2),
    )
    run_archival_once(spark, env_dir, CFG, healthy, ckpt)

    # exactly-once: every delete loaded once, across both sinks
    loaded = []
    for f in glob.glob(os.path.join(sr_root, "*", "*.json")):
        with open(f) as fh:
            loaded += [r["id"] for r in json.load(fh)]
    assert sorted(loaded) == [str(i) for i in range(1, 7)]
    adb_rows = spark.read.parquet(
        os.path.join(str(tmp_path / "adb"), "data")
    )
    assert sorted(r["id"] for r in adb_rows.collect()) == [
        str(i) for i in range(1, 7)
    ]
    # replay re-produced byte-identical chunks: pre-crash files
    # untouched (same labels, same sorted contents)
    for f, blob in pre_crash_bytes.items():
        assert open(os.path.join(sr_root, f), "rb").read() == blob


class TestJdbcAdbSink:
    """The real df.write.jdbc code path (AdbSink.java:111-127) against
    embedded Derby — the JDBC driver Spark bundles."""

    def _target(self, spark, ids):
        rows = [
            ("src-0", "d", 1754000000000 + i, "t_orders", f'{{"id":"{i}"}}')
            for i in ids
        ]
        return build_pipeline(
            spark,
            spark.createDataFrame(
                rows,
                "instance_name string, op string, ts_ms long, "
                "source_table string, before string",
            ),
            CFG,
        )

    def test_epoch_replay_idempotent(self, spark, tmp_path):
        from jly_flink_spark.streaming.sinks import JdbcAdbSink

        url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
        sink = JdbcAdbSink(url=url, table="delete_archive")
        target = self._target(spark, [1, 2])

        sink.write(target, epoch_id=0)
        sink.write(target, epoch_id=0)  # replayed epoch: wiped + rewritten
        read = (
            spark.read.option("driver", sink.driver)
            .jdbc(url, "delete_archive")
        )
        assert read.count() == 2
        assert sorted(r["id"] for r in read.collect()) == ["1", "2"]

        sink.write(self._target(spark, [3]), epoch_id=1)
        read = (
            spark.read.option("driver", sink.driver)
            .jdbc(url, "delete_archive")
        )
        assert sorted(r["id"] for r in read.collect()) == ["1", "2", "3"]
        per_epoch = {
            r["epoch_id"]: r["n"]
            for r in read.groupBy("epoch_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert per_epoch == {0: 2, 1: 1}

    def test_cleanup_failure_mentioning_sqlstate_still_raises(self):
        """The first-epoch 'table missing' tolerance must decide on
        the STRUCTURED SQLState, not a substring: a genuine cleanup
        failure whose message merely mentions 42S02 (e.g. a wrapped
        error referencing another statement) must surface — silently
        swallowing it would let replays duplicate rows."""
        from jly_flink_spark.streaming.sinks import _is_missing_table_error

        class FakeJavaExc:
            def __init__(self, state, cause=None):
                self._state, self._cause = state, cause

            def getSQLState(self):
                return self._state

            def getCause(self):
                return self._cause

        class FakePy4JError(Exception):
            def __init__(self, msg, java_exception=None):
                super().__init__(msg)
                self.java_exception = java_exception

        # genuine failure that MENTIONS the state in its text → raise
        assert not _is_missing_table_error(
            FakePy4JError(
                "lock timeout while running cleanup (statement X "
                "earlier failed with SQLState 42S02)",
                FakeJavaExc("40XL1"),
            )
        )
        # real table-missing states, incl. one behind a stateless wrapper
        for st in ("42S02", "42X05", "42P01"):
            assert _is_missing_table_error(
                FakePy4JError("boom", FakeJavaExc(st))
            )
        assert _is_missing_table_error(
            FakePy4JError("boom", FakeJavaExc(None, FakeJavaExc("42S02")))
        )
        # no structured state anywhere → anchored message fallback only
        assert _is_missing_table_error(
            FakePy4JError("Table 'x.delete_archive' doesn't exist")
        )
        assert not _is_missing_table_error(
            FakePy4JError("deadlock found; see SQLState 42s02 docs")
        )

    def test_first_epoch_without_table_is_tolerated(self, spark, tmp_path):
        """End-to-end on real Derby: the very first write (no table
        yet) must survive the DELETE-cleanup failing with Derby's
        actual 42X05, proving the SQLState walk matches what the
        bundled driver really throws."""
        from jly_flink_spark.streaming.sinks import JdbcAdbSink

        url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
        sink = JdbcAdbSink(url=url, table="delete_archive")
        sink.write(self._target(spark, [7]), epoch_id=0)
        read = (
            spark.read.option("driver", sink.driver)
            .jdbc(url, "delete_archive")
        )
        assert [r["id"] for r in read.collect()] == ["7"]


def test_stream_end_to_end_through_jdbc(spark, stream_dirs, tmp_path):
    """The archival stream draining into the REAL JDBC code path
    (foreachBatch → JdbcAdbSink → embedded Derby), with a restart to
    prove offset + epoch idempotency across the full wiring."""
    from jly_flink_spark.streaming.sinks import JdbcAdbSink

    url = f"jdbc:derby:{tmp_path}/stream_derby;create=true"
    jdbc_sink = JdbcAdbSink(url=url, table="delete_archive")
    run_archival_once(
        spark, stream_dirs["env"], CFG, jdbc_sink, stream_dirs["ckpt"]
    )
    read = lambda: (  # noqa: E731
        spark.read.option("driver", jdbc_sink.driver)
        .jdbc(url, "delete_archive")
    )
    assert sorted(r["id"] for r in read().collect()) == sorted(EXPECTED_IDS)
    # restart from the same checkpoint with one new envelope
    with open(
        os.path.join(stream_dirs["env"], "batch_8888.txt"), "w"
    ) as f:
        f.write(
            _envelope_line(
                "src-1", "d", 1754000009000, "t_orders", {"id": "99"}
            )
            + "\n"
        )
    run_archival_once(
        spark, stream_dirs["env"], CFG, jdbc_sink, stream_dirs["ckpt"]
    )
    assert sorted(r["id"] for r in read().collect()) == sorted(
        EXPECTED_IDS | {"99"}
    )


@pytest.fixture()
def stream_load_stub():
    """A local FE/BE stub: PUTs to /api/... answer 307 with a Location
    pointing at the /be/... path (like a StarRocks FE handing the load
    to a backend); the BE registers labels and answers 'Label Already
    Exists' on duplicates."""
    import http.server
    import threading

    labels: dict = {}
    log: list = []

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_PUT(self):
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length)
            log.append(
                {"path": self.path, "headers": dict(self.headers), "body": body}
            )
            if not self.path.startswith("/be/"):
                self.send_response(307)
                self.send_header(
                    "Location",
                    f"http://127.0.0.1:{self.server.server_port}/be{self.path}",
                )
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            label = self.headers.get("label")
            if label in labels:
                resp = {"Status": "Label Already Exists"}
            else:
                labels[label] = body
                resp = {"Status": "Success"}
            data = json.dumps(resp).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv, labels, log
    srv.shutdown()


class TestHttpStreamLoadTransport:
    def test_wire_contract_and_redirect(self, stream_load_stub):
        import base64

        from jly_flink_spark.streaming.sinks import HttpStreamLoadTransport

        srv, labels, log = stream_load_stub
        t = HttpStreamLoadTransport(
            f"http://127.0.0.1:{srv.server_port}",
            db="demo",
            user="u",
            password="pw",
        )
        payload = json.dumps(
            [{"id": "1", "record_del_time": "t", "fb_no": "FB0",
              "data_json": "{}"}]
        )
        assert t.put("demo_t_orders", "lab_1", payload)["Status"] == "Success"
        # duplicate label → dedup (SrSink.java:126-129)
        assert (
            t.put("demo_t_orders", "lab_1", payload)["Status"]
            == "Label Already Exists"
        )
        # FE got the PUT, then the client re-issued it at the redirect
        # target with body + headers intact (SrStreamLoadClient.java:70-79)
        fe, be = log[0], log[1]
        assert fe["path"] == "/api/demo/demo_t_orders/_stream_load"
        assert be["path"] == "/be/api/demo/demo_t_orders/_stream_load"
        assert be["body"] == payload.encode("utf-8")
        expect_auth = "Basic " + base64.b64encode(b"u:pw").decode()
        for req in (fe, be):
            # HTTP header names are case-insensitive (urllib
            # capitalizes them; a real FE lowercases on receipt)
            h = {k.lower(): v for k, v in req["headers"].items()}
            assert h["authorization"] == expect_auth
            assert h["format"] == "json"
            assert h["strip_outer_array"] == "true"
            assert "$.id" in h["jsonpaths"]
            assert h["label"] == "lab_1"
            # server-side load limits (SrStreamLoadClient.java:52-53)
            assert h["load_mem_limit"] == str(5 * 1024**3)
            assert h["timeout"] == "1200"

    def test_sr_sink_through_http(self, spark, stream_load_stub):
        from jly_flink_spark.streaming.sinks import HttpStreamLoadTransport

        srv, labels, log = stream_load_stub
        transport = HttpStreamLoadTransport(
            f"http://127.0.0.1:{srv.server_port}", db="demo"
        )
        sink = SrStyleSink(transport, batch_size=2)
        rows = [
            ("src-0", "d", 1754000000000 + i, "t_orders", f'{{"id":"{i}"}}')
            for i in range(5)
        ]
        target = build_pipeline(
            spark,
            spark.createDataFrame(
                rows,
                "instance_name string, op string, ts_ms long, "
                "source_table string, before string",
            ),
            CFG,
        )
        sink.write(target, epoch_id=3)
        loaded = [json.loads(v) for v in labels.values()]
        ids = sorted(r["id"] for chunk in loaded for r in chunk)
        assert ids == ["0", "1", "2", "3", "4"]
        assert sorted(len(c) for c in loaded) == [1, 2, 2]
        n_labels = len(labels)
        sink.write(target, epoch_id=3)  # replay: all labels dedup
        assert len(labels) == n_labels
        ids = sorted(
            r["id"]
            for chunk in (json.loads(v) for v in labels.values())
            for r in chunk
        )
        assert ids == ["0", "1", "2", "3", "4"]


def test_stream_quarantine_splits_poison_messages(spark, tmp_path):
    """A poison envelope in the stream lands in the quarantine dir
    (raw line intact) while every well-formed event still archives."""
    from jly_flink_spark.streaming.job import run_archival_once

    env_dir = str(tmp_path / "envelopes")
    _write_envelope_files(env_dir, EVENTS)
    with open(f"{env_dir}/batch_poison.txt", "w") as f:
        f.write("src-9|{broken json\n")
    dirs = {
        "adb": str(tmp_path / "adb"),
        "sr": str(tmp_path / "sr"),
        "ledger": str(tmp_path / "ledger"),
    }
    sink = _make_sink(dirs, spark)
    qdir = str(tmp_path / "quarantine")
    run_archival_once(
        spark, env_dir, CFG, sink, str(tmp_path / "ckpt"),
        quarantine_dir=qdir,
    )
    bad = spark.read.parquet(qdir).collect()
    assert len(bad) == 1 and "{broken json" in bad[0]["raw_value"]
    adb = spark.read.parquet(dirs["adb"])
    # the three valid deletes still archived (ids 1, 3, 7)
    assert sorted(r["id"] for r in adb.collect()) == ["1", "3", "7"]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream event-time interval join (views ⋈ clicks within
    [0, 30 min] per user) produces exactly the batch join's rows once
    both watermarks pass — the operator family the batch
    join_asof_events / join_range_banded queries cover in SQL form."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.streaming.joins import interval_join

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("event_id").alias("vid")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )

    def joined(v, c):
        return interval_join(
            v, c, on=["user_id"], left_ts="vts", right_ts="cts",
            lower="0 seconds", upper="30 minutes",
            left_watermark="5 minutes", right_watermark="5 minutes",
        ).select("l_vid", "r_cid")

    want = {
        (r["l_vid"], r["r_cid"]) for r in joined(views, clicks).collect()
    }
    assert want, "fixture must produce at least one joined pair"

    vdir, cdir = str(tmp_path / "views"), str(tmp_path / "clicks")
    views.write.parquet(vdir)
    clicks.write.parquet(cdir)
    vstream = spark.readStream.schema(views.schema).parquet(vdir)
    cstream = spark.readStream.schema(clicks.schema).parquet(cdir)
    q = (
        joined(vstream, cstream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sj_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["l_vid"], r["r_cid"])
            for r in spark.sql("SELECT * FROM sj_out").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_interval_join_negative_lower_matches_plain_join(spark):
    """interval_join on BATCH frames must equal the hand-written range
    join, including a negative lower bound (right events allowed
    slightly before the left)."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.streaming.joins import interval_join

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("event_id").alias("vid")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    got = {
        (r["l_vid"], r["r_cid"])
        for r in interval_join(
            views, clicks, on=["user_id"], left_ts="vts", right_ts="cts",
            lower="-5 minutes", upper="30 minutes",
        ).select("l_vid", "r_cid").collect()
    }
    want = {
        (r["vid"], r["cid"])
        for r in views.join(
            clicks,
            (views["user_id"] == clicks["user_id"])
            & (clicks["cts"] >= views["vts"] - F.expr("INTERVAL 5 minutes"))
            & (clicks["cts"] <= views["vts"] + F.expr("INTERVAL 30 minutes")),
        ).select("vid", "cid").collect()
    }
    assert got == want and got, "negative lower bound must widen the window"


def test_quarantine_replay_after_fix(spark, tmp_path):
    """Closing the DLQ loop: rows that parse after a fix archive
    through the SAME sink under an idempotent replay epoch; rows
    still broken stay quarantined; re-running the replay is a no-op
    (epoch ledger + labels)."""
    from jly_flink_spark.streaming.job import replay_quarantine

    qdir = str(tmp_path / "quarantine")
    now_good = (
        '{"op":"d","ts_ms":1754000000000,'
        '"source":{"db":"demo","table":"t_orders"},'
        '"before":{"id":"77","v":"1.5"}}'
    )
    import pandas as pd

    pd.DataFrame(
        {
            "instance_name": ["src-0", "src-1"],
            "raw_value": [now_good, "{still broken"],
        }
    ).to_parquet(qdir)

    dirs = {
        "adb": str(tmp_path / "adb"),
        "sr": str(tmp_path / "sr"),
        "env": None,
        "ckpt": None,
    }
    sink = _make_sink(dirs, spark)
    n_archived, still_bad = replay_quarantine(
        spark, qdir, CFG, sink, epoch_id=10_000
    )
    assert (n_archived, still_bad) == (1, 1)
    adb = spark.read.parquet(os.path.join(dirs["adb"], "data"))
    assert [r["id"] for r in adb.collect()] == ["77"]

    # idempotent: same replay epoch → both sinks dedup
    again, _ = replay_quarantine(spark, qdir, CFG, sink, epoch_id=10_000)
    assert again == 1  # counted again...
    adb = spark.read.parquet(os.path.join(dirs["adb"], "data"))
    assert [r["id"] for r in adb.collect()] == ["77"]  # ...written once
    loaded = []
    for f in glob.glob(os.path.join(dirs["sr"], "*", "*.json")):
        with open(f) as fh:
            loaded += [r["id"] for r in json.load(fh)]
    assert loaded == ["77"]


def test_two_queries_distinct_ids_no_label_collision(spark, tmp_path):
    """K4's idempotency namespace: TWO independent queries sharing one
    sink target must use distinct query_ids — same-epoch writes from
    both must BOTH land (distinct labels), while a replay within one
    query still dedups."""
    rows = [
        ("src-0", "d", 1754000000000, "t_orders", '{"id":"1"}'),
    ]
    env = spark.createDataFrame(
        rows,
        "instance_name string, op string, ts_ms long, "
        "source_table string, before string",
    )
    target = build_pipeline(spark, env, CFG)
    local = LocalDirTransport(str(tmp_path / "sr"))
    a = SrStyleSink(local, batch_size=10)
    b = SrStyleSink(local, batch_size=10)
    a.write(target, epoch_id=0, query_id="qa")
    b.write(target, epoch_id=0, query_id="qb")  # same epoch, new id
    a.write(target, epoch_id=0, query_id="qa")  # replay: dedups
    loaded = []
    for f in glob.glob(str(tmp_path / "sr" / "*" / "*.json")):
        with open(f) as fh:
            loaded += [r["id"] for r in json.load(fh)]
    assert sorted(loaded) == ["1", "1"]  # once per query, not thrice


def test_with_quality_p_matches_score_quality(spark):
    """The fused survivor-pass score (`with_quality_p`, round 14 —
    the admission gate's stage-4 shape) must produce bit-identical
    p values to `score_quality` for every doc, and must preserve
    the input frame's payload columns."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators import classifier as C

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    weights = C.extract_weights(C.train_quality_classifier(docs))

    via_score = {
        r["doc_id"]: r["p"]
        for r in C.score_quality(docs, weights).collect()
    }
    fused = C.with_quality_p(
        docs.select("doc_id", "source", "text"), weights
    )
    assert set(fused.columns) == {"doc_id", "source", "text", "p"}
    via_fused = {r["doc_id"]: r["p"] for r in fused.collect()}
    assert via_fused == via_score
    # degenerate rows score identically too (empty text)
    edge = spark.createDataFrame(
        [(1, ""), (2, "the and of to is in that it a an")],
        "doc_id long, text string",
    )
    s = {r["doc_id"]: r["p"] for r in C.score_quality(edge, weights).collect()}
    f = {
        r["doc_id"]: r["p"]
        for r in C.with_quality_p(edge, weights).collect()
    }
    assert s == f


def test_quality_stream_scores_match_batch(spark, tmp_path):
    """Train-offline/serve-online for the quality classifier: a
    document stream scored against frozen weights must produce
    bit-identical (doc_id, p, keep) rows to the batch projection —
    same integer arithmetic, stateless per-row gate."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators import classifier as C

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    weights = C.extract_weights(C.train_quality_classifier(docs))
    assert weights["w_bias"] > 0  # trained, not the zero init

    batch = {
        r["doc_id"]: (r["p"], r["keep"])
        for r in C.score_quality(docs, weights).collect()
    }
    assert any(k for _, k in batch.values())
    assert not all(k for _, k in batch.values())

    src = str(tmp_path / "src")
    docs.select("doc_id", "text").write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    q = C.serve_quality_stream(
        stream,
        weights,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["p"], r["keep"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == batch


def test_kmeans_stream_assignment_matches_batch(spark, tmp_path):
    """Cluster routing at ingest: streaming assignment against frozen
    centroids must equal the batch final assignment bit-for-bit —
    same int8 codes, same integer argmin fold, no state."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators import clustering as KM

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cent, asg = KM.kmeans_fixed(emb)
    centroids = KM.extract_centroids(cent)
    assert len(centroids) == KM.KM_K
    batch = {r["vec_id"]: r["cid"] for r in asg.collect()}

    src = str(tmp_path / "src")
    emb.select("vec_id", "embedding").write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = KM.assign_stream(
        stream, centroids, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["vec_id"]: r["cid"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == batch


def test_bpe_stream_tokenize_matches_batch(spark, tmp_path):
    """Token budgeting at ingest: streaming BPE token counts against
    the frozen merge table must equal the batch apply bit-for-bit —
    same nested greedy folds, no state."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators import bpe as B

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = B.extract_merges(B.bpe_train_merges(docs))
    assert len(merges) == B.BPE_ROUNDS
    batch = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in B._tokenize_projection(docs, merges).collect()
    }
    # the merges must actually compress: strictly fewer BPE tokens
    # than characters for at least some docs (character-level upper
    # bound computed from the raw text, so a merge table that never
    # matches anything fails here)
    chars = {
        r["doc_id"]: sum(
            len(w) for w in r["text"].lower().split(" ") if w
        )
        for r in docs.select("doc_id", "text").collect()
    }
    assert any(
        n_bpe < chars[doc_id]
        for doc_id, (_, n_bpe) in batch.items()
    )

    src = str(tmp_path / "src")
    docs.select("doc_id", "text").write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(src)
    q = B.serve_bpe_stream(
        stream, merges, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == batch


class TestIvmBatchStreamParity:
    """The IVM round-trip (r7 verdict task): the SAME changelog,
    delivered split / late / replayed, through the streaming tile
    maintainer (`rollup.ivm_tile_plan`) must converge to exactly the
    batch audit's tiles AND view evolution (`cdc_ivm_view_evolution`).
    Each half was verified alone (the batch query is hash-green, the
    rollup store matches batch aggregates); this is the production
    claim itself — maintain incrementally, audit by recompute, get
    the same view."""

    SF = "/root/testdata/sf0.001"

    def _changelog(self, spark):
        """The batch query's changelog derivation, keeping ts for
        the streaming window."""
        from jly_flink_spark.io import load_table

        ev = load_table(spark, self.SF, "events")
        log = ev.select(
            "event_type",
            "ts",
            "event_id",
            F.when(F.col("event_id") % 5 <= 1, "d")
            .when(F.col("event_id") % 5 == 2, "i")
            .otherwise("u")
            .alias("op"),
            F.floor(F.col("value") * 100).cast("bigint").alias("val"),
        )
        return log.select(
            "event_type",
            "ts",
            "event_id",
            "op",
            F.when(F.col("op") == "i", F.lit(None))
            .otherwise(F.col("val"))
            .cast("bigint")
            .alias("before_cents"),
            F.when(F.col("op") == "d", F.lit(None))
            .when(F.col("op") == "u", F.col("val") + 7)
            .otherwise(F.col("val"))
            .cast("bigint")
            .alias("after_cents"),
        )

    @pytest.mark.slow
    def test_streaming_tiles_converge_to_batch_view(self, spark, tmp_path):
        from jly_flink_spark.plans.cdc_queries import (
            cdc_ivm_view_evolution,
        )
        from jly_flink_spark.streaming.rollup import run_ivm_tiles_once

        changelog = self._changelog(spark)
        src = str(tmp_path / "src")
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")

        # three arrivals, interleaved by event_id — every epoch
        # carries a mix of days, so each day's tile is SPLIT across
        # epochs and epochs 2-3 are LATE (they contain days already
        # finalized into the store by epoch 1)
        parts = [changelog.filter(F.col("event_id") % 3 == i) for i in range(3)]
        schema = changelog.drop("event_id").schema
        for i, part in enumerate(parts):
            mode = "overwrite" if i == 0 else "append"
            part.drop("event_id").write.mode(mode).parquet(src)
            run_ivm_tiles_once(spark, src, schema, store, ckpt)

        batch = cdc_ivm_view_evolution(spark, self.SF).collect()
        want_tiles = {
            (r["event_type"], r["day"]): (
                r["n_i"], r["n_u"], r["n_d"], r["delta_cents"]
            )
            for r in batch
        }
        got_rows = spark.read.parquet(store).collect()
        got_tiles = {
            (r["event_type"], int(r["day"])): (
                r["n_i"], r["n_u"], r["n_d"], r["delta_cents"]
            )
            for r in got_rows
        }
        assert got_tiles == want_tiles and got_tiles

        # the view evolution: replaying the STORE's tiles in day
        # order must reproduce the batch query's cumulative view
        want_view = {
            (r["event_type"], r["day"]): (r["view_rows"], r["view_cents"])
            for r in batch
        }
        got_view = {}
        running: dict[str, tuple[int, int]] = {}
        for (et, day) in sorted(got_tiles):
            n_i, _, n_d, dc = got_tiles[(et, day)]
            rows, cents = running.get(et, (0, 0))
            running[et] = (rows + n_i - n_d, cents + dc)
            got_view[(et, day)] = running[et]
        assert got_view == want_view

    def test_full_replay_is_idempotent(self, spark, tmp_path):
        """At-least-once: re-draining the ENTIRE changelog from a
        fresh checkpoint into the same store (every epoch replayed)
        must leave the store byte-identical — the state store, not
        the batch, is the source of truth for each tile."""
        from jly_flink_spark.streaming.rollup import run_ivm_tiles_once

        changelog = self._changelog(spark).drop("event_id")
        src = str(tmp_path / "src")
        store = str(tmp_path / "store")
        changelog.write.parquet(src)
        run_ivm_tiles_once(
            spark, src, changelog.schema, store, str(tmp_path / "ck1")
        )
        before = sorted(map(tuple, spark.read.parquet(store).collect()))
        run_ivm_tiles_once(
            spark, src, changelog.schema, store, str(tmp_path / "ck2")
        )
        after = sorted(map(tuple, spark.read.parquet(store).collect()))
        assert after == before and before


def _routing_frame(spark):
    """Target rows over three tables with more rows per table than one
    SR chunk, spread over several input partitions."""
    rows = [
        (f"src-{i % 3}", "d", 1754000000000 + i, f"t_{i % 3}",
         f'{{"id":"{i}"}}')
        for i in range(30)
    ]
    env = spark.createDataFrame(
        rows,
        "instance_name string, op string, ts_ms long, "
        "source_table string, before string",
    ).repartition(4)
    return build_pipeline(spark, env, CFG)


def _label_files(root):
    return {
        os.path.relpath(f, root): open(f, "rb").read()
        for f in glob.glob(os.path.join(root, "*", "*.json"))
    }


def test_dual_sink_routes_once_for_both_sinks(spark, tmp_path):
    """DualSink routes the batch once and feeds both sinks from one
    pass: the SR side writes the same labels with the same bytes as a
    standalone SrStyleSink.write of the same frame and epoch, and the
    ADB side writes one parquet file per table."""
    target = _routing_frame(spark)
    DualSink(
        AdbStyleSink(str(tmp_path / "adb")),
        SrStyleSink(LocalDirTransport(str(tmp_path / "dual")), batch_size=4),
    )(target, 3)
    SrStyleSink(LocalDirTransport(str(tmp_path / "solo")), batch_size=4).write(
        target, epoch_id=3, query_id="q"
    )
    dual = _label_files(str(tmp_path / "dual"))
    assert len(dual) == 9  # 3 tables x ceil(10 / 4) chunks
    assert dual == _label_files(str(tmp_path / "solo"))

    epoch_dir = tmp_path / "adb" / "data" / "epoch_id=3"
    tables = sorted(p.name for p in epoch_dir.glob("db_tb_name=*"))
    assert tables == [f"db_tb_name=demo_t_{i}" for i in range(3)]
    for t in tables:
        assert len(list((epoch_dir / t).glob("*.parquet"))) == 1, t


def test_dual_sink_names_its_jobs(spark, tmp_path):
    """The DualSink call's Spark jobs carry `sink.dual epoch=<n>` as
    their description, and the caller's description is restored
    after."""
    sc = spark.sparkContext
    group = "dual-sink-job-descriptions"
    sc.setJobGroup(group, "outer")
    try:
        DualSink(
            AdbStyleSink(str(tmp_path / "adb")),
            SrStyleSink(LocalDirTransport(str(tmp_path / "sr"))),
        )(_routing_frame(spark), 7)
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    descriptions = {
        store.job(j).description().getOrElse(None)
        for j in sc.statusTracker().getJobIdsForGroup(group)
    }
    assert descriptions == {"sink.dual epoch=7"}


@pytest.mark.parametrize("tz", ["UTC", REFERENCE_TZ])
def test_dual_sink_adb_parity(spark, tmp_path, tz):
    """A DualSink epoch read back with Spark holds the input rows: all
    five sink columns, `record_del_time` as the same instant, whatever
    the session time zone."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        target = _routing_frame(spark)
        DualSink(AdbStyleSink(str(tmp_path / "adb")))(target, 2)
        back = spark.read.parquet(str(tmp_path / "adb" / "data" / "epoch_id=2"))
        assert dict(back.dtypes)["record_del_time"] == "timestamp"

        def rows(df):
            return sorted(
                df.select(
                    *SINK_COLUMNS[:3],
                    F.unix_micros("record_del_time").alias("t"),
                    "data_json",
                ).collect()
            )

        assert rows(back) == rows(target)
        assert len(rows(target)) == 30
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _adb_files(root):
    import pyarrow.parquet as pq

    return {
        os.path.relpath(f, root): pq.read_table(f)
        for f in glob.glob(os.path.join(root, "data", "*", "*", "*.parquet"))
    }


def test_sink_output_independent_of_partitioning(spark, tmp_path):
    """The same target rows in two partition layouts give byte-identical
    SR label files and equal ADB tables: the rows are sorted on the
    full row before they are chunked, so a replayed epoch re-sends the
    same chunks under the same labels whatever its partitioning. The
    rows tie on the leading sort columns, some repeat whole, some carry
    a NULL fb_no, and the ids are non-ASCII."""
    import random

    rows = [
        (f"src-{i % 4}", "d", 1754000000000 + (i % 5) * 1000, f"t_{i % 3}",
         json.dumps({"id": ["a", "é", "Z", "中", "\U0001F600"][i % 5], "n": i % 7}))
        for i in range(60)
    ]
    rows += rows[:6]
    random.Random(7).shuffle(rows)
    env = spark.createDataFrame(
        rows,
        "instance_name string, op string, ts_ms long, "
        "source_table string, before string",
    )
    target = build_pipeline(spark, env, CFG)
    out = {}
    for name, layout in [("seven", target.repartition(7)), ("one", target.coalesce(1))]:
        root = tmp_path / name
        DualSink(
            AdbStyleSink(str(root / "adb")),
            SrStyleSink(LocalDirTransport(str(root / "sr")), batch_size=4),
        )(layout, 0)
        out[name] = (
            _label_files(str(root / "sr")),
            _adb_files(str(root / "adb")),
        )
    (sr7, adb7), (sr1, adb1) = out["seven"], out["one"]
    assert len(sr7) == 3 * 6  # 3 tables x ceil(22 / 4) chunks
    assert sr7 == sr1
    assert sorted(adb7) == sorted(adb1) and len(adb7) == 3
    for f, table in adb7.items():
        assert table.equals(adb1[f]), f


@pytest.mark.parametrize("tz", ["UTC", REFERENCE_TZ])
def test_sink_formats_pinned(spark, tmp_path, tz):
    """What both sinks write, under either session time zone: the SR
    payload renders `record_del_time` as the `str()` of the datetime a
    Python row of the epoch carries; a row from an instance missing
    from the config has a JSON null fb_no in SR and a NULL in the
    parquet; the ADB file schema is string columns and a UTC
    microsecond timestamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    ts = {"1": 1754000000123, "2": 1754000001000, "3": 1754000002500}
    rows = [
        ("src-0", "d", ts["1"], "t_orders", '{"id":"1"}'),
        ("src-1", "d", ts["2"], "t_orders", '{"id":"2"}'),
        ("src-9", "d", ts["3"], "t_orders", '{"id":"3"}'),
    ]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        env = spark.createDataFrame(
            rows,
            "instance_name string, op string, ts_ms long, "
            "source_table string, before string",
        )
        DualSink(
            AdbStyleSink(str(tmp_path / "adb")),
            SrStyleSink(LocalDirTransport(str(tmp_path / "sr")), batch_size=10),
        )(build_pipeline(spark, env, CFG), 0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

    (label, blob), = _label_files(str(tmp_path / "sr")).items()
    assert label == os.path.join("demo_t_orders", "sink_sr_q_0_demo_t_orders_0.json")
    items = json.loads(blob)
    assert [r["id"] for r in items] == ["1", "2", "3"]
    for r in items:
        assert r["record_del_time"] == str(
            TimestampType().fromInternal(ts[r["id"]] * 1000)
        )
    assert [r["fb_no"] for r in items] == ["FB0", "FB1", None]
    assert b'"fb_no": null' in blob

    (path,) = glob.glob(str(tmp_path / "adb" / "data" / "*" / "*" / "*.parquet"))
    assert pq.read_schema(path) == pa.schema(
        [
            ("id", pa.string()),
            ("fb_no", pa.string()),
            ("record_del_time", pa.timestamp("us", tz="UTC")),
            ("data_json", pa.string()),
        ]
    )
    back = pq.read_table(path)
    assert back.column("fb_no").to_pylist() == ["FB0", "FB1", None]
    assert back.column("record_del_time").cast(pa.int64()).to_pylist() == [
        ts[i] * 1000 for i in "123"
    ]


def _adb_rows(n, name="demo_t_0"):
    """One table's slice of an epoch, as `write_epoch` hands it to a
    table writer."""
    from datetime import datetime, timezone

    import pyarrow as pa

    return pa.table(
        {
            "db_tb_name": [name] * n,
            "id": [str(i) for i in range(n)],
            "fb_no": ["FB0"] * n,
            "record_del_time": pa.array(
                [datetime(2025, 8, 1, 0, 0, i, tzinfo=timezone.utc) for i in range(n)],
                pa.timestamp("us", tz="UTC"),
            ),
            "data_json": ["{}"] * n,
        }
    )


def test_adb_table_writer_retry_converges(tmp_path):
    """A retried (or speculative) task writes the same (epoch, table)
    file again: one parquet file remains, holding the retry's rows, and
    no temp file is left."""
    import pyarrow.parquet as pq

    sink = AdbStyleSink(str(tmp_path / "adb"))
    assert sink.open(4)
    write = sink.table_writer(4)
    write("demo_t_0", _adb_rows(3))
    write("demo_t_0", _adb_rows(2))
    tdir = tmp_path / "adb" / "data" / "epoch_id=4" / "db_tb_name=demo_t_0"
    assert sorted(os.listdir(tdir)) == ["part-demo_t_0.parquet"]
    assert pq.read_table(tdir / "part-demo_t_0.parquet").num_rows == 2


def test_adb_replay_wipes_stale_temp_file(spark, tmp_path):
    """A temp file left by a task that died mid-write in an uncommitted
    epoch is gone after the replayed epoch."""
    tdir = tmp_path / "adb" / "data" / "epoch_id=6" / "db_tb_name=demo_t_0"
    tdir.mkdir(parents=True)
    stale = tdir / ".part-dead.tmp"
    stale.write_bytes(b"half a parquet file")
    AdbStyleSink(str(tmp_path / "adb")).write(_routing_frame(spark), epoch_id=6)
    assert not stale.exists()
    assert sorted(os.listdir(tdir)) == ["part-demo_t_0.parquet"]


def test_adb_table_dir_escapes_like_spark(spark, tmp_path):
    """A table name with path or partition syntax in it gets the
    directory name Spark's partitioned writer gives it, and reads back
    as itself."""
    name = "demo_a/b=c%d"
    sink = AdbStyleSink(str(tmp_path / "adb"))
    assert sink.open(1)
    sink.table_writer(1)(name, _adb_rows(2, name))
    epoch_dir = tmp_path / "adb" / "data" / "epoch_id=1"
    assert os.listdir(epoch_dir) == ["db_tb_name=demo_a%2Fb%3Dc%25d"]
    by_spark = str(tmp_path / "by_spark")
    spark.createDataFrame([(name, 1)], "db_tb_name string, x int").write.partitionBy(
        "db_tb_name"
    ).parquet(by_spark)
    assert os.listdir(epoch_dir) == [
        d for d in os.listdir(by_spark) if d.startswith("db_tb_name=")
    ]
    back = spark.read.parquet(str(epoch_dir)).select("db_tb_name").collect()
    assert [r[0] for r in back] == [name, name]
