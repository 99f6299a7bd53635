"""The Spark-native binlog tailer (sources/binlog_source.py): true
(byte-position) offset semantics — resume from checkpoint with no
duplicates and no gaps, half-written lines never consumed."""

import json
import os

import pytest

from jly_flink_spark.sources.binlog_source import (
    BinlogDataSource,
    read_binlog_stream,
    register_binlog_source,
)


def _env_line(i: int, op: str = "d") -> str:
    return json.dumps(
        {
            "op": op,
            "ts_ms": 1700000000000 + i,
            "source": {"db": "demo", "table": "t_order"},
            "before": {"id": i, "fb_no": f"FB{i:06d}"},
        }
    )


def _append(path: str, lines, partial: str | None = None) -> None:
    with open(path, "a", encoding="utf-8") as f:
        for line in lines:
            f.write(line + "\n")
        if partial is not None:
            f.write(partial)  # no newline — a mid-write binlog event


def _drain(spark, path, out_dir, ckpt):
    q = (
        read_binlog_stream(spark, path)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return {
        r["pos"]: r["value"]
        for r in spark.read.parquet(out_dir).collect()
    }


def test_batch_read_positions_and_partial_line(spark, tmp_path):
    log = str(tmp_path / "binlog.jsonl")
    lines = [_env_line(i) for i in range(5)]
    _append(log, lines, partial='{"op": "d", "trunc')
    register_binlog_source(spark)
    rows = (
        spark.read.format(BinlogDataSource.name())
        .option("path", log)
        .load()
        .collect()
    )
    assert [r["value"] for r in rows] == lines
    # pos = exact byte offset of each line start
    expect_pos = []
    acc = 0
    for line in lines:
        expect_pos.append(acc)
        acc += len(line.encode()) + 1
    assert [r["pos"] for r in rows] == expect_pos


def test_stream_tails_appends_exactly_once(spark, tmp_path):
    log = str(tmp_path / "binlog.jsonl")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    first = [_env_line(i) for i in range(3)]
    _append(log, first)
    got = _drain(spark, log, out, ckpt)
    assert sorted(got.values()) == sorted(first)

    # a restarted query resumes from the CHECKPOINTED position:
    # only the appended events arrive, no duplicates, no gaps
    second = [_env_line(i) for i in range(3, 7)]
    _append(log, second, partial='{"half": "written')
    got = _drain(spark, log, out, ckpt)
    assert sorted(got.values()) == sorted(first + second)
    assert len(got) == 7  # distinct positions — no duplicate rows

    # the half-written event lands once its newline does
    with open(log, "a", encoding="utf-8") as f:
        f.write('"}\n')
    got = _drain(spark, log, out, ckpt)
    assert len(got) == 8
    assert any(v == '{"half": "written"}' for v in got.values())


def test_stream_feeds_the_cdc_pipeline(spark, tmp_path):
    """End-to-end: the native tailer's raw values run through the
    SAME parse + delete-filter pipeline as the Kafka/file sources."""
    from pyspark.sql import functions as F

    from jly_flink_spark.sources.envelopes import parse_envelope_json

    log = str(tmp_path / "binlog.jsonl")
    _append(
        log,
        [
            _env_line(1, op="d"),
            _env_line(2, op="u"),  # non-delete: filtered out
            _env_line(3, op="d"),
        ],
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    parsed = parse_envelope_json(read_binlog_stream(spark, log))
    deletes = parsed.filter(F.col("op") == "d").select(
        "pos", "op", "source_table", "before"
    )
    q = (
        deletes.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2
    assert all(r["op"] == "d" and r["source_table"] == "t_order" for r in rows)
    assert all(json.loads(r["before"])["id"] in (1, 3) for r in rows)


def test_per_instance_binlog_union_matches_batch_pipeline(spark, tmp_path):
    """The reference's shape: one native tailer per instance, unioned
    into ONE parse/filter/enrich plan (T5) — streaming output must
    equal the batch pipeline over the same envelopes."""
    from pyspark.sql import functions as F

    from jly_flink_spark.config import demo_task_config
    from jly_flink_spark.pipeline import build_pipeline
    from jly_flink_spark.sources.envelopes import parse_envelope_json
    from jly_flink_spark.streaming.job import streaming_pipeline_binlogs

    cfg = demo_task_config()
    events = {
        "src-0": [
            '{"op":"d","ts_ms":1754000000000,"source":{"db":"demo","table":"t_orders"},"before":{"id":"1","v":"10.5"}}',
            '{"op":"u","ts_ms":1754000001000,"source":{"db":"demo","table":"t_orders"},"before":{"id":"2"}}',
        ],
        "src-1": [
            '{"op":"d","ts_ms":1754000002000,"source":{"db":"demo","table":"t_items"},"before":{"id":"3","x":"y"}}',
        ],
    }
    logs = {}
    for inst, lines in events.items():
        p = str(tmp_path / f"{inst}.binlog")
        _append(p, lines)
        logs[inst] = p

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        streaming_pipeline_binlogs(spark, logs, cfg)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["id"], r["fb_no"]): r["data_json"]
        for r in spark.read.parquet(out).collect()
    }

    batch_raw = spark.createDataFrame(
        [(inst, line) for inst, lines in events.items() for line in lines],
        "instance_name string, value string",
    )
    want = {
        (r["id"], r["fb_no"]): r["data_json"]
        for r in build_pipeline(
            spark, parse_envelope_json(batch_raw), cfg
        ).collect()
    }
    assert got == want and len(got) == 2


def test_rotated_binlog_series_resumes_across_files(spark, tmp_path):
    """Rotation: a directory of ordered files is one logical log with
    (file, pos) offsets — a restarted query spans the rotation
    boundary exactly once, new files are picked up mid-stream, and
    positions are per-file byte offsets."""
    d = tmp_path / "binlogs"
    d.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    _append(str(d / "binlog.000001"), [_env_line(i) for i in range(3)])
    q = (
        read_binlog_stream(spark, str(d))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # rotate mid-stream: close 000001, open 000002
        _append(str(d / "binlog.000001"), [_env_line(3)])
        _append(str(d / "binlog.000002"), [_env_line(4), _env_line(5)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert sorted(r["value"] for r in rows) == sorted(
        _env_line(i) for i in range(6)
    )
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file"], []).append(r["pos"])
    assert set(by_file) == {"binlog.000001", "binlog.000002"}
    assert sorted(by_file["binlog.000002"])[0] == 0  # per-file offsets

    # restart after another rotation: only the new file's rows arrive
    _append(str(d / "binlog.000003"), [_env_line(6)])
    q = (
        read_binlog_stream(spark, str(d))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 7
    assert sorted(r["value"] for r in rows) == sorted(
        _env_line(i) for i in range(7)
    )


def test_rotation_pattern_fences_stray_files(spark, tmp_path):
    """A stray file sorting after the real series (writer temp,
    editor artifact) must not enter the rotation order when a name
    pattern is set."""
    d = tmp_path / "binlogs"
    d.mkdir()
    _append(str(d / "binlog.000001"), [_env_line(0), _env_line(1)])
    (d / "binlog.000002.tmp").write_text("garbage, not a binlog\n")
    (d / "notes.txt").write_text("unrelated\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        read_binlog_stream(spark, str(d), pattern="binlog.[0-9][0-9][0-9][0-9][0-9][0-9]")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert sorted(r["value"] for r in rows) == sorted(
        _env_line(i) for i in range(2)
    )
    assert {r["file"] for r in rows} == {"binlog.000001"}


def test_purged_intermediate_file_raises(spark, tmp_path):
    """A retention job that removes a file the checkpointed offsets
    still cover must be a LOUD failure, not a silent gap — the `ends`
    map names every rotated file a batch covers."""
    import shutil

    d = tmp_path / "binlogs"
    d.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _append(str(d / "binlog.000001"), [_env_line(0)])
    _append(str(d / "binlog.000002"), [_env_line(1)])
    _append(str(d / "binlog.000003"), [_env_line(2)])

    def run():
        q = (
            read_binlog_stream(spark, str(d))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()  # consume everything; offsets cover 000001..000003
    # crash-replay simulation: drop the last epoch's COMMIT marker
    # (the crash-between-sink-and-commit window), so restart replays
    # the batch from its checkpointed offsets — whose `ends` map
    # covers the intermediate file we now purge
    commits = sorted(
        f
        for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    shutil.rmtree(out)
    os.remove(str(d / "binlog.000002"))
    with pytest.raises(Exception, match="purged|no longer exist"):
        run()


def test_purged_final_file_raises(spark, tmp_path):
    """Same crash-replay window as above, but retention removed the
    batch's FINAL file (the one the end offset points into). The end
    file is not named in `ends` (it was still live when the offset
    was read), so the purge guard must cover it explicitly — otherwise
    the replay silently omits (0..end_pos] of that file and resumes
    past the gap."""
    import shutil

    d = tmp_path / "binlogs"
    d.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _append(str(d / "binlog.000001"), [_env_line(0)])
    _append(str(d / "binlog.000002"), [_env_line(1)])

    def run():
        q = (
            read_binlog_stream(spark, str(d))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()  # offsets end inside binlog.000002
    commits = sorted(
        f
        for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    shutil.rmtree(out)
    os.remove(str(d / "binlog.000002"))
    with pytest.raises(Exception, match="purged|no longer exist"):
        run()


def test_live_epochs_served_from_prefetch(spark, tmp_path):
    """A live epoch is served from the rows `read` prefetched on the
    driver: the replay reader, `readBetweenOffsets` (which runs in a
    Python worker), is never called. A crash-replay epoch calls it
    once and yields the rows the live epoch had."""
    from jly_flink_spark.sources.binlog_source import _BinlogStreamReader

    marker = tmp_path / "replays"

    class _MarkedReader(_BinlogStreamReader):
        def __init__(self, path, marker):
            super().__init__(path)
            self._marker = marker

        def readBetweenOffsets(self, start, end):
            with open(self._marker, "a") as f:
                f.write(f"{start} {end}\n")
            return super().readBetweenOffsets(start, end)

    class _MarkedSource(BinlogDataSource):
        @classmethod
        def name(cls):
            return "jly_binlog_marked"

        def simpleStreamReader(self, schema):
            return _MarkedReader(self._path(), self.options["marker"])

    spark.dataSource.register(_MarkedSource)
    log = str(tmp_path / "binlog.jsonl")
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple[int, list]] = []

    def start():
        return (
            spark.readStream.format("jly_binlog_marked")
            .option("path", log)
            .option("marker", str(marker))
            .load()
            .writeStream.foreachBatch(
                lambda df, eid: seen.append((eid, sorted(df.collect())))
            )
            .option("checkpointLocation", ckpt)
            .start()
        )

    _append(log, [_env_line(i) for i in range(3)])
    q = start()
    try:
        q.processAllAvailable()
        _append(log, [_env_line(i) for i in range(3, 5)])
        q.processAllAvailable()
    finally:
        q.stop()
    assert [(e, len(r)) for e, r in seen] == [(0, 3), (1, 2)]
    assert not marker.exists()

    # crash between the sink and the commit: epoch 1 replays
    for f in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", f))
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen[2:] == [seen[1]]
    assert len(marker.read_text().splitlines()) == 1


def test_plan_ranges_missing_end_file_raises(tmp_path):
    """Unit form of the purge guard: an end offset whose file is gone
    raises even when `ends` (which only names rotated files) is
    empty."""
    from jly_flink_spark.sources.binlog_source import _plan_ranges

    d = tmp_path / "binlogs"
    d.mkdir()
    _append(str(d / "binlog.000001"), ["a"])
    with pytest.raises(RuntimeError, match="no longer exist"):
        _plan_ranges(
            str(d),
            {"file": "binlog.000001", "pos": 0},
            {"file": "binlog.000002", "pos": 10, "ends": {}},
        )


def test_batch_read_rotated_series_parallel_partitions(spark, tmp_path):
    """Batch mode over a rotated directory: one input partition per
    file (parallel reads), per-file positions, stray half-line in the
    last file excluded."""
    d = tmp_path / "binlogs"
    d.mkdir()
    _append(str(d / "binlog.000001"), [_env_line(0), _env_line(1)])
    _append(str(d / "binlog.000002"), [_env_line(2)])
    _append(str(d / "binlog.000003"), [_env_line(3)], partial='{"cut')
    register_binlog_source(spark)
    df = (
        spark.read.format(BinlogDataSource.name())
        .option("path", str(d))
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # one per file
    rows = df.collect()
    assert sorted(r["value"] for r in rows) == sorted(
        _env_line(i) for i in range(4)
    )
    by_file = {}
    for r in rows:
        by_file.setdefault(r["file"], []).append(r["pos"])
    assert set(by_file) == {
        "binlog.000001", "binlog.000002", "binlog.000003"
    }
    assert min(by_file["binlog.000002"]) == 0  # per-file offsets


# ---------------------------------------------------------------------
# Adversarial schedule fuzz: the tailer's crash matrix as a PROPERTY
# ---------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


class _WriterSim:
    """A rotation-contract-respecting binlog writer: appends complete
    lines, may leave a torn (newline-less) tail mid-write, completes
    it before anything else happens in that file, and rotates only on
    event boundaries (a real binlog writer finishes the in-flight
    event before switching files)."""

    def __init__(self, root: str):
        self.root = root
        self.findex = 1
        self.pending = None  # (full_text, written_prefix_len)
        self.seq = 0
        self.oracle: list[str] = []  # complete lines, write order
        os.makedirs(root, exist_ok=True)

    @property
    def current(self) -> str:
        return os.path.join(self.root, f"binlog.{self.findex:06d}")

    def _raw_append(self, data: str) -> None:
        with open(self.current, "a", encoding="utf-8") as f:
            f.write(data)

    def append(self, pad: int) -> None:
        assert self.pending is None
        text = f"L{self.seq:05d}" + "x" * pad
        self.seq += 1
        self._raw_append(text + "\n")
        self.oracle.append(text)

    def partial(self, pad: int, cut: int) -> None:
        assert self.pending is None
        text = f"T{self.seq:05d}" + "y" * pad
        self.seq += 1
        cut = 1 + cut % len(text)  # at least 1 byte torn off
        self._raw_append(text[:cut])
        self.pending = (text, cut)

    def complete(self) -> None:
        text, cut = self.pending
        self._raw_append(text[cut:] + "\n")
        self.oracle.append(text)
        self.pending = None

    def rotate(self) -> None:
        assert self.pending is None
        # touch the current file so rotation from an empty head is
        # well-formed, then open the next
        if not os.path.exists(self.current):
            self._raw_append("")
        self.findex += 1
        self._raw_append("")


@given(
    ops=st.lists(
        st.tuples(st.integers(0, 99), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_tailer_schedule_property(ops):
    """For ANY interleaving of complete appends, torn writes (and
    their completions), rotations, and reader polls: the union of all
    polled batches equals the oracle line sequence exactly (no dup,
    no gap, no torn line), and every batch re-planned from its
    checkpointed (start, end) offsets AFTER the schedule finished —
    i.e. after arbitrary later writes and rotations — replays
    byte-identically. Polls are live reads, `read(prev)`; the replay
    is `readBetweenOffsets(start, end)`. Each schedule runs with the
    default read budget and with an 8-byte one, under which every
    poll takes one line and stops mid-file."""
    import copy
    import tempfile
    from unittest import mock

    from jly_flink_spark.sources import binlog_source
    from jly_flink_spark.sources.binlog_source import (
        _BinlogStreamReader,
    )

    for budget in (binlog_source.READ_BUDGET_BYTES, 8):
        with tempfile.TemporaryDirectory() as root, mock.patch.object(
            binlog_source, "READ_BUDGET_BYTES", budget
        ):
            w = _WriterSim(os.path.join(root, "logs"))
            reader = _BinlogStreamReader(w.root)
            prev = reader.initialOffset()
            batches = []  # (start, end, rows) per poll
            got: list[tuple] = []

            def poll():
                nonlocal prev
                it, end = reader.read(prev)
                # Spark copies the iterator before serving the batch
                rows = list(copy.copy(it))
                if end is prev:
                    assert rows == []
                    return False
                batches.append((prev, end, rows))
                got.extend(rows)
                prev = end
                return True

            for opcode, arg in ops:
                if w.pending is not None:
                    if opcode % 2 == 0:
                        w.complete()
                    else:
                        poll()
                else:
                    choice = opcode % 4
                    if choice == 0:
                        w.append(arg)
                    elif choice == 1:
                        w.partial(arg, opcode)
                    elif choice == 2:
                        w.rotate()
                    else:
                        poll()
            if w.pending is not None:
                w.complete()
            while poll():  # a budget-cut poll leaves lines for the next
                pass

            # no dup, no gap, no torn line, in order
            assert [r[0] for r in got] == w.oracle
            # positions are strictly increasing within each file
            by_file: dict[str, int] = {}
            for text, name, pos in got:
                assert by_file.get(name, -1) < pos
                by_file[name] = pos
            # crash-replay determinism: every batch re-planned NOW (after
            # later writes/rotations) replays the identical rows
            for start, end, rows in batches:
                replay = list(reader.readBetweenOffsets(start, end))
                assert replay == rows
