"""A Spark-NATIVE binlog tailer via the PySpark Python DataSource
API — closing the one remaining reference-surface delta (SURVEY.md
"what's missing" #1): the reference's `MySqlSource`
(StartJob.java:63-74) tails MySQL binlogs with (file, position)
offsets; no built-in Spark source speaks that protocol, so earlier
rounds adapted the boundary as Kafka/Debezium + a file-envelope
stand-in. Spark 4's `pyspark.sql.datasource` makes the native analog
expressible: this module implements a streaming (and batch) source
over an append-only binlog-style envelope log with REAL
(file, byte-position) offsets — the same resume model as the binlog
protocol itself. The network wire protocol stays out of scope (that
is a MySQL server boundary, not a Spark one); the offset/recovery
semantics — the part that makes a CDC source exactly-once-resumable
— are fully implemented and tested.

Semantics:
- `initialOffset` = position 0 of the log; each `read(start)`
  advances to the last COMPLETE line, or to the last one within the
  read budget (a half-written line — the tailer's classic race — is
  never consumed; it is picked up when its newline lands).
- Each micro-batch reads the byte ranges (start, end] and emits one
  row per envelope line: (value, file, pos) — `value` is the raw
  Debezium-shaped JSON the existing `parse_envelope_json` pipeline
  consumes unchanged; (file, pos) is the event's binlog position
  (file name + starting byte offset), exposed for audit/dedup.
- ROTATION: point `path` at a directory and the series of
  lexicographically-ordered files (binlog.000001, ...) is one
  logical log — offsets are (file, pos) exactly like a real binlog
  client's, a batch can span a rotation boundary, and a PURGED
  start file raises instead of silently skipping lost data.
- Recovery is Structured Streaming's own checkpointed offset log:
  restart resumes from the committed position with no duplicates and
  no gaps (tested), exactly how a binlog client resumes from a
  stored (file, pos); an uncommitted batch is re-read from its
  checkpointed (start, end) offsets, byte for byte.

Scale shape: the stream reads on the driver, at parallelism 1 like
the reference's binlog client (binlog order is total within a
server). The reader is a `SimpleDataSourceStreamReader`: its
`read(start)` runs in Spark's driver-side source runner when a
trigger asks for the latest offset, and the runner ships the rows to
the JVM as Arrow while the batch is planned, so a live epoch's job
starts no Python worker. Each read takes at most `READ_BUDGET_BYTES`
of log (and at least one line), so a long outage's backlog drains as
a series of bounded epochs. Only a batch replayed after a crash
(`readBetweenOffsets`) reads in a Python worker. Many-instance
deployments run one source per `instanceName` exactly like the
reference's per-instance MySqlSource list (C1).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Log bytes one live read takes at most: it bounds the rows the driver
# holds for one epoch (a read always takes at least one line).
READ_BUDGET_BYTES = 16 << 20

BINLOG_SCHEMA = StructType(
    [
        StructField("value", StringType()),
        StructField("file", StringType()),
        StructField("pos", LongType()),
    ]
)


def _log_files(path: str, pattern: str | None = None) -> list[tuple[str, str]]:
    """Ordered (name, full_path) list of the binlog series. A file
    path is a one-file series; a directory is a ROTATED series —
    lexicographic name order is the binlog convention
    (binlog.000001, binlog.000002, ...). `pattern` (fnmatch, e.g.
    "binlog.*") fences the series against stray files: a writer temp
    or editor artifact sorting after the real last file would
    otherwise enter the rotation order and corrupt offset
    progression."""
    import fnmatch

    if os.path.isfile(path):
        return [(os.path.basename(path), path)]
    if not os.path.isdir(path):
        return []
    names = sorted(
        n
        for n in os.listdir(path)
        if not n.startswith(".")
        and os.path.isfile(os.path.join(path, n))
        and (pattern is None or fnmatch.fnmatch(n, pattern))
    )
    return [(n, os.path.join(path, n)) for n in names]


def _complete_end(path: str) -> int:
    """Byte offset just past the last complete ('\\n'-terminated)
    line — the highest safe read position. 0 for a missing/empty
    log (a tailer starts before the server writes anything)."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return 0
    if size == 0:
        return 0
    with open(path, "rb") as f:
        # scan backwards in one small tail read for the last newline
        tail = min(size, 1 << 16)
        f.seek(size - tail)
        buf = f.read(tail)
    nl = buf.rfind(b"\n")
    if nl < 0:
        return 0 if tail == size else _complete_end_slow(path, size)
    return size - tail + nl + 1


def _complete_end_slow(path: str, size: int) -> int:
    """Fallback for a >64 KiB final line: full scan for the last
    newline."""
    last = 0
    with open(path, "rb") as f:
        pos = 0
        for line in f:
            pos += len(line)
            if line.endswith(b"\n"):
                last = pos
    return last


@dataclass
class _Range(InputPartition):
    name: str
    path: str
    start: int
    end: int


def _read_range(name: str, path: str, start: int, end: int):
    with open(path, "rb") as f:
        f.seek(start)
        pos = start
        while pos < end:
            line = f.readline()
            if not line:
                break
            text = line.rstrip(b"\n").decode("utf-8", errors="replace")
            if text:
                yield (text, name, pos)
            pos += len(line)


def _read_ranges(ranges):
    for r in ranges:
        yield from _read_range(r.name, r.path, r.start, r.end)


def _plan_ranges(
    path: str, start: dict, end: dict, pattern: str | None = None
) -> list[_Range]:
    """Byte ranges covering ((start.file, start.pos), (end.file,
    end.pos)] across the rotated series. Non-final file ends come
    from the END OFFSET's recorded `ends` map (captured when the
    offset was read), so a checkpointed batch replays the exact
    same ranges deterministically — never from a re-read of the live
    filesystem; `_complete_end` is only the fallback for offsets
    written before `ends` existed. Purged files RAISE instead of
    silently skipping (data loss must be loud, like a binlog client
    erroring on a purged position): the start and end files always,
    and any intermediate file the `ends` map names — the map doubles as the
    planner's record of which rotated files the batch covers, so a
    mis-aimed retention job can no longer open a silent gap (only
    offsets from before `ends` existed are blind to intermediate
    purges). A start file that exists on disk but is excluded by the
    `pattern` option raises a distinct misconfiguration error
    instead of a phantom purge."""
    files = _log_files(path, pattern)
    names = {n for n, _ in files}
    sf, sp = str(start.get("file", "")), int(start.get("pos", 0))
    ef, ep = str(end.get("file", "")), int(end.get("pos", 0))
    ends = {str(k): int(v) for k, v in (end.get("ends") or {}).items()}
    expected = (set([sf]) if sf else set()) | (set([ef]) if ef else set()) | {
        n for n in ends if sf <= n and (not ef or n <= ef)
    }
    missing = sorted(expected - names)
    if missing:
        on_disk = {n for n, _ in _log_files(path, None)}
        filtered = [n for n in missing if n in on_disk]
        if filtered:
            raise RuntimeError(
                f"binlog files {filtered!r} exist but are excluded by "
                f"pattern {pattern!r} — pattern misconfiguration, not "
                "a purge"
            )
        raise RuntimeError(
            f"binlog files {missing!r} no longer exist (purged before "
            "the checkpointed position was consumed?)"
        )
    out: list[_Range] = []
    for name, full in files:
        if name < sf:
            continue
        if name > ef:
            break
        spos = sp if name == sf else 0
        epos = ep if name == ef else ends.get(name, _complete_end(full))
        if epos > spos:
            out.append(_Range(name, full, spos, epos))
    return out


def _budget_cut(path: str, start: int, end: int, budget: int, first: bool) -> int:
    """End of the last complete line of [start, end) that lies within
    `budget` bytes of `start`. When none does, the end of the first
    line if `first` (a read always takes at least one line), else
    `start`. `end` is a line end, so the cut never tears a line."""
    with open(path, "rb") as f:
        f.seek(start)
        nl = f.read(min(budget, end - start)).rfind(b"\n")
        if nl >= 0:
            return start + nl + 1
        if not first:
            return start
        f.seek(start)
        return start + len(f.readline())


class _BinlogStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, path: str, pattern: str | None = None):
        self._path = path
        self._pattern = pattern
        # rotated (non-final) files are immutable under the rotation
        # contract: compute each end once, not once per trigger
        self._ends_memo: dict[str, int] = {}

    def initialOffset(self) -> dict:
        return {"file": "", "pos": 0}

    def _latest(self) -> dict:
        files = _log_files(self._path, self._pattern)
        if not files:
            return {"file": "", "pos": 0}
        name, full = files[-1]
        # record every non-final file's end NOW (memoized — rotated
        # files never change), so a replayed batch plans identical
        # ranges even if a contract-violating writer later appends to
        # a rotated-away file
        ends = {}
        for n, f in files[:-1]:
            if n not in self._ends_memo:
                self._ends_memo[n] = _complete_end(f)
            ends[n] = self._ends_memo[n]
        return {"file": name, "pos": _complete_end(full), "ends": ends}

    def _budget_ranges(self, start: dict, end: dict) -> list[_Range]:
        """The byte ranges of (start, end], cut after the last complete
        line within `READ_BUDGET_BYTES` of log."""
        budget = READ_BUDGET_BYTES
        out: list[_Range] = []
        for r in _plan_ranges(self._path, start, end, self._pattern):
            if r.end - r.start > budget:
                cut = _budget_cut(r.path, r.start, r.end, budget, not out)
                if cut > r.start:
                    out.append(_Range(r.name, r.path, r.start, cut))
                break
            out.append(r)
            budget -= r.end - r.start
        return out

    def read(self, start: dict):
        """The rows after `start` up to the last complete line within
        `READ_BUDGET_BYTES`, and the offset they end at. Runs on the
        driver when Spark asks for the latest offset; Spark caches the
        rows and serves the batch from them. With no complete line
        after `start`, returns `start` itself (Spark then plans no
        batch). The rows come back as a list iterator, which Spark
        copies."""
        latest = self._latest()
        ranges = self._budget_ranges(start, latest)
        if not ranges:
            return iter(()), start
        rows = list(_read_ranges(ranges))
        name, pos = ranges[-1].name, ranges[-1].end
        # `ends` names the rotated files before the one the offset
        # points into: all of latest's unless a budget cut stopped
        # in an earlier file
        ends = {n: e for n, e in latest["ends"].items() if n < name}
        return iter(rows), {"file": name, "pos": pos, "ends": ends}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Re-read a checkpointed batch (crash replay, in a Python
        worker): the same ranges `read` took, planned from the
        offsets alone."""
        return _read_ranges(
            _plan_ranges(self._path, start, end, self._pattern)
        )

    def commit(self, end: dict) -> None:
        # Offsets live in the query's checkpoint (the binlog-client
        # position store); nothing to clean up in the log itself.
        pass


class _BinlogBatchReader(DataSourceReader):
    def __init__(self, path: str, pattern: str | None = None):
        self._path = path
        self._pattern = pattern

    def partitions(self):
        return [
            _Range(name, full, 0, _complete_end(full))
            for name, full in _log_files(self._path, self._pattern)
        ]

    def read(self, partition: _Range):
        yield from _read_range(
            partition.name, partition.path, partition.start, partition.end
        )


class BinlogDataSource(DataSource):
    """`spark.read/readStream.format("jly_binlog").option("path", ...)`
    after `spark.dataSource.register(BinlogDataSource)`."""

    @classmethod
    def name(cls) -> str:
        return "jly_binlog"

    def schema(self):
        return BINLOG_SCHEMA

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("jly_binlog requires option 'path'")
        return path

    def reader(self, schema):
        return _BinlogBatchReader(
            self._path(), self.options.get("pattern")
        )

    def simpleStreamReader(self, schema):
        return _BinlogStreamReader(
            self._path(), self.options.get("pattern")
        )


def register_binlog_source(spark) -> None:
    spark.dataSource.register(BinlogDataSource)


def read_binlog_stream(spark, path: str, pattern: str | None = None):
    """Streaming frame of (value, pos) envelope lines tailed from the
    binlog-style log at `path` — drop-in for `read_envelope_stream`
    with true byte-position offsets instead of file-granularity
    triggers."""
    register_binlog_source(spark)
    reader = spark.readStream.format(BinlogDataSource.name()).option(
        "path", path
    )
    if pattern is not None:
        reader = reader.option("pattern", pattern)
    return reader.load()
