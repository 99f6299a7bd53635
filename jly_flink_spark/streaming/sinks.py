"""Dual sinks reproducing the reference's delivery semantics
(SURVEY.md K1–K6) on the micro-batch model.

An epoch-writing sink has three parts, all run on the driver:

- an epoch **open**, which says whether the epoch still needs writing
  and prepares its target;
- a **table writer**, called as `(db_tb_name, rows)` once per
  destination table, `rows` being that table's slice of the epoch as a
  pyarrow Table of `SINK_COLUMNS`;
- a **commit**, run after every table writer returned.

`write_epoch` collects the epoch with one `toArrow()` — one Spark job
with no exchange, and no Python-worker stage of the sinks' own — sorts
and slices it by table on the driver, and hands each slice to every
open sink's table writer.
`DualSink` therefore feeds both sinks from a single pass, as the
reference's Flink job fans each record out to both sink operators
(StartJob.java:94-104), and writes at parallelism 1, as the reference
runs both sinks (StartJob.java:39).

- AdbStyleSink ≈ the buffered JDBC batch-insert sink
  (reference: sink/AdbSink.java:30-146). Here the write target is one
  parquet file per (epoch, table) under
  `data/epoch_id=<n>/db_tb_name=<t>/`, written with pyarrow. For a
  real AnalyticDB/MySQL target, `JdbcAdbSink` writes through Spark's
  JDBC writer with the reference's URL params
  (`rewriteBatchedStatements=true`, server-side prepared statements,
  `serverTimezone=Asia/Shanghai` — AdbSink.java:63,73-77). It is a
  standalone foreachBatch sink, not an epoch writer.
- SrStyleSink ≈ the StarRocks Stream Load sink
  (reference: sink/SrSink.java:31-203 + utils/SrStreamLoadClient.java).
  It reproduces the contract pieces that carry semantics: fixed-size
  chunking (Lists.partition, SrSink.java:108-110), one labelled load
  request per chunk (SrSink.java:111-116), label-dedup on replay
  ("Label Already Exists" → skip, SrSink.java:126-129). The transport
  is pluggable: `LocalDirTransport` records each request (for the
  offline harness); a real transport would PUT to
  http://fe:8030/api/<db>/<tbl>/_stream_load with Basic auth,
  format=JSON, strip_outer_array=true, jsonpaths column mapping and
  307-redirect handling (SrStreamLoadClient.java:44-79).

Delivery guarantee: at-least-once micro-batches from checkpointed
source offsets + idempotent labels keyed on (query_id, epoch_id,
chunk) ⇒ effectively-once, strictly stronger than the reference's
ADB path (which drops on persistent failure — K2; deviation
documented in SURVEY.md §7)."""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.types import TimestampType

# Sink column order matches the ADB INSERT list (AdbSink.java:111).
SINK_COLUMNS = ("db_tb_name", "id", "fb_no", "record_del_time", "data_json")


@contextmanager
def _job_description(sc, text: str):
    """Name the Spark jobs run inside the block (Spark UI, event log),
    then restore the caller's description — under foreachBatch that is
    the micro-batch's own."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def _table_slices(rows: pa.Table):
    """Yield `(db_tb_name, slice)` per destination table (SrSink.java:93).

    The rows are sorted on the full row first — ascending, nulls first,
    strings in binary order, as Spark's `sortWithinPartitions` orders
    them — so chunk contents are replay-deterministic whatever the
    input's partitioning, and each table's rows are contiguous."""
    rows = rows.sort_by(
        [(c, "ascending") for c in SINK_COLUMNS], null_placement="at_start"
    )
    runs = pc.run_end_encode(rows.column("db_tb_name").combine_chunks())
    start = 0
    for end, tbl in zip(runs.run_ends.to_pylist(), runs.values.to_pylist()):
        yield tbl, rows.slice(start, end - start)
        start = end


def write_epoch(batch_df: DataFrame, epoch_id: int, query_id: str, sinks) -> None:
    """Write one epoch to epoch-writing sinks from one Spark action.

    Opens every sink; collects the epoch's `SINK_COLUMNS` to the driver
    with one `toArrow()`; hands each table's sorted slice to the table
    writer of every sink that still needs the epoch; then commits those
    sinks. A failed collect or write commits nothing, so a replay writes
    the epoch again.

    The driver holds one epoch's archived rows. On the file source
    `maxFilesPerTrigger` bounds an epoch; the binlog tailer reads at
    most `binlog_source.READ_BUDGET_BYTES` of log per epoch, so a long
    outage's backlog arrives as a series of bounded epochs."""
    live = [s for s in sinks if s.open(epoch_id, query_id)]
    if not live:
        return
    writers = [s.table_writer(epoch_id, query_id) for s in live]
    for tbl, part in _table_slices(batch_df.select(*SINK_COLUMNS).toArrow()):
        for w in writers:
            w(tbl, part)
    for s in live:
        s.commit(epoch_id, query_id)


class LabelLedger:
    """Filesystem ledger of committed load labels — the replay-dedup
    that StarRocks provides server-side via label registration
    (SrSink.java:126-129). One empty file per committed label; rename-
    free and idempotent, so it is safe under micro-batch replay."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def seen(self, label: str) -> bool:
        return os.path.exists(os.path.join(self.path, label))

    def commit(self, label: str) -> None:
        with open(os.path.join(self.path, label), "w", encoding="utf-8"):
            pass


# Characters Spark escapes as %XX in a partition directory's value
# (ExternalCatalogUtils.charToEscape), so the layout matches a
# `partitionBy("db_tb_name")` write.
_PATH_ESCAPES = frozenset('"#%\'*/:=?\\\x7f{[]^') | {
    chr(c) for c in range(1, 32)
}


def _partition_value(v: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in v)


# The ADB parquet file schema: the partition directory carries
# db_tb_name, the file the other four columns.
_ADB_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("fb_no", pa.string()),
        ("record_del_time", pa.timestamp("us", tz="UTC")),
        ("data_json", pa.string()),
    ]
)


@dataclass
class AdbStyleSink:
    """Parquet archival keyed by epoch, standing in for the JDBC
    batch sink. Layout: `data/epoch_id=<n>/db_tb_name=<t>/
    part-<t>.parquet`, one file per (epoch, table).

    Epoch idempotency: an epoch already in the ledger is skipped
    wholesale; opening an epoch NOT in the ledger wipes its own
    `epoch_id=<n>` directory, so a crash between a partial write and
    the ledger commit replays clean instead of appending duplicates —
    the parquet analog of the JDBC sink's DELETE-then-INSERT (the
    reference instead relies on MySQL transaction-per-flush,
    AdbSink.java:104-127). Within an epoch, the file name is fixed per
    table, so writing a table again replaces the same file: the writer
    writes a `.`-prefixed temp file (which Spark's reader skips) and
    renames it into place."""

    out_dir: str

    def __post_init__(self):
        self.ledger = LabelLedger(os.path.join(self.out_dir, "_ledger"))

    def _epoch_dir(self, epoch_id: int) -> str:
        return os.path.join(self.out_dir, "data", f"epoch_id={int(epoch_id)}")

    def open(self, epoch_id: int, query_id: str = "q") -> bool:
        if self.ledger.seen(f"adb_{query_id}_{epoch_id}"):
            return False  # replayed epoch — already committed
        epoch_dir = self._epoch_dir(epoch_id)
        shutil.rmtree(epoch_dir, ignore_errors=True)
        os.makedirs(epoch_dir)
        return True

    def table_writer(self, epoch_id: int, query_id: str = "q"):
        epoch_dir = self._epoch_dir(epoch_id)

        def write_table(db_tb_name, rows):
            # A cast, not a rebuild: whatever string or timestamp
            # flavour the collect returned, the file keeps one schema.
            table = rows.select(_ADB_SCHEMA.names).cast(_ADB_SCHEMA)
            value = _partition_value(db_tb_name)
            tdir = os.path.join(epoch_dir, f"db_tb_name={value}")
            os.makedirs(tdir, exist_ok=True)
            tmp = os.path.join(tdir, f".part-{uuid.uuid4().hex}.tmp")
            # fb_no repeats per source instance; id and data_json are
            # unique per row, where a dictionary only adds bytes. The
            # parquet types alone read back as this schema, so the
            # serialized Arrow schema is left out of every footer.
            pq.write_table(
                table, tmp, use_dictionary=["fb_no"], store_schema=False
            )
            os.replace(tmp, os.path.join(tdir, f"part-{value}.parquet"))

        return write_table

    def commit(self, epoch_id: int, query_id: str = "q") -> None:
        self.ledger.commit(f"adb_{query_id}_{epoch_id}")

    def write(self, batch_df: DataFrame, epoch_id: int, query_id: str = "q") -> None:
        write_epoch(batch_df, epoch_id, query_id, [self])


# Table-missing SQLStates across the dialects the sink targets:
# MySQL/AnalyticDB 42S02 (ER_NO_SUCH_TABLE), Derby 42X05
# (table/view does not exist), Postgres 42P01 (undefined_table).
_MISSING_TABLE_SQLSTATES = {"42S02", "42X05", "42P01"}


def _is_missing_table_error(e: Exception) -> bool:
    """True iff the JDBC failure means the TARGET TABLE does not
    exist. Decide on the structured SQLState from the Java exception
    chain when available — a bare substring match on the message
    would also swallow a genuine failure whose text merely MENTIONS
    such a state (e.g. a wrapped error referencing another
    statement). The message-anchor fallback runs only when no
    SQLState is exposed anywhere in the chain."""
    java_exc = getattr(e, "java_exception", None)
    for _ in range(8):  # bounded walk of the cause chain
        if java_exc is None:
            break
        try:
            state = java_exc.getSQLState()
        except Exception:
            state = None
        if state:
            return str(state).upper() in _MISSING_TABLE_SQLSTATES
        try:
            java_exc = java_exc.getCause()
        except Exception:
            break
    low = str(e).lower()
    return "does not exist" in low or "doesn't exist" in low


@dataclass
class JdbcAdbSink:
    """Real JDBC code path for the ADB batch sink (reference
    sink/AdbSink.java:111-127: buffered INSERT batch inside a
    transaction per flush).

    The reference's MySQL/AnalyticDB URL params
    (`rewriteBatchedStatements=true`, `useServerPrepStmts`,
    `serverTimezone=Asia/Shanghai` — AdbSink.java:63,73-77) belong on
    the caller-supplied `url`; tests run against embedded Derby (the
    JDBC driver Spark itself bundles), which exercises the identical
    `df.write.jdbc` code path.

    Delivery: effectively-once per epoch via DELETE-then-INSERT keyed
    on (query_id, epoch_id) — a replayed or half-written epoch is
    wiped and rewritten, the transactional analog of the reference's
    transaction-per-flush. The epoch/query columns ride along in the
    target table, so the cleanup is a single indexed DELETE.

    Spark's JDBC writer is its own action, so this sink is not an
    epoch writer and does not go into `DualSink`: it is a
    standalone foreachBatch sink (`__call__`), namespaced by
    `query_id` like `DualSink`."""

    url: str
    table: str = "delete_archive"
    driver: str = "org.apache.derby.jdbc.EmbeddedDriver"
    query_id: str = "q"

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.write(batch_df, epoch_id, self.query_id)

    def _execute(self, spark, sql: str) -> None:
        """Run one DDL/DML statement over the JVM's DriverManager —
        the same connection machinery df.write.jdbc uses."""
        jvm = spark._jvm
        jvm.java.lang.Class.forName(self.driver)
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(sql)
            finally:
                stmt.close()
        finally:
            conn.close()

    def write(self, batch_df: DataFrame, epoch_id: int, query_id: str = "q") -> None:
        import re

        from pyspark.sql import functions as F

        # query_id/table are interpolated into the cleanup SQL; keep
        # them identifier-shaped so config values can't smuggle SQL.
        if not re.fullmatch(r"[A-Za-z0-9_.\-]+", query_id):
            raise ValueError(f"query_id not identifier-safe: {query_id!r}")
        if not re.fullmatch(r"[A-Za-z0-9_.]+", self.table):
            raise ValueError(f"table not identifier-safe: {self.table!r}")

        spark = batch_df.sparkSession
        stamped = batch_df.select(*SINK_COLUMNS).withColumn(
            "epoch_id", F.lit(int(epoch_id))
        ).withColumn("query_id", F.lit(query_id))
        try:
            # Spark's JDBC writer emits the table name as given
            # (unquoted) but QUOTES every column identifier, so the
            # cleanup must match: bare table, quoted columns.
            # CAST the string column: Spark maps StringType to CLOB
            # on Derby, and CLOB does not compare to a CHAR literal.
            self._execute(
                spark,
                f"DELETE FROM {self.table} "
                f'WHERE "epoch_id" = {int(epoch_id)} '
                f'AND CAST("query_id" AS VARCHAR(128)) = \'{query_id}\'',
            )
        except Exception as e:
            # Tolerate only the very first epoch (table not created
            # yet); anything else is a real cleanup failure and must
            # surface — swallowing it would let replays duplicate.
            if not _is_missing_table_error(e):
                raise
        (
            stamped.write.mode("append")
            .option("driver", self.driver)
            .jdbc(self.url, self.table)
        )


class LocalDirTransport:
    """Offline stand-in for the Stream Load HTTP endpoint: records
    each labelled JSON-array payload as a file. Duplicate label →
    'Label Already Exists' response, exactly like a StarRocks FE."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def put(self, db_tb_name: str, label: str, payload: str) -> dict:
        import json as _json

        tbl_dir = os.path.join(self.root, db_tb_name)
        os.makedirs(tbl_dir, exist_ok=True)
        target = os.path.join(tbl_dir, f"{label}.json")
        if os.path.exists(target):
            return {"Status": "Label Already Exists"}
        # Atomic commit: a crash mid-write must NOT leave a partial
        # file at the label path — replay would see it as committed
        # ('Label Already Exists') and the truncated payload would be
        # accepted forever. Temp-write + rename is the same
        # visibility contract a real FE's label registration gives.
        tmp = target + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(payload)
        os.replace(tmp, target)
        return {
            "Status": "Success",
            "NumberLoadedRows": len(_json.loads(payload)),
        }


class HttpStreamLoadTransport:
    """Real Stream Load HTTP transport, reproducing the reference
    client's wire contract (utils/SrStreamLoadClient.java:44-93):

    - PUT http://<fe>/api/<db>/<table>/_stream_load
    - Basic auth header (user:password)
    - label header (dedup key registered by the FE)
    - format=json + strip_outer_array=true + jsonpaths column mapping
      (the payload is a JSON array of row objects)
    - Expect: 100-continue
    - 307 handling: the FE redirects the PUT to a backend node;
      HTTP clients do not transparently re-send a PUT body on 307
      (the reference re-issues manually, SrStreamLoadClient.java:70-79),
      so the request is re-built once against the Location target.

    Duck-typed like LocalDirTransport: `put(db_tb_name, label,
    payload) -> dict` (the parsed JSON response body), so SrStyleSink
    takes either transport unchanged."""

    JSONPATHS = '["$.id", "$.record_del_time", "$.fb_no", "$.data_json"]'

    def __init__(
        self,
        fe_url: str,
        db: str,
        user: str = "root",
        password: str = "",
        timeout_s: float = 30.0,
    ):
        self.fe_url = fe_url.rstrip("/")
        self.db = db
        self.user = user
        self.password = password
        self.timeout_s = timeout_s

    def _auth_header(self) -> str:
        import base64

        token = base64.b64encode(
            f"{self.user}:{self.password}".encode("utf-8")
        ).decode("ascii")
        return f"Basic {token}"

    def _request(
        self, url: str, label: str, body: bytes, follow_redirect: bool = True
    ) -> dict:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, data=body, method="PUT")
        req.add_header("Authorization", self._auth_header())
        req.add_header("label", label)
        req.add_header("format", "json")
        req.add_header("strip_outer_array", "true")
        req.add_header("jsonpaths", self.JSONPATHS)
        req.add_header("Expect", "100-continue")
        req.add_header("Content-Type", "application/json")
        # Server-side load limits, mirroring the reference client
        # (SrStreamLoadClient.java:52-53): 5 GiB per-load memory cap,
        # 1200 s server-side load timeout.
        req.add_header("load_mem_limit", str(5 * 1024**3))
        req.add_header("timeout", "1200")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as e:
            if e.code == 307 and follow_redirect:
                target = e.headers.get("Location")
                if not target:
                    raise
                # one manual re-issue, like the reference client
                return self._request(target, label, body, follow_redirect=False)
            raise

    def put(self, db_tb_name: str, label: str, payload: str) -> dict:
        url = f"{self.fe_url}/api/{self.db}/{db_tb_name}/_stream_load"
        return self._request(url, label, payload.encode("utf-8"))


@dataclass
class SrStyleSink:
    """Stream-Load-style sink: group by routing table, chunk each
    group to `batch_size`, one labelled request per chunk.

    Label format mirrors the reference's
    sink_sr_<jobId>_<uid>_<subtask>_<nanos>_<chunk> (SrSink.java:111-116)
    with Spark's replay identity substituted: (query_id, epoch_id)
    is stable across micro-batch replays, so labels are deterministic
    and replays dedup — the property the reference gets from nanos+uid
    only within a single attempt.

    Chunk CONTENTS are deterministic too, not just labels: rows are
    sorted by the full row key before chunking (`write_epoch`), so a
    replayed epoch re-produces byte-identical chunks under the same
    labels. Without the sort, row order could differ across replays
    with the input's partitioning, and a replayed chunk would carry
    different rows under an already-committed label — silent row
    loss masked by the 'Label Already Exists' skip."""

    transport: object  # LocalDirTransport | HttpStreamLoadTransport
    batch_size: int = 100  # SinkConfig.java:20 default

    def open(self, epoch_id: int, query_id: str = "q") -> bool:
        return True  # dedup is per label, at the transport

    def table_writer(self, epoch_id: int, query_id: str = "q"):
        # Chunk indices restart per table: `write_epoch` hands each
        # table's rows over as one slice, so labels never repeat.
        size = self.batch_size
        transport = self.transport
        # the datetime a Python row of the epoch would carry, so the
        # payload renders `record_del_time` as str() of it
        to_datetime = TimestampType().fromInternal

        def write_table(db_tb_name, rows):
            cols = [
                rows.column(c) for c in ("id", "record_del_time", "fb_no", "data_json")
            ]
            cols[1] = cols[1].cast(pa.int64())
            items = [
                {
                    "id": i,
                    "record_del_time": str(to_datetime(t)),
                    "fb_no": fb,
                    "data_json": d,
                }
                for i, t, fb, d in zip(*(c.to_pylist() for c in cols))
            ]
            for ci in range(0, len(items), size):
                label = f"sink_sr_{query_id}_{epoch_id}_{db_tb_name}_{ci // size}"
                resp = transport.put(
                    db_tb_name, label, json.dumps(items[ci : ci + size])
                )
                status = resp.get("Status")
                if status == "Label Already Exists":
                    continue  # replayed chunk — already loaded
                if status != "Success":
                    raise RuntimeError(f"stream load failed: {resp}")

        return write_table

    def commit(self, epoch_id: int, query_id: str = "q") -> None:
        pass  # each chunk's label commits with its request

    def write(self, batch_df: DataFrame, epoch_id: int, query_id: str = "q") -> None:
        write_epoch(batch_df, epoch_id, query_id, [self])


@dataclass
class DualSink:
    """Fan out every micro-batch to both sinks — the reference wires
    AdbSink always and SrSink behind --sink_to_sr (StartJob.java:
    94-104; C3). The Flink job replicates each record to both sink
    operators in one pipelined dataflow; here one Spark action does
    the same: `write_epoch` collects the batch once, as Arrow, and
    each table's rows go to both sinks' table writers on the driver.
    No frame is persisted, nothing is shuffled and the sinks add no
    Python-worker stage, so an epoch costs one Spark job of one stage,
    described `sink.dual epoch=<n>`. The writes run at parallelism 1,
    as the reference runs both sinks (StartJob.java:39), and the
    driver holds one epoch's archived rows (see `write_epoch`).

    Both sinks must be epoch writers (`open` / `table_writer` /
    `commit`); `JdbcAdbSink` runs standalone instead.

    `query_id` is the idempotency namespace: labels are
    (query_id, epoch_id, ...)-scoped, so TWO independent streaming
    queries sharing one sink target MUST use distinct query_ids —
    otherwise query B's epoch 0 collides with query A's
    already-committed epoch 0 label and is silently skipped. The job
    wiring passes the task's db alias."""

    adb: AdbStyleSink
    sr: SrStyleSink | None = None
    query_id: str = "q"

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        sinks = [self.adb] if self.sr is None else [self.adb, self.sr]
        sc = batch_df.sparkSession.sparkContext
        with _job_description(sc, f"sink.dual epoch={epoch_id}"):
            write_epoch(batch_df, epoch_id, self.query_id, sinks)
