"""Table IO: load the driver's parquet tables and register views.

All analytic queries read `<sf_dir>/{table}.parquet` (TESTDATA.md).
Loading goes through `spark.read.parquet` so Catalyst gets parquet
pushdown + column pruning for free; at 100 TB the same call reads a
partitioned directory tree and prunes partitions.

A parquet read without a schema runs a Spark job to read the footer
and infer one. `load_table` pays that job once per (session, file):
it keeps the inferred schema under the session's application id and
the file's identity (real path, inode, size, mtime), and later reads
of the unchanged file pass it to the reader, which plans without a
job. Rewriting the file changes its identity, so the next read infers
again. A path that is not a regular local file (a directory, a
remote URI) is read inferring every time.
"""

from __future__ import annotations

import os
import stat
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Two parquet timestamp quirks in the driver's testdata:
# - events.ts is INT64 TIMESTAMP(NANOS), which Spark's reader rejects
#   outright → read nanos as long (legacy.parquet.nanosAsLong) and
#   convert with integer division (truncation to µs, matching DuckDB's
#   read of the same file).
# - orders/lineitem use TIMESTAMP(MILLIS, adjusted=false), which Spark
#   infers as TIMESTAMP_NTZ → disable NTZ inference so they load as
#   plain TIMESTAMP (identical values under the UTC session TZ, and
#   filter pushdown keeps working on the uncast column).
_NANO_TS_COLS = {"events": ("ts",)}


# (applicationId, real path, inode, size, mtime_ns) → the schema the
# first read of that file inferred under the two confs above. No lock:
# two threads reading a new file at once both infer and store the same
# schema, which costs a job, not a wrong read.
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The cache key of a regular local file, or None for anything
    `os.stat` cannot see as one (a directory, a remote URI)."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (
        spark.sparkContext.applicationId,
        real,
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
    )


@contextmanager
def job_description(sc, text: str):
    """Name the Spark jobs run inside the block (Spark UI, event log),
    then restore the caller's description — under foreachBatch that is
    the micro-batch's own."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read `<sf_dir>/<name>.parquet`, with `events.ts` as microsecond
    timestamps and TIMESTAMP(MILLIS) columns as session-zone
    timestamps.

    The first read of a file in a session infers its schema, which
    runs one Spark job described as `load_table <name>`; later reads
    of the same unchanged file reuse that schema and run no job. See
    the module docstring for the key and the fallback."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    reader = spark.read if schema is None else spark.read.schema(schema)
    with job_description(spark.sparkContext, f"load_table {name}"):
        df = reader.parquet(path)
    if key is not None and schema is None:
        _SCHEMAS[key] = df.schema
    for c in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def ensure_min_parallelism(
    df: DataFrame,
    keys: list[str] | None = None,
    min_bytes_per_task: int = 0,
) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before a
    CPU-dense stage (hashing, regex, vector math).

    A small table stored as one parquet file scans as ONE partition,
    so a per-row-expensive operator runs single-threaded no matter how
    many cores the cluster has. Repartitioning fixes that — but only
    when parallelism is actually missing: on a real many-split scan
    (the 100 TB case) this is a no-op, so the extra shuffle is only
    ever paid on inputs small enough for it to be cheap. Passing
    `keys` hash-partitions on them, so a downstream groupBy on the
    same keys reuses the exchange instead of adding one.

    ``min_bytes_per_task`` makes the fan-out COST-AWARE (round 12):
    callers whose downstream per-row work is cheap (container
    struct-packing, header walks — not md5 grids) pass the minimum
    input bytes one task must receive for the fan-out to beat its
    fixed shuffle cost. When Catalyst's size estimate says the scan
    can't feed every task that much, the repartition is skipped — a
    sub-MB input decodes faster on one core than behind a
    2·parallelism-task shuffle stage. The estimate comes from plan
    stats (no job is triggered); if stats are unavailable the guard
    errs toward fanning out, which is the safe direction at scale.
    """
    spark = df.sparkSession
    if df.isStreaming:
        # a streaming frame's partitioning can't be inspected
        # (df.rdd is illegal pre-execution) and its micro-batches
        # follow the source's split parallelism — leave it alone
        return df
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(target // 2, 2):
        return df
    if min_bytes_per_task > 0:
        try:
            est = int(
                str(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:  # noqa: BLE001 — stats are best-effort
            est = None
        if est is not None and est < min_bytes_per_task * target:
            return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


# Fan-out staging policy. 'local' keeps lineage truncation on
# executor-resident blocks (localCheckpoint) — correct and cheapest on
# the single-JVM harness, where "the executor" cannot be preempted.
# 'reliable' routes the same cut through a durable checkpoint
# directory (DataFrame.checkpoint → spark.checkpoint.dir / HDFS): on a
# real cluster with dynamic allocation or preemption, localCheckpoint
# blocks die with their executor and kill every job that read through
# the truncated lineage, so cluster deployments MUST set
#   spark.jly.staging.mode=reliable
#   spark.jly.staging.dir=<durable path>   (or sc.setCheckpointDir)
STAGING_MODE_CONF = "spark.jly.staging.mode"
STAGING_DIR_CONF = "spark.jly.staging.dir"


def stage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut lineage at a fan-out or iteration point — THE staging
    helper every operator uses (always via ``df.transform(stage)`` /
    ``stage_eager`` so chained plans stay readable).

    Two situations need the cut:
    - a frame read by several downstream branches whose alignment
      depends on compute-once semantics (`spark_partition_id()`
      shards, sampled boundaries, RNG) — without the cut each branch
      recomputes the nondeterminism independently and they disagree;
    - iterative loops (BPE merges, Lloyd iterations, label
      propagation) whose plan would otherwise grow by one full copy
      of the loop body per round until the optimizer stalls.

    ``eager=False`` defers materialization to first use (an
    unexecuted iterative frame never pays a job); ``eager=True``
    materializes now — for frames that are ALWAYS read several times
    immediately.

    Mode is read from the session conf (`spark.jly.staging.mode`):
    'local' (default) → `localCheckpoint`; 'reliable' →
    `DataFrame.checkpoint` into a durable directory, auto-pointing
    the SparkContext at `spark.jly.staging.dir` if no checkpoint dir
    is set yet. The cut is semantically identical either way — only
    the physical home of the truncated blocks changes — so tests and
    the local bench run 'local' while a preemptible cluster runs
    'reliable' without touching any operator code.

    Housekeeping in 'reliable' mode: checkpoint files outlive the
    frames that created them, so long iterative jobs (BPE rounds,
    k-core peels) should set
    `spark.cleaner.referenceTracking.cleanCheckpoints=true` to let
    the ContextCleaner delete a round's files once its frame is
    garbage-collected.
    """
    spark = df.sparkSession
    mode = spark.conf.get(STAGING_MODE_CONF, "local")
    if mode == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = spark.conf.get(STAGING_DIR_CONF, None)
            if not ckdir:
                raise ValueError(
                    f"{STAGING_MODE_CONF}=reliable needs a durable "
                    f"checkpoint dir: set {STAGING_DIR_CONF} or call "
                    "sc.setCheckpointDir"
                )
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(
            f"{STAGING_MODE_CONF} must be 'local' or 'reliable', "
            f"got {mode!r}"
        )
    return df.localCheckpoint(eager=eager)


def stage_eager(df: DataFrame) -> DataFrame:
    """`stage` with immediate materialization — for frames that are
    always read multiple times right away (see `stage`)."""
    return stage(df, eager=True)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each parquet table as a temp view for `spark.sql` use."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table hive-partitioned by low-cardinality columns —
    the storage-level answer to repeated scans: a filter on a
    partition column prunes whole directories before any file is
    opened (`PartitionFilters` in the read plan), so a day's query
    over a year of data reads 1/365th of it. At 100 TB this is how
    fact tables should land: partition by coarse time/grain (never a
    high-cardinality key — millions of tiny directories kill the
    driver's file index), then `sortWithinPartitions` on the common
    filter/join columns so min/max page stats prune within files
    too. Complements `write_bucketed` (partitioning prunes scans,
    bucketing removes join/agg shuffles)."""
    # Co-locate each hive partition's rows in one task before the
    # write: without this every task emits a file into every value's
    # directory (tasks × values small files); with it each directory
    # gets one well-sorted file. At very large per-partition volume,
    # add a salt column to the repartition to cap file size.
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    path: str,
    table: str,
    keys: list[str],
    n_buckets: int = 32,
) -> None:
    """Persist a table bucketed (and sorted) by its join/agg keys —
    the storage-level answer to repeated shuffles: two tables
    bucketed the same way join with ZERO exchanges, and a groupBy on
    the bucket keys skips its shuffle too. At 100 TB this is how the
    nightly fact tables should land so every downstream join is
    co-located. Registered as an external table (option(path)), so it
    works against the in-memory catalog — no Hive metastore needed."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .option("path", path)
        .saveAsTable(table)
    )
