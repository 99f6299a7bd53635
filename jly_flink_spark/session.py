"""SparkSession factory.

The reference pins its JDBC session timezone to Asia/Shanghai
(reference: save-del-his-job/.../sink/AdbSink.java:63) so deleted-row
timestamps render as Shanghai wall-clock. For oracle comparison
against DuckDB (UTC-naive timestamps) we default the session TZ to
UTC and expose the Shanghai pin as an option for reference-parity
deployments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference-parity timezone (AdbSink.java:63: serverTimezone=Asia/Shanghai).
REFERENCE_TZ = "Asia/Shanghai"


def local_cpus() -> int:
    """Cores for ``local[n]``: ``SPARK_GRAFT_CPUS`` when set, else the
    CPUs this process may run on — never more task slots than cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "jly_flink_spark",
    *,
    tz: str = "UTC",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    On a real cluster the same configs apply; only ``master`` and the
    memory sizing change. AQE is on so skewed joins and small shuffle
    partitions are re-planned at runtime — this is the 100-TB path:
    static shuffle-partition counts never fit every stage.
    """
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # IO compression codec — a measured tradeoff, env-switchable:
        # zstd cut the repo's largest shuffle (adamic-adar wedge
        # rollup at 10×) 1101 MB → 570 MB (-48%) at equal wall, the
        # first-order lever when shuffle bytes cross a busy fabric
        # (the 1000-executor case) — but it DOUBLED the wall of the
        # checkpoint-heavy composed pipelines (v2 7.3 s → 15.9 s
        # best-of-3 idle: dozens of small stages/broadcasts each pay
        # zstd per-stream CPU; buffer-pool tuning recovered only
        # ~15%). Local/latency-bound runs therefore default to lz4;
        # set SPARK_GRAFT_IO_CODEC=zstd on network-bound clusters.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def enable_runtime_filters(
    spark: SparkSession,
    *,
    application_side_scan_threshold: str = "10GB",
    creation_side_threshold: str = "100MB",
) -> None:
    """Turn on Catalyst's runtime (row-level) Bloom-filter join
    pruning for this session.

    At 100 TB this is a first-order lever for selective dim→fact
    joins that are too big to broadcast: the optimizer builds a Bloom
    filter over the creation side's join keys (a one-pass aggregate
    over the ALREADY-FILTERED dim rows) and injects
    `might_contain(xxhash64(key))` into the fact side ABOVE ITS SCAN —
    so non-matching fact rows are dropped before they are shuffled,
    cutting shuffle volume by the join's selectivity. Broadcast joins
    don't need it (the hash table already prunes map-side); this
    covers the shuffle-join regime between "dim fits in 64 MB" and
    "both sides huge and unselective".

    The thresholds mirror Spark's intent: only bother when the fact
    scan is big enough for pruning to pay (application side) and the
    dim side is small enough that its Bloom filter stays cheap
    (creation side). Defaults match a 1000-executor cluster; tests
    set the application threshold to 0 to force injection at test SF.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        application_side_scan_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
