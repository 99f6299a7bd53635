"""CDC pipeline queries (SURVEY.md §2.1 operators T1–T7) with DuckDB
oracles.

The envelope table is derived deterministically from the driver's
`events` parquet on BOTH sides (sources/envelopes.py mirrors
SYNTH_ENVELOPES_ORACLE_SQL), so the whole reference dataflow —
parse, delete filter, guards, projection, union, literal-map
enrichment, routing — is value-hash-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import demo_task_config
from ..io import load_table
from ..pipeline import (
    build_pipeline,
    delete_filter,
    route_counts,
    validity_guards,
)
from ..sources.envelopes import (
    SYNTH_ENVELOPES_ORACLE_SQL,
    synth_envelopes_from_events,
)
from .registry import register

_CFG = demo_task_config(n_sources=3, db_alias="demo")

# Shared oracle prelude: the synthetic envelope table + the sources dim
# (the dim mirrors config.demo_task_config — the Spark side inlines it
# as a literal map, T6).
_ORACLE_PRELUDE = f"""
WITH env AS ({SYNTH_ENVELOPES_ORACLE_SQL}),
dim(instance_name, fb_no) AS (
  VALUES ('src-0', 'FB0'), ('src-1', 'FB1'), ('src-2', 'FB2')
)
"""


def _envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_envelopes_from_events(load_table(spark, sf_dir, "events"))


@register(
    "cdc_synth_envelopes",
    oracle=_ORACLE_PRELUDE + "SELECT * FROM env",
    tags=("cdc", "source"),
    doc="S1 stand-in: the deterministic Debezium-shaped envelope table.",
)
def cdc_synth_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _envelopes(spark, sf_dir)


@register(
    "cdc_delete_archive",
    oracle=_ORACLE_PRELUDE
    + """
SELECT
  'demo_' || e.source_table AS db_tb_name,
  json_extract_string(e.before, '$.id') AS id,
  d.fb_no AS fb_no,
  epoch_ms(e.ts_ms) AS record_del_time,
  e.before AS data_json
FROM env e
LEFT JOIN dim d USING (instance_name)
WHERE e.op = 'd'
  AND e.source_table IS NOT NULL AND NOT regexp_matches(e.source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$')
  AND e.before IS NOT NULL
  AND json_extract_string(e.before, '$.id') IS NOT NULL
  AND e.ts_ms > 0
""",
    tags=("cdc", "pipeline", "flagship"),
    doc="T1–T7 composite: the reference job end-to-end "
    "(StartJob.java:121-163 + AdbSink.java:88-90 enrichment).",
)
def cdc_delete_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_pipeline(spark, _envelopes(spark, sf_dir), _CFG)


@register(
    "cdc_filtered_deletes",
    oracle=_ORACLE_PRELUDE
    + """
SELECT instance_name, op, ts_ms, source_table, before
FROM env
WHERE op = 'd'
  AND source_table IS NOT NULL AND NOT regexp_matches(source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$')
  AND before IS NOT NULL
  AND json_extract_string(before, '$.id') IS NOT NULL
  AND ts_ms > 0
""",
    tags=("cdc", "filter"),
    doc="T1+T2 in isolation: delete filter + the four validity guards "
    "(StartJob.java:123-151).",
)
def cdc_filtered_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = _envelopes(spark, sf_dir)
    return validity_guards(delete_filter(env)).select(
        "instance_name", "op", "ts_ms", "source_table", "before"
    )


@register(
    "cdc_route_counts",
    oracle=_ORACLE_PRELUDE
    + """
SELECT 'demo_' || e.source_table AS db_tb_name,
       count(*) AS n_rows
FROM env e
WHERE e.op = 'd'
  AND e.source_table IS NOT NULL AND NOT regexp_matches(e.source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$')
  AND e.before IS NOT NULL
  AND json_extract_string(e.before, '$.id') IS NOT NULL
  AND e.ts_ms > 0
GROUP BY 1
""",
    tags=("cdc", "groupby"),
    doc="T7: per-destination-table routing counts "
    "(the groupingBy at AdbSink.java:106).",
)
def cdc_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = build_pipeline(spark, _envelopes(spark, sf_dir), _CFG)
    return route_counts(target)


@register(
    "cdc_op_breakdown",
    oracle=_ORACLE_PRELUDE
    + "SELECT op, count(*) AS n FROM env GROUP BY op",
    tags=("cdc", "groupby"),
    doc="Envelope op-code distribution (ChangeType.java:12-16): the "
    "complement view of the T1 delete filter.",
)
def cdc_op_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _envelopes(spark, sf_dir).groupBy("op").agg(F.count("*").alias("n"))
    )


@register(
    "cdc_guard_drop_stats",
    oracle=_ORACLE_PRELUDE
    + """
SELECT
  count(*) FILTER (WHERE op <> 'd') AS n_non_delete,
  count(*) FILTER (WHERE op = 'd' AND (source_table IS NULL
                   OR regexp_matches(source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$'))) AS n_blank_table,
  count(*) FILTER (WHERE op = 'd' AND source_table IS NOT NULL
                   AND NOT regexp_matches(source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$')
                   AND before IS NULL) AS n_null_before,
  count(*) FILTER (WHERE op = 'd' AND source_table IS NOT NULL
                   AND NOT regexp_matches(source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$') AND before IS NOT NULL
                   AND json_extract_string(before, '$.id') IS NULL) AS n_no_id,
  count(*) FILTER (WHERE op = 'd' AND source_table IS NOT NULL
                   AND NOT regexp_matches(source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$') AND before IS NOT NULL
                   AND json_extract_string(before, '$.id') IS NOT NULL
                   AND (ts_ms <= 0 OR ts_ms IS NULL)) AS n_bad_ts,
  count(*) FILTER (WHERE op = 'd' AND source_table IS NOT NULL
                   AND NOT regexp_matches(source_table, '^[\\x{0009}-\\x{000d}\\x{001c}-\\x{001f}\\x{0020}\\x{1680}\\x{2000}-\\x{2006}\\x{2008}-\\x{200a}\\x{2028}-\\x{2029}\\x{205f}\\x{3000}]*$') AND before IS NOT NULL
                   AND json_extract_string(before, '$.id') IS NOT NULL
                   AND ts_ms > 0) AS n_archived
FROM env
""",
    tags=("cdc", "observability"),
    doc="T2 drop accounting: the reference LOGS each guard violation "
    "before dropping (StartJob.java:128-151); here the same counters "
    "come from one conditional-aggregation scan, cascaded in guard "
    "order so every envelope lands in exactly one bucket. (In the "
    "streaming job the equivalent counters ride on df.observe().)",
)
def cdc_guard_drop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline import guard_conditions

    env = _envelopes(spark, sf_dir)
    c = guard_conditions(env)
    is_d, tbl_ok, before_ok, id_ok, ts_ok = (
        c["is_delete"], c["tbl_ok"], c["before_ok"], c["id_ok"], c["ts_ok"]
    )

    def cnt(cond, alias):
        return F.count(F.when(cond, 1)).alias(alias)

    return env.agg(
        cnt(~is_d, "n_non_delete"),
        cnt(is_d & ~tbl_ok, "n_blank_table"),
        cnt(is_d & tbl_ok & ~before_ok, "n_null_before"),
        cnt(is_d & tbl_ok & before_ok & ~id_ok, "n_no_id"),
        cnt(is_d & tbl_ok & before_ok & id_ok & ~ts_ok, "n_bad_ts"),
        cnt(is_d & tbl_ok & before_ok & id_ok & ts_ok, "n_archived"),
    )


@register(
    "cdc_apply_changes_merge",
    oracle="""
WITH changes AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'd'
              WHEN c_custkey % 10 IN (1, 2) THEN 'u'
              ELSE NULL END AS op,
         c_acctbal + 100.0 AS new_acctbal
  FROM customer
  WHERE c_custkey % 10 IN (0, 1, 2)
),
merged AS (
  SELECT c.c_custkey,
         CASE WHEN ch.op = 'u' THEN ch.new_acctbal ELSE c.c_acctbal END AS acctbal
  FROM customer c
  LEFT JOIN changes ch USING (c_custkey)
  WHERE ch.op IS DISTINCT FROM 'd'
)
SELECT count(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(acctbal * 10000) AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS sum_acctbal
FROM merged
""",
    tags=("cdc", "merge", "upsert"),
    doc="MERGE / apply-changes: a CDC batch (deletes for custkey%10=0, "
    "updates for %10∈{1,2}) applied to the customer snapshot in one "
    "pass — LEFT JOIN + delete-filter + CASE-update, the join-based "
    "MERGE every lakehouse implements underneath. The complement of "
    "the reference's pipeline (which ARCHIVES the deletes this "
    "operator applies). Output is the merged table's count+checksum, "
    "proving row set and values, not just shape.",
)
def cdc_apply_changes_merge(spark, sf_dir):
    from ..io import load_table

    c = load_table(spark, sf_dir, "customer")
    mod = F.col("c_custkey") % 10
    changes = c.filter(mod.isin(0, 1, 2)).select(
        "c_custkey",
        F.when(mod == 0, "d").when(mod.isin(1, 2), "u").alias("op"),
        (F.col("c_acctbal") + 100.0).alias("new_acctbal"),
    )
    merged = (
        c.join(changes, "c_custkey", "left")
        .filter(
            F.col("op").isNull() | (F.col("op") != "d")
        )
        .select(
            "c_custkey",
            F.when(F.col("op") == "u", F.col("new_acctbal"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
        )
    )
    from ..functions import dsum

    return merged.agg(
        F.count("*").alias("n_rows"),
        dsum(F.col("acctbal"), "sum_acctbal"),
    )


@register(
    "cdc_schema_fingerprints",
    oracle=_ORACLE_PRELUDE
    + """
SELECT source_table,
       array_to_string(list_sort(json_keys(before)), '|') AS keyset,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(ts_ms) AS BIGINT) AS first_ts_ms,
       CAST(max(ts_ms) AS BIGINT) AS last_ts_ms
FROM env
WHERE before IS NOT NULL
GROUP BY 1, 2
""",
    tags=("cdc", "schema", "ops"),
    doc="Schema-drift fingerprints over the CDC stream: per source "
    "table, the distinct sorted key-sets of the pre-image JSON with "
    "row counts and first/last binlog timestamps — the operational "
    "query that surfaces a mid-stream ADD COLUMN (the Debezium "
    "capture fixture's DDL scenario) as a new fingerprint appearing "
    "at a known ts. Pure per-row JSON key extraction + one "
    "map-side-combined rollup on (table, fingerprint); the pre-image "
    "payload itself never shuffles — only fingerprint strings do.",
)
def cdc_schema_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    env = _envelopes(spark, sf_dir)
    keyset = F.array_join(
        F.sort_array(F.json_object_keys(F.col("before"))), "|"
    )
    return (
        env.filter(F.col("before").isNotNull())
        .select("source_table", keyset.alias("keyset"), "ts_ms")
        .groupBy("source_table", "keyset")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ts_ms").alias("first_ts_ms"),
            F.max("ts_ms").alias("last_ts_ms"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance: fold a changelog into an aggregate view
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
WITH log AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CASE WHEN event_id % 5 IN (0, 1) THEN 'd'
              WHEN event_id % 5 = 2 THEN 'i'
              ELSE 'u' END AS op,
         CAST(floor(value * 100) AS BIGINT) AS val
  FROM events
), imaged AS (
  SELECT event_type, day, op,
         CASE WHEN op = 'i' THEN NULL ELSE val END AS before_cents,
         CASE WHEN op = 'd' THEN NULL
              WHEN op = 'u' THEN val + 7 ELSE val END AS after_cents
  FROM log
), tile AS (
  SELECT event_type, day,
         CAST(sum(CASE WHEN op = 'i' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_i,
         CAST(sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_u,
         CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_d,
         CAST(sum(coalesce(after_cents, 0) - coalesce(before_cents, 0))
              AS BIGINT) AS delta_cents
  FROM imaged GROUP BY event_type, day
)
SELECT event_type, day, n_i, n_u, n_d, delta_cents,
       CAST(sum(n_i - n_d) OVER w AS BIGINT) AS view_rows,
       CAST(sum(delta_cents) OVER w AS BIGINT) AS view_cents
FROM tile
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "cdc_ivm_view_evolution",
    oracle=_IVM_ORACLE,
    tags=("cdc", "window", "temporal", "ivm"),
    doc="Incremental view maintenance: fold a Debezium-shaped "
    "changelog (op i/u/d with before/after images, derived "
    "deterministically from events — same op convention as the "
    "envelope fixture) into a per-(type, day) DELTA TILE (net row "
    "and value deltas; inserts +after, deletes −before, updates "
    "after−before), then replay the tiles in day order to the "
    "view's value AFTER each day's changelog — the maintained "
    "aggregate a 100-TB pipeline keeps instead of recomputing: the "
    "fact-sized work is ONE changelog pass that map-side combines "
    "to |types|·|days| tiles, and the replay window runs over the "
    "tile table only. The streaming twin is `latest_state_stream` + "
    "an additive rollup; this is its batch-audit form.",
)
def cdc_ivm_view_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400))
        .cast("bigint")
        .alias("day"),
        F.when(F.col("event_id") % 5 <= 1, "d")
        .when(F.col("event_id") % 5 == 2, "i")
        .otherwise("u")
        .alias("op"),
        F.floor(F.col("value") * 100).cast("bigint").alias("val"),
    )
    imaged = log.select(
        "event_type",
        "day",
        "op",
        F.when(F.col("op") == "i", F.lit(None))
        .otherwise(F.col("val"))
        .alias("before_cents"),
        F.when(F.col("op") == "d", F.lit(None))
        .when(F.col("op") == "u", F.col("val") + 7)
        .otherwise(F.col("val"))
        .alias("after_cents"),
    )
    tile = imaged.groupBy("event_type", "day").agg(
        F.sum((F.col("op") == "i").cast("int"))
        .cast("bigint")
        .alias("n_i"),
        F.sum((F.col("op") == "u").cast("int"))
        .cast("bigint")
        .alias("n_u"),
        F.sum((F.col("op") == "d").cast("int"))
        .cast("bigint")
        .alias("n_d"),
        F.sum(
            F.coalesce(F.col("after_cents"), F.lit(0))
            - F.coalesce(F.col("before_cents"), F.lit(0))
        )
        .cast("bigint")
        .alias("delta_cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tile.select(
        "event_type",
        "day",
        "n_i",
        "n_u",
        "n_d",
        "delta_cents",
        F.sum(F.col("n_i") - F.col("n_d"))
        .over(w)
        .cast("bigint")
        .alias("view_rows"),
        F.sum("delta_cents").over(w).cast("bigint").alias("view_cents"),
    )


# ---------------------------------------------------------------------------
# CDC stream-health audit: event-time regressions per instance
# ---------------------------------------------------------------------------

_OOO_ORACLE = """
WITH env AS (
  SELECT 'src-' || CAST(event_id % 3 AS VARCHAR) AS instance_name,
         event_id,
         CASE WHEN event_id % 97 = 0 THEN 0
              ELSE epoch_ms(ts) + (event_id % 7 - 3) * 3600000
              END AS ts_ms
  FROM events
), seq AS (
  SELECT instance_name, ts_ms,
         max(CASE WHEN ts_ms > 0 THEN ts_ms END) OVER (
           PARTITION BY instance_name ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS hwm
  FROM env
)
SELECT instance_name,
       CAST(count(*) AS BIGINT) AS n_envelopes,
       CAST(sum(CASE WHEN ts_ms = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_ts,
       CAST(sum(CASE WHEN ts_ms > 0 AND hwm IS NOT NULL
                      AND ts_ms < hwm THEN 1 ELSE 0 END) AS BIGINT)
         AS n_regressions,
       CAST((sum(CASE WHEN ts_ms > 0 AND hwm IS NOT NULL
                  AND ts_ms < hwm THEN 1 ELSE 0 END) * 1000000)
         // count(*) AS BIGINT) AS regression_ppm
FROM seq GROUP BY instance_name
"""


@register(
    "cdc_out_of_order_rate",
    oracle=_OOO_ORACLE,
    tags=("cdc", "window", "statistics", "monitoring"),
    doc="CDC stream-health audit: per source instance, how often an "
    "envelope's event time REGRESSES below the instance's running "
    "high-water mark in arrival order (binlog position = event_id "
    "here; the fixture plants ts_ms=0 rows every 97th envelope as "
    "the broken-clock case, counted separately) — the disorder "
    "metric that sizes every downstream watermark delay and dedup "
    "horizon: a regression rate drifting up means the configured "
    "horizons are about to start dropping live rows. One per-"
    "instance window over arrival order (the running max ignores "
    "zero timestamps so a broken clock doesn't poison the HWM), "
    "then a |instances|-row rollup in exact ppm.",
)
def cdc_out_of_order_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    env = ev.select(
        F.concat(F.lit("src-"), (F.col("event_id") % 3).cast("string"))
        .alias("instance_name"),
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.lit(0))
        .otherwise(
            F.unix_millis("ts")
            + (F.col("event_id") % 7 - 3) * 3_600_000
        )
        .alias("ts_ms"),
    )
    w = (
        Window.partitionBy("instance_name")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = env.select(
        "instance_name",
        "ts_ms",
        F.max(
            F.when(F.col("ts_ms") > 0, F.col("ts_ms"))
        ).over(w).alias("hwm"),
    )
    reg = (F.col("ts_ms") > 0) & F.col("hwm").isNotNull() & (
        F.col("ts_ms") < F.col("hwm")
    )
    return seq.groupBy("instance_name").agg(
        F.count("*").cast("bigint").alias("n_envelopes"),
        F.sum((F.col("ts_ms") == 0).cast("int"))
        .cast("bigint")
        .alias("n_zero_ts"),
        F.sum(reg.cast("int")).cast("bigint").alias("n_regressions"),
        F.expr(
            "(sum(CASE WHEN ts_ms > 0 AND hwm IS NOT NULL "
            "AND ts_ms < hwm THEN 1 ELSE 0 END) * 1000000) "
            "div count(*)"
        ).alias("regression_ppm"),
    )
