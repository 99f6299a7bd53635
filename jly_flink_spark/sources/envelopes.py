"""CDC envelope sources.

The reference's input is a MySQL-binlog Debezium stream
(reference: job/StartJob.java:63-74). Spark has no native MySQL CDC
source; the idiomatic fronting is Kafka+Debezium emitting the same
JSON envelope (SURVEY.md S1). For this repo's harness the envelope
stream is materialized two ways:

1. `synth_envelopes_from_events` — a *deterministic, pure-SQL*
   derivation of a Debezium-shaped envelope table from the driver's
   `events` parquet. Every expression is mirrored 1:1 in the DuckDB
   oracle (plans/cdc_queries.py), so the whole CDC pipeline is
   hash-checked end-to-end. Guard-violating rows (blank table, null
   before, missing id, ts_ms<=0 — StartJob.java:128-151) are injected
   at fixed residues so the T2 guards are actually exercised.

2. `envelope_json_lines` / `read_envelope_stream` — raw JSON envelope
   strings for streaming-parity tests (FIXTURES.md §4), parsed with
   `from_json` like a Kafka `value` column would be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Debezium envelope schema, consumed fields only (StartJob.java:122-151).
# `before` is kept as a raw JSON string (opaque pre-image — never
# schema-validated, decimals stay strings per decimal.handling.mode=string,
# StartJob.java:59-61).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("db", T.StringType()),
                    T.StructField("table", T.StringType()),
                ]
            ),
        ),
    ]
)

# Residues used to inject guard-violating rows into the synthetic
# envelope stream. Chosen co-prime-ish so violations overlap rarely.
_TS_ZERO_MOD = 97  # ts_ms <= 0 guard (StartJob.java:147-151)
_BLANK_TABLE_MOD = 53  # blank source.table guard (StartJob.java:128-132)
_NULL_BEFORE_MOD = 89  # null before guard (StartJob.java:134-137)
_NO_ID_MOD = 71  # null before.id guard (StartJob.java:140-144)


SYNTH_N_INSTANCES = 3  # shared with SYNTH_ENVELOPES_ORACLE_SQL below


def synth_envelopes_from_events(
    events: DataFrame, n_instances: int = SYNTH_N_INSTANCES
) -> DataFrame:
    """Derive a deterministic flattened CDC-envelope table from `events`.

    Output columns: instance_name, op, ts_ms, source_table, before.
    ~40% of rows are deletes (op='d'); fixed residue classes carry
    guard violations. All expressions are pure string/arithmetic ops
    so the DuckDB oracle derives the identical table.
    """
    eid = F.col("event_id")
    return events.select(
        F.concat(F.lit("src-"), (eid % n_instances).cast("string")).alias(
            "instance_name"
        ),
        F.when((eid % 5).isin(0, 1), F.lit("d"))
        .when(eid % 5 == 2, F.lit("i"))
        .otherwise(F.lit("u"))
        .alias("op"),
        F.when(eid % _TS_ZERO_MOD == 0, F.lit(0))
        .otherwise(F.unix_millis(F.col("ts")))
        .alias("ts_ms"),
        F.when(eid % _BLANK_TABLE_MOD == 0, F.lit(""))
        .otherwise(F.concat(F.lit("t_"), F.col("event_type")))
        .alias("source_table"),
        F.when(eid % _NULL_BEFORE_MOD == 0, F.lit(None).cast("string"))
        .when(eid % _NO_ID_MOD == 0, F.lit('{"note":"no id"}'))
        .otherwise(
            F.concat(
                F.lit('{"id":"'),
                eid.cast("string"),
                F.lit('","props":'),
                F.col("props"),
                F.lit("}"),
            )
        )
        .alias("before"),
    )


# The same derivation as ANSI SQL for the DuckDB oracle. `{events}` is
# the events view; epoch_ms(ts) mirrors F.unix_millis.
SYNTH_ENVELOPES_ORACLE_SQL = f"""
SELECT
  'src-' || CAST(event_id % {SYNTH_N_INSTANCES} AS VARCHAR) AS instance_name,
  CASE WHEN event_id % 5 IN (0, 1) THEN 'd'
       WHEN event_id % 5 = 2 THEN 'i'
       ELSE 'u' END AS op,
  CASE WHEN event_id % {_TS_ZERO_MOD} = 0 THEN 0
       ELSE epoch_ms(ts) END AS ts_ms,
  CASE WHEN event_id % {_BLANK_TABLE_MOD} = 0 THEN ''
       ELSE 't_' || event_type END AS source_table,
  CASE WHEN event_id % {_NULL_BEFORE_MOD} = 0 THEN NULL
       WHEN event_id % {_NO_ID_MOD} = 0 THEN '{{"note":"no id"}}'
       ELSE '{{"id":"' || CAST(event_id AS VARCHAR) || '","props":' || props || '}}'
  END AS before
FROM events
"""


def envelope_json_lines(envelopes: DataFrame, db: str = "demo") -> DataFrame:
    """Render flattened envelopes back into raw Debezium JSON strings
    (one `value` column), the shape a Kafka/Debezium source delivers.
    Used by streaming-parity tests (FIXTURES.md §4)."""
    return envelopes.select(
        F.col("instance_name"),
        F.to_json(
            F.struct(
                F.col("op").alias("op"),
                F.col("ts_ms").alias("ts_ms"),
                F.struct(
                    F.lit(db).alias("db"), F.col("source_table").alias("table")
                ).alias("source"),
                F.col("before").alias("before"),
            )
        ).alias("value"),
    )


def parse_envelope_json(
    raw: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Parse raw Debezium JSON envelope strings into the flattened
    envelope shape (T1's parse step, StartJob.java:122).

    The pre-image is re-extracted as a raw JSON string via
    `get_json_object` so it stays opaque (decimal-as-string semantics,
    StartJob.java:59-61) — `from_json` only touches the typed fields.
    """
    v = F.col(value_col)
    parsed = raw.withColumn("_env", F.from_json(v, ENVELOPE_SCHEMA))
    return parsed.select(
        *[c for c in raw.columns if c != value_col],
        F.col("_env.op").alias("op"),
        F.col("_env.ts_ms").alias("ts_ms"),
        F.col("_env.source.table").alias("source_table"),
        F.get_json_object(v, "$.before").alias("before"),
    )


def read_envelope_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of raw envelope JSON lines (one text file per
    micro-batch by default) — the harness stand-in for a Kafka topic.
    maxFilesPerTrigger plays the reference's count-based batch trigger
    (T8, AdbSink.java:92-94)."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def parse_envelope_json_flagged(
    raw: DataFrame, value_col: str = "value"
) -> DataFrame:
    """Parse with an in-row corrupt-record flag: ONE frame carrying
    the envelope columns, the raw line, and `_is_bad`.

    A malformed envelope (truncated JSON, wrong types) must never kill
    the archival stream — the reference's parser silently nulls such
    events out (ParseDeleteWithSource catches nothing: a bad payload
    throws and fails the Flink task, StartJob.java:122-151; we upgrade
    that to explicit quarantine). The raw line rides along so the
    poison messages are replayable after a fix — the DLQ pattern,
    minus the queue. Keeping good and bad in one frame lets the
    streaming job parse each micro-batch ONCE for the observe()
    counters, the quarantine write, and the pipeline.

    Detection: PERMISSIVE-mode from_json with an explicit
    columnNameOfCorruptRecord field — Spark fills that field with the
    raw line iff the record failed to parse, and leaves it null for
    every well-formed envelope (a null STRUCT is not a reliable
    signal: PERMISSIVE parsing nulls the fields, not the struct).
    """
    quarantine_schema = T.StructType(
        list(ENVELOPE_SCHEMA.fields)
        + [T.StructField("_corrupt", T.StringType())]
    )
    v = F.col(value_col)
    parsed = raw.withColumn(
        "_env",
        F.from_json(
            v,
            quarantine_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    # A NULL value (e.g. a Kafka/Debezium tombstone) makes from_json
    # return a null STRUCT — _corrupt is then null too, so testing
    # _corrupt alone would misroute tombstones into `good` as all-null
    # rows. Unparseable-or-absent both belong in quarantine.
    is_bad = v.isNull() | F.col("_env._corrupt").isNotNull()
    flagged = parsed.select(
        *[c for c in raw.columns if c != value_col],
        v.alias("raw_value"),
        is_bad.alias("_is_bad"),
        F.col("_env.op").alias("op"),
        F.col("_env.ts_ms").alias("ts_ms"),
        F.col("_env.source.table").alias("source_table"),
        F.get_json_object(v, "$.before").alias("before"),
    )
    return flagged


def split_flagged(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad) view of a `parse_envelope_json_flagged` frame — the
    one good/bad split of the quarantine path (streaming epochs and
    the quarantine replay): good rows carry the parsed envelope
    columns, bad rows the raw line for replay-after-fix; any other
    input column (e.g. instance_name) passes through both."""
    parsed = ("raw_value", "_is_bad", "op", "ts_ms", "source_table", "before")
    passthrough = [c for c in flagged.columns if c not in parsed]
    bad = flagged.filter(F.col("_is_bad")).select(
        *passthrough, "raw_value"
    )
    good = flagged.filter(~F.col("_is_bad")).select(
        *passthrough, "op", "ts_ms", "source_table", "before"
    )
    return good, bad
