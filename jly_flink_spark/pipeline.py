"""The CDC delete-archival pipeline, Spark-first.

Reproduces the reference job's dataflow (SURVEY.md §2.1, operators
T1–T7) as a lazy DataFrame plan:

    envelopes -> op='d' filter (T1) -> validity guards (T2)
              -> project target row (T3) -> union of N sources (T5)
              -> literal-map enrichment fb_no (T6)
              -> routing key db_tb_name (T6/T7)

The reference runs this imperatively per record at parallelism 1
(StartJob.java:39); here it is declarative, so Catalyst pushes the
filters into the scan and prunes columns. The tiny sources dim is
inlined into the plan as a literal map, exactly the in-memory lookup
map the reference hand-codes (AdbSink.java:43-47,88-90): no join, no
broadcast, no extra Spark job per action.
At 100 TB the envelope scan parallelizes freely: the plan is
order-insensitive (bag union, idempotent keyed loads), so lifting
parallelism 1 is semantics-preserving (SURVEY.md §4.2).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import TaskConfig

# CDC op codes (reference: enums/ChangeType.java:12-16).
OP_INSERT = "i"
OP_DELETE = "d"
OP_UPDATE = "u"


def delete_filter(env: DataFrame) -> DataFrame:
    """T1: keep only DELETE events (StartJob.java:123-125)."""
    return env.filter(F.col("op") == OP_DELETE)


def validity_guards(env: DataFrame) -> DataFrame:
    """T2: drop rows with blank source table, null pre-image, missing
    pre-image id, or non-positive ts_ms (StartJob.java:128-151).

    The reference logs-and-drops; here dropped rows simply fall out of
    the filter (observable via `observe()` counters if needed).

    Blank = whitespace-only, matching Java's StringUtils.isBlank
    (StartJob.java:129): tabs/newlines count as blank, so a plain
    trim()-based test (which strips only ASCII spaces in Spark) is
    NOT equivalent — hence the regex class test."""
    c = guard_conditions(env)
    return env.filter(
        c["tbl_ok"] & c["before_ok"] & c["id_ok"] & c["ts_ok"]
    )


# Java-parity blank test (StringUtils.isBlank -> Character.isWhitespace,
# StartJob.java:129): an explicit character class of every codepoint
# Java 17 counts as whitespace -- ASCII controls \\t\\n\\x0B\\f\\r, the
# FS/GS/RS/US separators \\x1C-\\x1F, space, and the Unicode space/line/
# paragraph separators EXCEPT the non-breaking ones (U+00A0, U+2007,
# U+202F), which Java deliberately excludes. The regex \\s class is
# ASCII-only in both Java regex and RE2, so it misses the 1C-1F and
# Unicode rows. Both engine renderings are generated from ONE range
# spec (RE2 lacks \\uXXXX, so the SQL side uses \\x{...}); parity is
# pinned against the JVM itself AND cross-engine in
# tests/test_pipeline.py (TestJavaBlankParity).
_JAVA_WS_RANGES = (
    (0x09, 0x0D),  # tab newline vtab formfeed cr
    (0x1C, 0x1F),  # FS GS RS US
    (0x20, 0x20),  # space
    (0x1680, 0x1680),  # OGHAM SPACE MARK
    (0x2000, 0x2006),  # EN QUAD .. SIX-PER-EM (2007 excluded: nb)
    (0x2008, 0x200A),  # PUNCTUATION .. HAIR SPACE
    (0x2028, 0x2029),  # LINE / PARAGRAPH SEPARATOR
    (0x205F, 0x205F),  # MEDIUM MATH SPACE (202F excluded: nb)
    (0x3000, 0x3000),  # IDEOGRAPHIC SPACE
)


def _render_class(esc) -> str:
    return "".join(
        esc(lo) if lo == hi else f"{esc(lo)}-{esc(hi)}"
        for lo, hi in _JAVA_WS_RANGES
    )


# Spark (Java regex): literal codepoints are safe in a Python string.
JAVA_BLANK_RE = f"^[{_render_class(chr)}]*$"
# DuckDB (RE2): \\x{...} escapes, backslashes kept literal by standard
# single-quoted SQL strings.
JAVA_BLANK_RE_SQL = (
    "^[" + _render_class(lambda c: f"\\x{{{c:04x}}}") + "]*$"
)


def guard_conditions(env: DataFrame) -> dict:
    """The four T2 guard predicates as named Columns, shared by the
    batch filter, the drop-accounting query, and the streaming
    observe() counters (StartJob.java:128-151)."""
    return {
        "is_delete": F.col("op") == OP_DELETE,
        "tbl_ok": F.col("source_table").isNotNull()
        & ~F.col("source_table").rlike(JAVA_BLANK_RE),
        "before_ok": F.col("before").isNotNull(),
        "id_ok": F.get_json_object(F.col("before"), "$.id").isNotNull(),
        # null-safe: a well-formed envelope MISSING ts_ms parses to
        # NULL; a bare `ts_ms > 0` is then NULL, which a filter drops
        # (correct) but a counting bucket skips — the row would land
        # in NO observe()/drop-stats bucket and the per-epoch
        # reconciliation (counters sum = delete count) silently
        # undercounts. coalesce puts NULL ts in the bad-ts bucket.
        "ts_ok": F.coalesce(F.col("ts_ms") > 0, F.lit(False)),
    }


def observe_guard_drops(env: DataFrame, name: str = "guards") -> DataFrame:
    """T2 observability on a (possibly streaming) envelope frame:
    attach `observe()` counters cascading in guard order — the Spark
    analog of the reference's per-violation log lines
    (StartJob.java:128-151). Counters surface per micro-batch in
    StreamingQueryProgress.observedMetrics[name]; the cascade puts
    every envelope — delete or not — in exactly one bucket, so the
    counts reconcile with TOTAL input rows per epoch (n_not_delete +
    guard buckets + n_archived = rows seen), catching silent row loss
    anywhere in the chain, e.g. across a Debezium snapshot→binlog
    phase transition where most rows are op:"r" reads."""
    c = guard_conditions(env)

    def cnt(cond, alias):
        return F.count(F.when(cond, 1)).alias(alias)

    # Null-safe delete test: a malformed envelope parses to op=NULL
    # (the quarantine path feeds exactly such rows through here), and
    # `op == 'd'` is then NULL — `~NULL` is NULL too, so without the
    # coalesce the row would land in NO bucket and the total-rows
    # reconciliation would report phantom loss.
    d = F.coalesce(c["is_delete"], F.lit(False))
    tbl, bef, idk, ts = (
        c["tbl_ok"], c["before_ok"], c["id_ok"], c["ts_ok"]
    )
    return env.observe(
        name,
        cnt(~d, "n_not_delete"),
        cnt(d & ~tbl, "n_blank_table"),
        cnt(d & tbl & ~bef, "n_null_before"),
        cnt(d & tbl & bef & ~idk, "n_no_id"),
        cnt(d & tbl & bef & idk & ~ts, "n_bad_ts"),
        cnt(d & tbl & bef & idk & ts, "n_archived"),
    )


def _normalized_json(col: F.Column) -> F.Column:
    """Compact JSON re-serialization of an opaque JSON string column —
    the analog of the reference re-serializing the parsed pre-image
    through fastjson (StartJob.java:146): compact separators, key
    insertion order preserved, non-ASCII unescaped. Strings (including
    every decimal — decimal.handling.mode=string stringifies numerics
    at the source), booleans, nulls, and integers of ANY width
    (Python ints are unbounded) survive byte-exact; the one caveat is
    non-integer JSON float literals, which re-render via Python float
    (1E2 → 100.0, >17 significant digits round) — rare in Debezium
    pre-images precisely because of the string decimal mode, but a
    consumer byte-comparing float-bearing payloads should stay on the
    verbatim default. Arrow-batched pandas UDF: a typed
    from_json/to_json round-trip can't express this for schemaless
    pre-images without corrupting nested values. Rows that are not
    parseable JSON pass through verbatim (the id guard has already
    ensured $.id extracts, so these are edge-malformed tails, not the
    common case)."""
    import json

    @F.pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return json.dumps(
                    json.loads(v),
                    separators=(",", ":"),
                    ensure_ascii=False,
                )
            except ValueError:
                return v

        return s.map(one)

    return norm(col)


def project_target(
    env: DataFrame, normalize_data_json: bool = False
) -> DataFrame:
    """T3: build the target row (StartJob.java:146-163):
    id = before.id as string, record_del_time = timestamp(ts_ms),
    data_json = the pre-image, carry table_name + instance.

    `data_json` default is the pre-image VERBATIM (documented
    deviation: same information as the reference, byte formatting may
    differ); `normalize_data_json=True` opts into the reference's
    fastjson-style compact re-serialization for consumers comparing
    bytes — at the price of a pandas UDF in the archival path."""
    data_json = (
        _normalized_json(F.col("before"))
        if normalize_data_json
        else F.col("before")
    )
    return env.select(
        F.col("instance_name"),
        F.col("source_table").alias("table_name"),
        F.get_json_object(F.col("before"), "$.id").alias("id"),
        F.timestamp_millis(F.col("ts_ms")).alias("record_del_time"),
        data_json.alias("data_json"),
    )


def union_sources(dfs: Iterable[DataFrame]) -> DataFrame:
    """T5: bag-semantics UNION ALL of the per-instance streams
    (StartJob.java:88-92)."""
    dfs = list(dfs)
    if not dfs:
        raise ValueError("union_sources: need at least one stream")
    return reduce(DataFrame.unionByName, dfs)


def enrich_and_route(df: DataFrame, cfg: TaskConfig) -> DataFrame:
    """T6+T7: stamp fb_no from the sources' instance->fb_no map and
    derive the routing key db_tb_name = '<dbAlias>_<tableName>'
    (AdbSink.java:88-90, SrSink.java:89-91).

    The map is the reference's in-memory `Map<String, SourceInfo>`
    (AdbSink.java:43-47) inlined as a literal `create_map`, so the
    lookup runs inside the scan's projection: the plan has no join and
    no broadcast, and no action pays a job to ship a dim of O(10) rows.
    Left-join parity with `map.get()`: an unknown or NULL
    instance_name stamps fb_no NULL and keeps the row; a duplicated
    instance_name keeps its last fb_no, like repeated `map.put()`."""
    fb_no = {s.instance_name: s.fb_no for s in cfg.sources}
    pairs = [F.lit(v) for kv in fb_no.items() for v in kv]
    # the cast types an empty map's NULL lookup; on strings it is a no-op
    lookup = F.element_at(F.create_map(*pairs), F.col("instance_name"))
    return df.withColumn("fb_no", lookup.cast("string")).withColumn(
        "db_tb_name",
        F.concat_ws("_", F.lit(cfg.db_alias), F.col("table_name")),
    )


def target_rows(df: DataFrame) -> DataFrame:
    """Final sink schema (AdbSink.java:111 column list) plus the
    routing key."""
    return df.select(
        "db_tb_name", "id", "fb_no", "record_del_time", "data_json"
    )


def build_pipeline(
    spark: SparkSession,
    envelopes: DataFrame,
    cfg: TaskConfig,
    normalize_data_json: bool = False,
) -> DataFrame:
    """Compose T1→T7 over an already-unioned envelope DataFrame.

    The reference parses/filters per source stream then unions
    (StartJob.java:52-92); with `instance_name` as a column the union
    is implicit and the plan is identical — one scan, one filter chain,
    one projection (SURVEY.md T5 note). `normalize_data_json`:
    see `project_target`."""
    deletes = validity_guards(delete_filter(envelopes))
    projected = project_target(
        deletes, normalize_data_json=normalize_data_json
    )
    return target_rows(enrich_and_route(projected, cfg))


def route_counts(target: DataFrame) -> DataFrame:
    """T7 observability: rows per destination table (the grouping the
    sinks perform before writing, AdbSink.java:106)."""
    return target.groupBy("db_tb_name").agg(F.count("*").alias("n_rows"))
