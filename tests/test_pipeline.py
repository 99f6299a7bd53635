"""CDC pipeline unit tests: guards, projection, union, enrichment
(SURVEY.md T1–T7), on hand-built envelope frames with known goldens."""

import datetime as dt
import re

from pyspark.sql import functions as F

from jly_flink_spark.config import demo_task_config
from jly_flink_spark.pipeline import (
    build_pipeline,
    delete_filter,
    route_counts,
    union_sources,
    validity_guards,
)

ENV_SCHEMA = "instance_name string, op string, ts_ms long, source_table string, before string"


def _env(spark, rows):
    return spark.createDataFrame(rows, ENV_SCHEMA)


GOOD = ("src-0", "d", 1754000000000, "t_orders", '{"id":"42","amount":"12.34"}')


def test_non_deletes_dropped(spark):
    df = _env(
        spark,
        [
            GOOD,
            ("src-0", "i", 1754000000000, "t_orders", '{"id":"1"}'),
            ("src-0", "u", 1754000000000, "t_orders", '{"id":"2"}'),
        ],
    )
    out = delete_filter(df).collect()
    assert len(out) == 1 and out[0]["op"] == "d"


def test_validity_guards_drop_each_bad_shape(spark):
    # One violation per guard (StartJob.java:128-151) + one good row.
    df = _env(
        spark,
        [
            GOOD,
            ("src-0", "d", 1754000000000, "", '{"id":"1"}'),  # blank table
            ("src-0", "d", 1754000000000, "  ", '{"id":"1"}'),  # ws table
            ("src-0", "d", 1754000000000, None, '{"id":"1"}'),  # null table
            ("src-0", "d", 1754000000000, "t_orders", None),  # null before
            ("src-0", "d", 1754000000000, "t_orders", '{"x":1}'),  # no id
            ("src-0", "d", 0, "t_orders", '{"id":"1"}'),  # ts_ms == 0
            ("src-0", "d", -5, "t_orders", '{"id":"1"}'),  # ts_ms < 0
        ],
    )
    out = validity_guards(df).collect()
    assert len(out) == 1
    assert out[0]["before"] == GOOD[4]


def test_pipeline_golden_row(spark):
    cfg = demo_task_config()
    df = _env(spark, [GOOD])
    out = build_pipeline(spark, df, cfg).collect()
    assert len(out) == 1
    row = out[0]
    assert row["db_tb_name"] == "demo_t_orders"
    assert row["id"] == "42"
    assert row["fb_no"] == "FB0"
    assert row["data_json"] == GOOD[4]
    # timestamp_millis under UTC session TZ
    assert row["record_del_time"] == dt.datetime(2025, 7, 31, 22, 13, 20)


def test_normalize_data_json_flag(spark):
    """Opt-in fastjson-style re-serialization (StartJob.java:146):
    compact separators, key order preserved, non-ASCII unescaped,
    decimal STRINGS untouched; default stays byte-verbatim."""
    cfg = demo_task_config()
    sloppy = (
        "src-0", "d", 1754000000000, "t_orders",
        '{ "id" : "42",\n  "amount": "12.3400",'
        ' "note": "héllo", "big": 123456789012345678901234567890,'
        ' "nested": { "a": [1, 2] } }',
    )
    verbatim = build_pipeline(spark, _env(spark, [sloppy]), cfg).collect()
    assert verbatim[0]["data_json"] == sloppy[4]
    normal = build_pipeline(
        spark, _env(spark, [sloppy]), cfg, normalize_data_json=True
    ).collect()
    # ints of any width are exact (Python ints are unbounded);
    # decimal STRINGS are untouched — the float-literal caveat is
    # documented on _normalized_json
    assert normal[0]["data_json"] == (
        '{"id":"42","amount":"12.3400","note":"héllo",'
        '"big":123456789012345678901234567890,'
        '"nested":{"a":[1,2]}}'
    )


def test_unknown_instance_gets_null_fb_no(spark):
    # Reference: map.get() returns null for an unknown instance; parity
    # with the LEFT join (the oracle's LEFT JOIN dim): unknown and NULL
    # instances keep their rows with fb_no NULL.
    cfg = demo_task_config()
    rows = [
        GOOD,
        ("src-2", "d", 1754000000000, "t_x", '{"id":"1"}'),
        ("src-99", "d", 1754000000000, "t_x", '{"id":"7"}'),
        (None, "d", 1754000000000, "t_x", '{"id":"8"}'),
    ]
    out = build_pipeline(spark, _env(spark, rows), cfg).collect()
    assert {r["id"]: r["fb_no"] for r in out} == {
        "42": "FB0", "1": "FB2", "7": None, "8": None,
    }


def test_union_is_bag_semantics(spark):
    # T5: union keeps duplicates (StartJob.java:88-92 — no dedup).
    a = _env(spark, [GOOD])
    b = _env(spark, [GOOD])
    assert union_sources([a, b]).count() == 2


def test_route_counts(spark):
    cfg = demo_task_config()
    rows = [GOOD, GOOD, ("src-1", "d", 1754000000000, "t_items", '{"id":"9"}')]
    target = build_pipeline(spark, _env(spark, rows), cfg)
    counts = {r["db_tb_name"]: r["n_rows"] for r in route_counts(target).collect()}
    assert counts == {"demo_t_orders": 2, "demo_t_items": 1}


def test_enrichment_plan_has_no_join(spark):
    # T6 is a literal-map lookup in the projection, like the
    # reference's in-memory map: no join node, no broadcast exchange.
    cfg = demo_task_config()
    df = _env(spark, [GOOD])
    plan = build_pipeline(spark, df, cfg)._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Join|CartesianProduct|BroadcastExchange", plan), plan


class TestQuarantine:
    def test_corrupt_envelopes_quarantined_not_fatal(self, spark):
        from jly_flink_spark.sources.envelopes import (
            parse_envelope_json_flagged,
            split_flagged,
        )

        rows = [
            ("src-0", '{"op":"d","ts_ms":1754000000000,'
                      '"source":{"db":"x","table":"t"},"before":{"id":"1"}}'),
            ("src-0", '{"op":"d","ts_ms":17540'),          # truncated
            ("src-1", "not json at all"),                  # garbage
            ("src-1", '{"op":"i","ts_ms":1754000001000,'
                      '"source":{"db":"x","table":"t"},"before":{"id":"2"}}'),
        ]
        rows.append(("src-2", None))  # Kafka/Debezium tombstone
        raw = spark.createDataFrame(rows, "instance_name string, value string")
        good, bad = split_flagged(parse_envelope_json_flagged(raw))
        g = good.collect()
        b = bad.collect()
        assert len(g) == 2 and len(b) == 3
        assert {r["op"] for r in g} == {"d", "i"}
        # quarantine keeps the raw line for replay-after-fix
        assert any("not json" in r["raw_value"] for r in b)

    def test_quarantine_empty_on_clean_input(self, spark):
        from jly_flink_spark.sources.envelopes import (
            envelope_json_lines,
            parse_envelope_json_flagged,
            split_flagged,
        )
        from jly_flink_spark.sources.envelopes import synth_envelopes_from_events

        from jly_flink_spark.io import load_table

        events = load_table(spark, "/root/testdata/sf0.001", "events")
        env = synth_envelopes_from_events(events, n_instances=2)
        raw = envelope_json_lines(env).withColumnRenamed("value", "value")
        good, bad = split_flagged(parse_envelope_json_flagged(raw))
        assert bad.count() == 0
        assert good.count() == env.count()


class TestJavaBlankParity:
    """The blank-table guard (StartJob.java:129, StringUtils.isBlank)
    must match Java's Character.isWhitespace on EVERY codepoint, in
    BOTH engine renderings — the class is generated from one range
    spec, and these tests pin it against the JVM itself."""

    # every whitespace-relevant plane: ASCII/controls, Latin-1 (NBSP),
    # Ogham, general punctuation (incl. the non-breaking exclusions),
    # line/para separators, CJK ideographic space, plus a tail beyond
    _CODEPOINTS = (
        list(range(0x00, 0x100))
        + [0x1680, 0x1681, 0x180E, 0x200B]
        + list(range(0x2000, 0x2070))
        + [0x205F, 0x2060, 0x3000, 0x3001, 0xFEFF]
    )

    def test_class_matches_jvm_iswhitespace(self, spark):
        import re

        from jly_flink_spark.pipeline import JAVA_BLANK_RE

        jchar = spark._jvm.java.lang.Character
        pat = re.compile(JAVA_BLANK_RE)
        for cp in self._CODEPOINTS:
            ours = bool(pat.fullmatch(chr(cp)))
            java = bool(jchar.isWhitespace(cp))
            assert ours == java, f"U+{cp:04X}: class={ours} java={java}"

    def test_sql_rendering_matches_spark_rendering(self):
        import duckdb

        from jly_flink_spark.pipeline import (
            JAVA_BLANK_RE,
            JAVA_BLANK_RE_SQL,
        )
        import re

        pat = re.compile(JAVA_BLANK_RE)
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE cps AS SELECT unnest(?) AS cp", [self._CODEPOINTS]
        )
        rows = con.execute(
            "SELECT cp, regexp_matches(chr(cp), ?) FROM cps",
            [JAVA_BLANK_RE_SQL],
        ).fetchall()
        for cp, duck in rows:
            ours = bool(pat.fullmatch(chr(cp)))
            assert bool(duck) == ours, f"U+{cp:04X}"

    def test_cdc_oracles_use_generated_class(self):
        from jly_flink_spark.pipeline import JAVA_BLANK_RE_SQL
        from jly_flink_spark.plans import REGISTRY

        for name in (
            "cdc_delete_archive",
            "cdc_filtered_deletes",
            "cdc_route_counts",
            "cdc_guard_drop_stats",
        ):
            o = REGISTRY[name].oracle
            assert JAVA_BLANK_RE_SQL in o, name
            assert "\\s*$" not in o, name  # the old ASCII-only guard

    def test_exotic_blank_table_is_dropped(self, spark):
        from pyspark.sql import Row

        from jly_flink_spark.pipeline import validity_guards

        env = spark.createDataFrame(
            [
                Row(
                    op="d",
                    source_table="　 \x1c",  # Java-blank only
                    before='{"id": 1}',
                    ts_ms=5,
                ),
                Row(
                    op="d",
                    source_table=" ",  # NBSP: NOT blank in Java
                    before='{"id": 2}',
                    ts_ms=5,
                ),
            ]
        )
        kept = validity_guards(env).select("source_table").collect()
        assert [r[0] for r in kept] == [" "]
