"""Property-based tests (SURVEY.md §5 item 4): the envelope parser and
CDC pipeline checked differentially against a pure-Python model of the
reference semantics (StartJob.java:121-163) on hypothesis-generated
envelope streams, including malformed garbage.

Each example batches a whole list of envelopes into ONE Spark job, so
hypothesis explores structure without per-row job overhead."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from jly_flink_spark.config import demo_task_config
from jly_flink_spark.pipeline import build_pipeline
from jly_flink_spark.sources.envelopes import parse_envelope_json

CFG = demo_task_config(n_sources=3, db_alias="demo")
INSTANCES = [s.instance_name for s in CFG.sources]
FB_BY_INSTANCE = {s.instance_name: s.fb_no for s in CFG.sources}

# ---------------------------------------------------------------------------
# Generators
# ---------------------------------------------------------------------------

_ids = st.one_of(
    st.integers(min_value=0, max_value=2**40),
    st.text(
        alphabet="abcdefghij0123456789-", min_size=1, max_size=12
    ),
    st.none(),
)

_before = st.one_of(
    st.none(),
    st.fixed_dictionaries(
        {"id": _ids},
        optional={
            "name": st.text(max_size=8),
            "qty": st.integers(min_value=-5, max_value=5),
            "price": st.text(alphabet="0123456789.", min_size=1, max_size=8),
        },
    ),
    st.dictionaries(
        st.sampled_from(["note", "x", "y"]), st.text(max_size=5), max_size=2
    ),
)

_envelopes = st.lists(
    st.fixed_dictionaries(
        {
            "instance": st.sampled_from(INSTANCES + ["src-unknown"]),
            "op": st.sampled_from(["d", "i", "u", "c", ""]),
            "ts_ms": st.one_of(
                st.integers(min_value=-10, max_value=10),
                st.integers(min_value=1_500_000_000_000, max_value=1_800_000_000_000),
            ),
            "table": st.one_of(
                st.none(),
                st.sampled_from(["", " ", "\t", "t_orders", "t_items", "表"]),
            ),
            "before": _before,
        }
    ),
    max_size=40,
)


def _model(envs):
    """The reference's per-record semantics, in plain Python:
    op=='d', non-blank table, non-null before with a non-null id,
    ts_ms>0 → archive {db_tb_name, id, fb_no, record_del_time}."""
    out = []
    for e in envs:
        before = e["before"]
        if (
            e["op"] == "d"
            and e["table"] is not None
            and e["table"].strip() != ""
            and before is not None
            and isinstance(before, dict)
            and before.get("id") is not None
            and e["ts_ms"] > 0
        ):
            out.append(
                (
                    f"demo_{e['table']}",
                    str(before["id"]),
                    FB_BY_INSTANCE.get(e["instance"]),
                    e["ts_ms"],
                )
            )
    return sorted(out)


def _to_raw_df(spark, envs):
    lines = [
        (
            e["instance"],
            json.dumps(
                {
                    "op": e["op"],
                    "ts_ms": e["ts_ms"],
                    "source": {"db": "demo", "table": e["table"]},
                    "before": e["before"],
                },
                ensure_ascii=False,
            ),
        )
        for e in envs
    ]
    return spark.createDataFrame(lines, "instance_name string, value string")


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(envs=_envelopes)
@pytest.mark.slow
def test_pipeline_matches_reference_model(spark, envs):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = _to_raw_df(spark, envs)
    result = build_pipeline(spark, parse_envelope_json(raw), CFG).collect()

    got = sorted(
        (
            r["db_tb_name"],
            r["id"],
            r["fb_no"],
            int(
                r["record_del_time"]
                .replace(tzinfo=dt.timezone.utc)
                .timestamp()
                * 1000
            ),
        )
        for r in result
    )
    assert got == _model(envs)

    # and the archived pre-image is the envelope's, byte-for-byte as JSON
    for r in result:
        assert json.loads(r["data_json"]).get("id") is not None


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    lines=st.lists(
        st.one_of(
            st.text(max_size=30),
            st.sampled_from(
                ['{"op":"d"', "{}", "null", "[1,2]", '{"op":123}', "\x00"]
            ),
        ),
        max_size=20,
    )
)
def test_parser_never_throws_on_garbage(spark, lines):
    """T1 robustness: arbitrary garbage parses to nulls and falls out
    of the guards — the job never crashes on a bad record (the
    reference logs-and-drops; we filter-and-drop)."""
    raw = spark.createDataFrame(
        [("src-0", ln) for ln in lines] or [("src-0", "{}")],
        "instance_name string, value string",
    )
    out = build_pipeline(spark, parse_envelope_json(raw), CFG).collect()
    assert out == [] or all(r["id"] is not None for r in out)


def test_hash_sample_stable_under_repartition(spark):
    """The hash sampler must pick the identical row set no matter how
    the input is partitioned — the property rand()-based sampling
    loses and the reason the training splits are hash-driven."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.plans.training_queries import _hash_frac

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base = sorted(
        r["doc_id"]
        for r in docs.filter(_hash_frac(F.col("doc_id")) < 0.2).collect()
    )
    for n_parts in (1, 7, 64):
        again = sorted(
            r["doc_id"]
            for r in docs.repartition(n_parts)
            .filter(_hash_frac(F.col("doc_id")) < 0.2)
            .collect()
        )
        assert again == base


# ---------------------------------------------------------------------------
# Round-2 distributed-operator properties
# ---------------------------------------------------------------------------


class TestDistributedOperatorProperties:
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.integers(min_value=-50, max_value=50), min_size=1, max_size=120
        ),
        n_shards=st.integers(min_value=1, max_value=9),
        k=st.integers(min_value=1, max_value=7),
    )
    @pytest.mark.slow
    def test_sharded_rank_equals_global_window(
        self, spark, vals, n_shards, k
    ):
        """For any value multiset (ties included), any shard count and
        any ntile k, the sharded decomposition must equal the
        single-task global window bit for bit."""
        from pyspark.sql import Window

        from jly_flink_spark.operators.ranking import global_rank_analytics

        df = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(vals)],
            "id long, val double",
        )
        got = global_rank_analytics(
            df, "val", desc=False, tiebreak=("id",),
            n_shards=n_shards, ntile=k,
        ).select("id", "g_row_number", "g_rank", "g_dense_rank", "g_ntile")
        w = Window.orderBy(F.col("val"))
        wt = Window.orderBy(F.col("val"), F.col("id"))
        want = df.select(
            "id",
            F.row_number().over(wt).alias("g_row_number"),
            F.rank().over(w).alias("g_rank"),
            F.dense_rank().over(w).alias("g_dense_rank"),
            F.ntile(k).over(wt).alias("g_ntile"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_vecs=st.integers(min_value=0, max_value=40),
        n_blocks=st.integers(min_value=1, max_value=6),
        seed=st.integers(min_value=0, max_value=10**6),
    )
    @pytest.mark.slow
    def test_blocked_all_pairs_invariant_to_blocking(
        self, spark, n_vecs, n_blocks, seed
    ):
        """The exact near-dup pair set must not depend on the block
        count — blocking is a physical choice, not a semantic one."""
        import random

        from jly_flink_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )

        rng = random.Random(seed)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(n_vecs)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        got = sorted(
            (r["vec_a"], r["vec_b"])
            for r in embedding_near_dup_pairs(
                emb, threshold=0.2, n_blocks=n_blocks
            ).collect()
        )
        base = sorted(
            (r["vec_a"], r["vec_b"])
            for r in embedding_near_dup_pairs(
                emb, threshold=0.2, n_blocks=1
            ).collect()
        )
        assert got == base


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_docs=st.integers(min_value=0, max_value=30),
    vocab=st.integers(min_value=2, max_value=8),
    doc_len=st.integers(min_value=0, max_value=12),
    seed=st.integers(min_value=0, max_value=10**6),
)
@pytest.mark.slow
def test_simhash_hamming_banding_complete(
    spark, n_docs, vocab, doc_len, seed
):
    """Property form of the banding-completeness claim: on random
    small-vocabulary corpora (deliberately collision-prone — tiny
    vocabularies make many signature pairs land within Hamming ≤ 3),
    the banded pair set must equal brute-force all-pairs Hamming ≤ k
    over the same 60-bit signatures, for every generated corpus."""
    import random

    from jly_flink_spark.operators import dedup

    rng = random.Random(seed)
    rows = [
        (
            i,
            " ".join(
                f"w{rng.randrange(vocab)}" for _ in range(doc_len)
            ),
        )
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["doc_id"]: r["sig"] for r in dedup.simhash_wide(docs).collect()
    }
    ids = sorted(sigs)
    brute = {
        (a, b, (sigs[a] ^ sigs[b]).bit_count())
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (sigs[a] ^ sigs[b]).bit_count() <= dedup.K_HAMMING
    }
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_hamming_pairs(docs).collect()
    }
    assert banded == brute


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_int8_codes_bounded_and_scale_invariant(spark, vecs):
    """Properties of the absmax int8 quantizer on arbitrary float32
    vectors: every code fits int8's positive-symmetric range
    [-127, 127] (so the persisted code column genuinely packs into one
    byte/dim), and codes are invariant under positive scalar rescaling
    of the vector (absmax normalization cancels the scalar) — the
    property that makes SQ8 cosine insensitive to embedding norm
    conventions."""
    from jly_flink_spark.operators.similarity import _int8_coded

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(rows, schema)
    codes = {
        r["vec_id"]: r["c"]
        for r in _int8_coded(df)
        .select("vec_id", F.col("codes").alias("c"))
        .collect()
    }
    for c in codes.values():
        assert all(-127 <= v <= 127 for v in c), c

    scaled = [
        (i, [float(x) * 4.0 for x in v]) for i, v in enumerate(vecs)
    ]
    # 4x is exact in binary floating point: x*4/(absmax*4) == x/absmax
    # component-wise, so codes must be bit-identical unless the
    # original absmax was below the 1e-12 floor (all-zero vectors).
    df2 = spark.createDataFrame(scaled, schema)
    codes2 = {
        r["vec_id"]: r["c"]
        for r in _int8_coded(df2)
        .select("vec_id", F.col("codes").alias("c"))
        .collect()
    }
    for i, v in enumerate(vecs):
        if max(abs(float(x)) for x in v) > 1e-12:
            assert codes[i] == codes2[i]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=2, max_value=40),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_near_dup_gemm_prefilter_loses_no_pair(spark, n, seed):
    """The two-stage kernel (f32 GEMM prefilter → exact quantized
    rescore) must emit EXACTLY the brute-force quantized pair set —
    on low-dim random corpora whose cosines spread densely around the
    0.3 threshold (d=4 → many near-threshold pairs, the regime where
    a too-small margin would drop pairs), with a degenerate-norm
    vector mixed in to exercise the prefilter bypass."""
    import random

    import numpy as np

    from jly_flink_spark.operators.similarity import (
        QUANT,
        embedding_near_dup_pairs,
    )

    rng = random.Random(seed)
    vecs = [
        [rng.uniform(-1, 1) for _ in range(4)] for _ in range(n)
    ]
    vecs[n // 2] = [x * 1e-4 for x in vecs[n // 2]]  # unhealthy norm
    mat = np.array(
        [np.asarray(v, dtype="float32") for v in vecs], dtype="float64"
    )
    qn = np.floor(mat * mat * QUANT).astype("int64").sum(axis=1)
    expected = set()
    for i in range(n):
        for j in range(i + 1, n):
            if qn[i] <= 0 or qn[j] <= 0:
                continue
            qd = int(np.floor(mat[i] * mat[j] * QUANT).astype("int64").sum())
            cos = qd / (np.sqrt(float(qn[i])) * np.sqrt(float(qn[j])))
            if cos >= 0.3:
                expected.add((i, j))

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(df, threshold=0.3).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Quality classifier: Spark GD == pure-Python GD on arbitrary corpora
# ---------------------------------------------------------------------------
_doc_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "Zs", "Cc"),
        max_codepoint=0x3100,
    ),
    max_size=200,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=st.lists(_doc_text, min_size=1, max_size=12))
@pytest.mark.slow
def test_classifier_gd_matches_python_on_random_text(spark, texts):
    """The unrolled fixed-point GD must equal the pure-Python integer
    recurrence on arbitrary text — including control chars, exotic
    unicode, digit soup, and empty strings — because every step is
    exact int64 arithmetic over features the two implementations
    derive independently only ONCE (Spark expressions vs collected
    feature rows)."""
    from jly_flink_spark.operators import classifier as C

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    feats = {
        r["doc_id"]: r.asDict() for r in C.quality_features(docs).collect()
    }

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    xs = [[feats[d][x] for x in C.FEATURE_COLS] for d in sorted(feats)]
    ys = [feats[d]["y"] for d in sorted(feats)]
    w = [0] * len(C.WEIGHT_COLS)
    for _ in range(C.EPOCHS):
        g = [0] * len(w)
        for xv, y in zip(xs, ys):
            z = sum(wi * xi for wi, xi in zip(w, xv))
            p = min(max(500 + tdiv(z, 4 * C.Q), 0), C.S)
            for j, xi in enumerate(xv):
                g[j] += (p - y) * xi
        w = [
            wi - tdiv(C.LR_NUM * tdiv(gj, max(len(xs), 1)), C.LR_DEN)
            for wi, gj in zip(w, g)
        ]
    got = {
        r["metric"]: r["value"]
        for r in C.train_quality_classifier(docs).collect()
    }
    for (metric, _), expect in zip(C.WEIGHT_COLS, w):
        assert got[metric] == expect, (metric, got, texts)


# ---------------------------------------------------------------------------
# BPE merge training vs the pure-Python reference on random corpora
# ---------------------------------------------------------------------------

_bpe_word = st.text(alphabet="abcdxyz", min_size=1, max_size=6)
_bpe_doc = st.lists(_bpe_word, min_size=0, max_size=12).map(" ".join)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=st.lists(_bpe_doc, min_size=1, max_size=8))
@pytest.mark.slow
def test_bpe_training_matches_python_on_random_corpora(spark, texts):
    """The unrolled merge rounds must equal the pure-Python greedy
    recurrence on arbitrary word soups — including repeated-letter
    words where greedy left-to-right vs overlapping-pair semantics
    diverge, exhausted vocabularies (fewer merges than rounds), and
    tie-heavy pair counts resolved by (count DESC, a, b)."""
    from collections import Counter

    from jly_flink_spark.operators.bpe import bpe_train_merges

    wc: Counter = Counter()
    for t in texts:
        wc.update(w for w in t.lower().split(" ") if w)

    st_ = [(list(w), c) for w, c in wc.items()]
    want = []
    for r in range(1, 5):
        pc: Counter = Counter()
        for syms, c in st_:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), n = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        want.append((r, a, b, n))
        nxt = []
        for syms, c in st_:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            nxt.append((out, c))
        st_ = nxt

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r["round"], r["merge_a"], r["merge_b"], r["pair_count"])
        for r in bpe_train_merges(docs, rounds=4).collect()
    )
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# Skyline window rewrite ≡ brute-force dominance
# ---------------------------------------------------------------------------
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # price (coarse → ties)
            st.integers(min_value=0, max_value=8),  # size
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pareto_window_rewrite_equals_bruteforce(pts):
    """pareto_front_parts' two-window staircase must equal the naive
    NOT EXISTS dominance definition on arbitrary point sets — the
    coarse value grid forces heavy price AND size ties, the case the
    RANGE frame / same-price-group split exists for. Checked in
    DuckDB (same SQL semantics both engines; the oracle-parity test
    covers the Spark mirror)."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE p (pk INT, price_c BIGINT, sz INT)")
    con.executemany(
        "INSERT INTO p VALUES (?, ?, ?)",
        [(i, pr, sz) for i, (pr, sz) in enumerate(pts)],
    )
    brute = con.execute(
        """
        SELECT pk FROM p a WHERE NOT EXISTS (
          SELECT 1 FROM p b
          WHERE b.price_c <= a.price_c AND b.sz >= a.sz
            AND (b.price_c < a.price_c OR b.sz > a.sz))
        ORDER BY pk
        """
    ).fetchall()
    win = con.execute(
        """
        WITH m AS (
          SELECT pk, sz,
                 max(sz) OVER (ORDER BY price_c
                               RANGE BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS m_cheaper,
                 max(sz) OVER (PARTITION BY price_c) AS m_same
          FROM p
        )
        SELECT pk FROM m
        WHERE coalesce(m_cheaper >= sz, FALSE) = FALSE AND m_same <= sz
        ORDER BY pk
        """
    ).fetchall()
    con.close()
    assert win == brute
