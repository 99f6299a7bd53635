"""Incremental (streaming) near-dup detection against a persisted
LSH index — the continuous-ingest form of the batch MinHash pipeline:
new documents probe the corpus band table instead of re-hashing the
corpus, with ZERO streaming state (stateless row-wise signatures +
stream-static join).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jly_flink_spark.io import load_table
from jly_flink_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


def test_rowwise_signature_equals_aggregated(spark):
    """The stateless per-row signature must be bit-identical to the
    explode+groupBy signature on the whole corpus — same hash family,
    same mins, different plan shape."""
    docs = load_table(spark, SF_DIR, "documents")
    agg = {r["doc_id"]: tuple(r[f"h{i}"] for i in range(dedup.MINHASH_K))
           for r in dedup.minhash_signatures(docs).collect()}
    row = {r["doc_id"]: tuple(r[f"h{i}"] for i in range(dedup.MINHASH_K))
           for r in dedup.minhash_signature_rowwise(docs).collect()}
    assert agg == row and len(agg) > 0


@pytest.fixture()
def lsh_index(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "lsh_index")
    dedup.persist_lsh_index(docs, path)
    return docs, path


def _new_docs(spark, docs, copy_ids, offset=100_000):
    copies = (
        docs.filter(F.col("doc_id").isin(copy_ids))
        .select((F.col("doc_id") + offset).alias("doc_id"), "text")
    )
    novel = spark.createDataFrame(
        [(999_999, "zzqx vprw kjtt mmnb wwrr ddss ppqq lloo")],
        "doc_id long, text string",
    )
    return copies.unionByName(novel)


def test_batch_probe_finds_exact_copies(spark, lsh_index):
    docs, path = lsh_index
    copy_ids = [3, 17, 42]
    new = _new_docs(spark, docs, copy_ids)
    index = spark.read.parquet(path)
    cands = dedup.stream_near_dup_candidates(new, index)
    pairs = {
        (r["new_doc_id"], r["corpus_doc_id"]) for r in cands.collect()
    }
    # every exact copy must surface its source (identical text ⇒
    # identical signature ⇒ every band collides)
    for cid in copy_ids:
        assert (cid + 100_000, cid) in pairs
    # the novel gibberish doc must not match anything
    assert not any(a == 999_999 for a, _ in pairs)


def test_streaming_probe_matches_batch(spark, lsh_index, tmp_path):
    docs, path = lsh_index
    copy_ids = [3, 17, 42]
    new = _new_docs(spark, docs, copy_ids)

    index = spark.read.parquet(path)
    want = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in dedup.stream_near_dup_candidates(new, index).collect()
    }

    src = str(tmp_path / "incoming")
    new.write.parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    q = (
        dedup.stream_near_dup_candidates(stream, index)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["new_doc_id"], r["corpus_doc_id"])
            for r in spark.sql("SELECT * FROM inc_dedup").collect()
        }
    finally:
        q.stop()
    assert got == want and got


def test_index_append_makes_prior_arrivals_visible(spark, lsh_index):
    """foreachBatch-style maintenance: after batch 1's docs are
    appended to the index, batch 2's copies of THOSE docs (not in the
    original corpus) surface as candidates."""
    docs, path = lsh_index
    batch1 = (
        docs.filter(F.col("doc_id") == 5)
        .select((F.col("doc_id") + 200_000).alias("doc_id"), "text")
    )
    dedup.append_to_lsh_index(batch1, path)

    batch2 = batch1.select(
        (F.col("doc_id") + 300_000).alias("doc_id"), "text"
    )
    pairs = {
        (r["new_doc_id"], r["corpus_doc_id"])
        for r in dedup.stream_near_dup_candidates(
            batch2, spark.read.parquet(path)
        ).collect()
    }
    assert (500_005, 200_005) in pairs  # batch-2 copy vs batch-1 doc
    assert (500_005, 5) in pairs  # and vs the original corpus doc


def test_deleted_docs_stop_surfacing_and_compaction_applies(
    spark, lsh_index, tmp_path
):
    """delete_ids: a removed corpus doc stops appearing as
    a candidate immediately (read_index anti-joins the pending
    tombstones), compact_index applies the delete physically and
    drains the tombstone set, and candidates are otherwise
    unchanged."""
    import os

    from jly_flink_spark.sources.layout import (
        compact_index,
        delete_ids,
        read_index,
        tombstone_dir,
    )

    docs, path = lsh_index
    copy_ids = [3, 17, 42]
    new = _new_docs(spark, docs, copy_ids)

    def probe():
        index = read_index(spark, path)
        return {
            (r["new_doc_id"], r["corpus_doc_id"])
            for r in dedup.stream_near_dup_candidates(new, index).collect()
        }

    before = probe()
    assert (17 + 100_000, 17) in before
    delete_ids(spark, path, [17])
    after = probe()
    assert all(c != 17 for _, c in after)
    assert after == {p for p in before if p[1] != 17}

    assert os.path.isdir(tombstone_dir(path))
    compact_index(spark, path, dedup.LSH_INDEX)
    assert not os.path.isdir(tombstone_dir(path))
    ids_left = {
        r["doc_id"] for r in spark.read.parquet(path).collect()
    }
    assert 17 not in ids_left
    assert probe() == after


def test_exact_dedup_stream_admits_one_per_fingerprint(spark, tmp_path):
    """Streaming exact dedup: whitespace-variant copies collapse to
    one admission per distinct normalized content (same fingerprint
    as the batch operator); replays of an already-seen batch admit
    nothing new; distinct content always passes."""
    import json as _json
    import os as _os

    src = str(tmp_path / "stream_src")
    _os.makedirs(src)

    def write_batch(name, rows):
        with open(_os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    base = 1700000000000
    write_batch("b1.json", [
        {"doc_id": 1, "text": "hello  world", "ts": base},
        {"doc_id": 2, "text": "hello world",  "ts": base + 1},  # dup (ws)
        {"doc_id": 3, "text": "fresh text",   "ts": base + 2},
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string, ts long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ets", (F.col("ts") / 1000).cast("timestamp"))
    )
    out = dedup.exact_dedup_stream(stream, "ets")
    admitted = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(
            lambda df, eid: admitted.extend(
                r["doc_id"] for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # exactly one of {1,2} admitted, plus 3
        first = set(admitted)
        assert len(first) == 2 and 3 in first and (first & {1, 2})
        # a later batch: another copy of the same content (dropped,
        # still inside the watermark horizon) + new content (passes)
        write_batch("b2.json", [
            {"doc_id": 4, "text": " hello   world ", "ts": base + 10},
            {"doc_id": 5, "text": "brand new",       "ts": base + 11},
        ])
        q.processAllAvailable()
        assert set(admitted) == first | {5}
    finally:
        q.stop()


def test_exact_dedup_stream_preserves_user_fp_column(spark, tmp_path):
    """The operator's internal fingerprint must live in a
    collision-safe temp column: an input stream that already carries
    an `fp` column keeps it (schema AND values) instead of having it
    clobbered and dropped."""
    import json as _json
    import os as _os

    src = str(tmp_path / "fp_src")
    _os.makedirs(src)
    with open(_os.path.join(src, "b1.json"), "w") as f:
        f.write(_json.dumps({
            "doc_id": 1, "text": "keep me", "fp": "user-fp-1",
            "ts": 1700000000000,
        }) + "\n")
    stream = (
        spark.readStream
        .schema("doc_id long, text string, fp string, ts long")
        .json(src)
        .withColumn("ets", (F.col("ts") / 1000).cast("timestamp"))
    )
    out = dedup.exact_dedup_stream(stream, "ets")
    assert "fp" in out.columns and "__dedup_fp" not in out.columns
    rows = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "fp_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [r["fp"] for r in rows] == ["user-fp-1"]


def test_verify_candidates_zero_threshold_requires_overlap(spark):
    """min_jaccard=0 boundary: a candidate pair with ZERO token
    overlap is never a verified duplicate (the pre-r6 shared-token
    inner-join boundary), while an overlapping pair still passes."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "gamma delta"),
            (3, "alpha gamma"),
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.verify_candidates_jaccard(
            docs, cands, min_jaccard=0.0
        ).collect()
    }
    assert got == {(1, 3)}


def test_verify_bitset_tier_matches_array_path(spark):
    """Round-14 small-vocabulary bitmask tier: on a universe whose
    vocabulary fits the bitset cap, verify_candidates_jaccard must
    return BIT-IDENTICAL rows (including the jaccard double) to the
    general array path, across word boundaries (vocab > 64 → two
    mask words), empty docs, and the j=0 overlap boundary; and a
    vocabulary past the cap must fall back to the array path."""
    # 70-token vocabulary → 2 mask words; docs straddle the word
    # boundary so cross-word popcounts are exercised.
    vocab = [f"tok{i:02d}" for i in range(70)]
    rows = [
        (1, " ".join(vocab[0:10])),
        (2, " ".join(vocab[0:9] + [vocab[68]])),  # j = 9/11 with 1
        (3, " ".join(vocab[60:70])),              # all in word 2
        (4, " ".join(vocab[60:69] + [vocab[0]])),  # j = 9/11 with 3
        (5, ""),                                   # empty token set
        (6, " ".join(vocab[0:10])),                # j = 1 with 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = spark.createDataFrame(
        [(1, 2), (3, 4), (1, 5), (1, 6), (2, 3)],
        "doc_a long, doc_b long",
    )

    def run(threshold):
        return sorted(
            map(
                tuple,
                dedup.verify_candidates_jaccard(
                    docs, cands, min_jaccard=threshold
                ).collect(),
            )
        )

    spark.conf.set("spark.jly.verify.bitsetMaxVocab", "256")
    try:
        bitset_08 = run(0.8)
        bitset_00 = run(0.0)
        spark.conf.set("spark.jly.verify.bitsetMaxVocab", "0")
        array_08 = run(0.8)
        array_00 = run(0.0)
    finally:
        spark.conf.set("spark.jly.verify.bitsetMaxVocab", "256")
    assert bitset_08 == array_08
    assert bitset_00 == array_00
    got = {(a, b) for a, b, _ in bitset_08}
    assert got == {(1, 2), (3, 4), (1, 6)}
    # j values bit-identical: (1,2)/(3,4) = 9/11, (1,6) = 1.0
    jmap = {(a, b): j for a, b, j in bitset_08}
    assert jmap[(1, 2)] == 9 / 11 and jmap[(3, 4)] == 9 / 11
    assert jmap[(1, 6)] == 1.0
    # cap below the vocabulary → the array path must be taken (same
    # results; this asserts the fallback does not error or diverge)
    spark.conf.set("spark.jly.verify.bitsetMaxVocab", "16")
    try:
        assert run(0.8) == array_08
    finally:
        spark.conf.set("spark.jly.verify.bitsetMaxVocab", "256")


# ---------------------------------------------------------------------------
# Incremental WINNOWING index (round 8): the MOSS-fingerprint twin of
# the LSH index above
# ---------------------------------------------------------------------------


def test_winnow_rowwise_equals_windowed(spark):
    """The stateless per-row winnowing expression must select exactly
    the fingerprint set of the batch window pipeline (rightmost-min
    tie rule included) — same parity contract as
    test_rowwise_signature_equals_aggregated."""
    from pyspark.sql import Window

    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators import text as T
    from jly_flink_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_POS,
        WINNOW_W,
        winnow_fingerprints_rowwise,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    k, w = WINNOW_K, WINNOW_W
    t = docs.select(
        "doc_id",
        F.posexplode(T.tokens(F.col("text"))).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "tok")
    wd = Window.partitionBy("doc_id").orderBy("i")
    kgram = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", j).over(wd) for j in range(1, k)],
    )
    kg = t.select(
        "doc_id",
        "i",
        F.lead("tok", k - 1).over(wd).isNotNull().alias("full"),
        kgram.alias("kgram"),
    ).filter(F.col("full"))
    enc = kg.select(
        "doc_id",
        "i",
        (
            F.conv(F.substring(F.md5("kgram"), 1, 10), 16, 10).cast(
                "bigint"
            )
            * WINNOW_POS
            + (F.lit(WINNOW_POS - 1) - F.col("i"))
        ).alias("c"),
    )
    windowed = {
        (r["doc_id"], r["h"])
        for r in enc.select(
            "doc_id",
            "i",
            F.min("c")
            .over(wd.rowsBetween(-(w - 1), Window.currentRow))
            .alias("fp"),
        )
        .filter(F.col("i") >= w)
        .select("doc_id", F.expr(f"fp div {WINNOW_POS}").alias("h"))
        .distinct()
        .collect()
    }
    rowwise = {
        (r["doc_id"], r["h"])
        for r in winnow_fingerprints_rowwise(docs).collect()
    }
    assert rowwise == windowed and rowwise


@pytest.fixture(scope="module")
def winnow_index(spark, tmp_path_factory):
    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators.dedup import persist_winnow_index

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path_factory.mktemp("widx") / "winnow_index")
    persist_winnow_index(docs, path)
    return docs, path


def test_winnow_probe_finds_exact_copies(spark, winnow_index):
    from jly_flink_spark.operators.dedup import probe_winnow_index

    docs, path = winnow_index
    copy_ids = [3, 17, 40]
    new = _new_docs(spark, docs, copy_ids)
    got = {
        (r["new_doc_id"], r["index_doc_id"]): r["containment_ppm"]
        for r in probe_winnow_index(spark, new, path).collect()
    }
    for cid in copy_ids:
        # the copy shares its source's ENTIRE selected set
        assert got.get((cid + 100_000, cid)) == 1_000_000, got

def test_winnow_append_makes_prior_arrivals_visible(
    spark, winnow_index
):
    from jly_flink_spark.operators.dedup import (
        append_to_winnow_index,
        probe_winnow_index,
    )

    docs, path = winnow_index
    first = _new_docs(spark, docs, [7], offset=200_000)
    # not yet appended: a copy of doc 7 under ANOTHER id sees only
    # the original corpus doc
    second = _new_docs(spark, docs, [7], offset=300_000)
    before = {
        r["index_doc_id"]
        for r in probe_winnow_index(spark, second, path).collect()
    }
    assert 7 in before and 200_007 not in before
    append_to_winnow_index(first, path)
    after = {
        r["index_doc_id"]
        for r in probe_winnow_index(spark, second, path).collect()
    }
    assert {7, 200_007} <= after


@pytest.mark.slow
def test_winnow_stream_probe_matches_batch(spark, winnow_index, tmp_path):
    """foreachBatch probe-then-append over two epochs: every epoch's
    candidates equal the batch probe against the index state at that
    point, and epoch-2 docs match epoch-1 docs through the append."""
    from jly_flink_spark.operators.dedup import (
        append_to_winnow_index,
        probe_winnow_index,
    )

    docs, path = winnow_index
    e1 = _new_docs(spark, docs, [11], offset=400_000)
    e2 = _new_docs(spark, docs, [11], offset=500_000)
    src = tmp_path / "src"
    src.mkdir()
    for i, df in enumerate([e1, e2]):
        df.coalesce(1).write.parquet(str(tmp_path / f"stage_{i}"))
        import glob as _glob
        import shutil as _shutil

        part = _glob.glob(str(tmp_path / f"stage_{i}" / "part-*.parquet"))[0]
        _shutil.copy(part, str(src / f"b{i}.parquet"))

    results = []

    def handle(batch_df, epoch_id):
        batch_df.persist()
        rows = probe_winnow_index(spark, batch_df, path).collect()
        results.extend(
            (r["new_doc_id"], r["index_doc_id"]) for r in rows
        )
        append_to_winnow_index(batch_df, path)
        batch_df.unpersist()

    q = (
        spark.readStream.schema(e1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = set(results)
    # both epochs match the corpus original...
    assert (400_011, 11) in got and (500_011, 11) in got
    # ...and epoch 2 matches epoch 1's doc THROUGH the append
    assert (500_011, 400_011) in got
    # epoch 1 cannot see epoch 2 (arrived later)
    assert (400_011, 500_011) not in got


def test_winnow_delete_and_compaction(spark, tmp_path):
    """The LSM maintenance contract on the winnowing index: deleted
    docs stop surfacing immediately (tombstone anti-join), compaction
    applies them physically, drains the tombstones, and leaves probe
    results invariant."""
    import os

    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators.dedup import (
        WINNOW_INDEX,
        persist_winnow_index,
        probe_winnow_index,
    )
    from jly_flink_spark.sources.layout import (
        compact_index,
        delete_ids,
        tombstone_dir,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "widx")
    persist_winnow_index(docs, path)
    new = _new_docs(spark, docs, [5, 9])

    def hits():
        return {
            (r["new_doc_id"], r["index_doc_id"])
            for r in probe_winnow_index(spark, new, path).collect()
        }

    before = hits()
    assert (100_005, 5) in before and (100_009, 9) in before
    delete_ids(spark, path, [5])
    after_del = hits()
    assert (100_005, 5) not in after_del
    assert (100_009, 9) in after_del
    n_files = compact_index(spark, path, WINNOW_INDEX)
    assert n_files >= 1
    assert not os.path.exists(tombstone_dir(path))
    assert hits() == after_del


def test_winnow_append_replay_is_probe_invariant(spark, tmp_path):
    """At-least-once safety (ADVICE r8): a foreachBatch replay that
    re-appends the same micro-batch must not change probe scores —
    the probe counts distinct (doc, h), never raw rows — and the next
    compaction drains the physical duplicates."""
    from jly_flink_spark.io import load_table
    from jly_flink_spark.operators.dedup import (
        WINNOW_INDEX,
        append_to_winnow_index,
        persist_winnow_index,
        probe_winnow_index,
    )
    from jly_flink_spark.sources.layout import compact_index

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "widx")
    persist_winnow_index(docs, path)
    batch = _new_docs(spark, docs, [5, 9], offset=200_000)
    append_to_winnow_index(batch, path)
    probe = _new_docs(spark, docs, [5], offset=300_000)

    def scores():
        return {
            (r["new_doc_id"], r["index_doc_id"]): (
                r["n_shared"],
                r["containment_ppm"],
            )
            for r in probe_winnow_index(spark, probe, path).collect()
        }

    clean = scores()
    assert (300_005, 200_005) in clean
    # simulate the checkpoint-recovery replay: same batch, appended
    # again — raw index rows duplicate, probe values must not move,
    # and containment must stay <= 1e6
    append_to_winnow_index(batch, path)
    assert scores() == clean
    assert all(ppm <= 1_000_000 for _, ppm in clean.values())
    # compaction physically drains the duplicates
    n_dup = spark.read.parquet(path).count()
    compact_index(spark, path, WINNOW_INDEX)
    n_clean = spark.read.parquet(path).count()
    assert n_clean < n_dup
    assert scores() == clean


def test_winnow_rowwise_rejects_over_cap_docs(spark, monkeypatch):
    """The WINNOW_POS position tiebreak requires < 2^20 tokens per
    doc; an over-cap doc must fail LOUDLY, not silently corrupt the
    fingerprint set. Exercised with a shrunken cap so the test
    doesn't need a 5 MB document."""
    from pyspark.errors.exceptions.captured import (
        SparkRuntimeException,
    )

    from jly_flink_spark.operators import dedup

    monkeypatch.setattr(dedup, "WINNOW_POS", 64)
    ok = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    assert dedup.winnow_fingerprints_rowwise(ok).count() > 0
    bad = spark.createDataFrame(
        [(2, " ".join(f"t{i}" for i in range(80)))],
        "doc_id long, text string",
    )
    with pytest.raises(SparkRuntimeException, match="winnowing cap"):
        dedup.winnow_fingerprints_rowwise(bad).count()
