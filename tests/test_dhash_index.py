"""Incremental dHash band index: the image-dedup LSM (persist /
append / probe / delete / compact) — same contract family as the LSH
and winnowing indexes, one tier down the stack (pixel hashes instead
of token fingerprints). Probes must be duplicate-insensitive under
at-least-once appends, and batch↔index bucketing must agree with the
registered multimodal_phash_near_dups query (shared hamming_bands)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from jly_flink_spark.io import load_table
from jly_flink_spark.operators import multimodal as mm
from jly_flink_spark.sources.layout import (
    compact_index,
    delete_ids,
    tombstone_dir,
)

SF = "/root/testdata/sf0.001"


def _media(spark, docs):
    return mm.documents_as_pixel_media(docs)


def _copy_docs(spark, docs, src_ids, offset=100_000):
    """New docs whose text copies existing docs — their planted
    pixel grids (and dHashes) are identical to the originals."""
    rows = (
        docs.filter(F.col("doc_id").isin(src_ids))
        .select("doc_id", "text")
        .collect()
    )
    return spark.createDataFrame(
        [(int(r["doc_id"]) + offset, r["text"]) for r in rows],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def dhash_index(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dhidx") / "dhash_index")
    mm.persist_dhash_index(_media(spark, corpus), path)
    return path


def test_probe_finds_exact_pixel_copies(spark, corpus, dhash_index):
    copies = _copy_docs(spark, corpus, [3, 9])
    got = {
        (r["new_doc_id"], r["index_doc_id"]): r["hamming"]
        for r in mm.probe_dhash_index(
            spark, _media(spark, copies), dhash_index
        ).collect()
    }
    assert got.get((100_003, 3)) == 0
    assert got.get((100_009, 9)) == 0


def test_malformed_payloads_never_probe_or_index(
    spark, corpus, dhash_index
):
    # doc_id % 37 == 0 -> truncated payload -> NULL dhash: the copy
    # of doc 3 planted at an id divisible by 37 must yield NOTHING
    bad = _copy_docs(spark, corpus, [3], offset=37 * 9000 - 3)
    rows = mm.probe_dhash_index(
        spark, _media(spark, bad), dhash_index
    ).collect()
    assert rows == []


def test_append_makes_prior_arrivals_visible(spark, corpus, tmp_path):
    path = str(tmp_path / "dhidx")
    mm.persist_dhash_index(_media(spark, corpus), path)
    first = _copy_docs(spark, corpus, [7], offset=200_000)
    second = _copy_docs(spark, corpus, [7], offset=300_000)
    before = {
        r["index_doc_id"]
        for r in mm.probe_dhash_index(
            spark, _media(spark, second), path
        ).collect()
    }
    assert 7 in before and 200_007 not in before
    mm.append_to_dhash_index(_media(spark, first), path)
    after = {
        r["index_doc_id"]
        for r in mm.probe_dhash_index(
            spark, _media(spark, second), path
        ).collect()
    }
    assert {7, 200_007} <= after


def test_append_replay_is_probe_invariant(spark, corpus, tmp_path):
    """At-least-once replay: re-appending the same batch must not
    change probe results; compaction drains the duplicate rows."""
    path = str(tmp_path / "dhidx")
    mm.persist_dhash_index(_media(spark, corpus), path)
    batch = _copy_docs(spark, corpus, [5], offset=200_000)
    mm.append_to_dhash_index(_media(spark, batch), path)
    probe = _copy_docs(spark, corpus, [5], offset=300_000)

    def hits():
        return {
            (r["new_doc_id"], r["index_doc_id"]): r["hamming"]
            for r in mm.probe_dhash_index(
                spark, _media(spark, probe), path
            ).collect()
        }

    clean = hits()
    assert (300_005, 200_005) in clean
    mm.append_to_dhash_index(_media(spark, batch), path)
    assert hits() == clean
    n_dup = spark.read.parquet(path).count()
    compact_index(spark, path, mm.DHASH_INDEX)
    assert spark.read.parquet(path).count() < n_dup
    assert hits() == clean


def test_delete_and_compaction(spark, corpus, tmp_path):
    path = str(tmp_path / "dhidx")
    mm.persist_dhash_index(_media(spark, corpus), path)
    probe = _copy_docs(spark, corpus, [5, 9])

    def hits():
        return {
            (r["new_doc_id"], r["index_doc_id"])
            for r in mm.probe_dhash_index(
                spark, _media(spark, probe), path
            ).collect()
        }

    before = hits()
    assert (100_005, 5) in before and (100_009, 9) in before
    delete_ids(spark, path, [5])
    after_del = hits()
    assert (100_005, 5) not in after_del
    assert (100_009, 9) in after_del
    n_files = compact_index(spark, path, mm.DHASH_INDEX)
    assert n_files >= 1
    assert not os.path.exists(tombstone_dir(path))
    assert hits() == after_del


def test_index_bucketing_matches_registered_query(spark, corpus):
    """hamming_bands is THE shared bucketing: pairs the registered
    batch query reports must also surface when one side probes an
    index holding the other side."""
    from jly_flink_spark.plans import REGISTRY

    batch_pairs = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in REGISTRY["multimodal_phash_near_dups"]
        .spark_fn(spark, SF)
        .collect()
    }
    if not batch_pairs:
        pytest.skip("no near-dup pairs at this SF")
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "dhidx")
        mm.persist_dhash_index(_media(spark, corpus), path)
        probed = {
            (
                min(r["new_doc_id"], r["index_doc_id"]),
                max(r["new_doc_id"], r["index_doc_id"]),
                r["hamming"],
            )
            for r in mm.probe_dhash_index(
                spark, _media(spark, corpus), path
            ).collect()
        }
    assert batch_pairs <= probed


def test_stream_probe_matches_batch(spark, corpus, dhash_index, tmp_path):
    """stream_image_near_dups over a file stream emits exactly the
    batch probe's verified pairs (after consumer-side dedup) — the
    stream-static zero-state contract."""
    copies = _copy_docs(spark, corpus, [3, 9, 17])
    src = str(tmp_path / "newdocs")
    copies.repartition(3).write.mode("overwrite").parquet(src)
    index_bands = spark.read.parquet(dhash_index)

    out: list = []

    def sink(df, eid):
        out.extend(df.collect())

    q = (
        mm.stream_image_near_dups(
            mm.documents_as_pixel_media(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            ),
            index_bands,
        )
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        (r["new_doc_id"], r["index_doc_id"], r["hamming"])
        for r in out
    }
    batch = {
        (r["new_doc_id"], r["index_doc_id"], r["hamming"])
        for r in mm.probe_dhash_index(
            spark, _media(spark, copies), dhash_index
        ).collect()
    }
    assert streamed == batch
    assert (100_003, 3, 0) in streamed
