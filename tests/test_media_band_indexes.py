"""The incremental-index lifecycle (`sources.layout`), pinned once
per persisted index from one table: the audio/video/dHash band
indexes, the MinHash-LSH band index and the winnowing index. Each
gets the tombstone-before-reappend conflict (indexes with a guarded
value column), probe replay invariance, replay draining at
compaction, delete → compact, and the tombstone-aware admission
state read.

Reference parity note: the reference (xiaoyunwen/jly-flink) keeps
sink-side idempotence via load labels (SrStreamLoadClient.java); the
media indexes carry the analogous at-least-once discipline one layer
down — physical replays must never change probe decisions, and
content conflicts must fail loudly with a recovery recipe.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import os

from jly_flink_spark.io import load_table
from jly_flink_spark.operators import dedup
from jly_flink_spark.operators import multimodal as mm
from jly_flink_spark.sources.layout import (
    compact_index,
    delete_ids,
    read_index,
    tombstone_dir,
)
from jly_flink_spark.streaming import admission as adm

SF = "/root/testdata/sf0.001"

ALL_TIERS = ["audio", "video", "dhash", "lsh", "winnow"]
# indexes whose spec guards one value per key (LSH rows carry none)
GUARDED_TIERS = ["audio", "video", "dhash", "winnow"]


def _new_ids(hits, col):
    """The batch doc_ids a probe flags, as a (doc_id) frame."""
    return hits.select(F.col(col).alias("doc_id"))


def _tier(name):
    """One row per index: how documents become its input (`media`),
    its append, its spec, the guarded column's error, where the
    admission gate keeps it (AdmissionPaths attr, AdmissionState
    attr), and `flagged(batch, idx)` — the gate's probe of a batch
    against the index, as the batch doc_ids it rejects."""
    docs = lambda d: d.select("doc_id", "text")  # noqa: E731
    return {
        "audio": dict(
            media=mm.documents_as_audio_media,
            append=mm.append_to_audio_index,
            spec=mm.AUDIO_INDEX,
            conflict_match="conflicting afp",
            state=("audio", "audio_bands"),
            flagged=adm._audio_tier_losers,
        ),
        "video": dict(
            media=mm.documents_as_video_media,
            append=mm.append_to_video_index,
            spec=mm.VIDEO_INDEX,
            conflict_match="conflicting vh",
            state=("video", "video_bands"),
            flagged=adm._video_tier_losers,
        ),
        "dhash": dict(
            media=mm.documents_as_pixel_media,
            append=mm.append_to_dhash_index,
            spec=mm.DHASH_INDEX,
            conflict_match="conflicting dhash",
            state=("dhash", "dhash_bands"),
            flagged=lambda b, idx: _new_ids(
                mm.stream_image_near_dups(
                    mm.documents_as_pixel_media(b), idx
                ),
                "new_doc_id",
            ),
        ),
        "lsh": dict(
            media=docs,
            append=dedup.append_to_lsh_index,
            spec=dedup.LSH_INDEX,
            conflict_match=None,
            state=("lsh", "lsh_bands"),
            flagged=lambda b, idx: _new_ids(
                dedup.stream_near_dup_candidates(b, idx), "new_doc_id"
            ),
        ),
        "winnow": dict(
            media=docs,
            append=dedup.append_to_winnow_index,
            spec=dedup.WINNOW_INDEX,
            conflict_match="conflicting n_fp",
            state=("winnow", "winnow_fps"),
            flagged=lambda b, idx: dedup.winnow_containment_vs_index(
                b, idx
            )
            .filter(F.col("contain_ppm") >= adm.CONTAIN_CUT_PPM)
            .select("doc_id"),
        ),
    }[name]


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, SF, "documents")


@pytest.mark.parametrize("tier", GUARDED_TIERS)
def test_compaction_rejects_conflicting_reappend(
    spark, corpus, tmp_path, tier
):
    """Re-appending a doc with CHANGED samples/frames and no prior
    tombstone must make compaction fail loudly on the conflicting
    hash, and the prescribed tombstone → compact → re-append
    recovery must succeed — the dhash-tier contract, one modality
    over."""
    from pyspark.errors.exceptions.captured import (
        SparkRuntimeException,
    )

    t = _tier(tier)
    path = str(tmp_path / f"{tier}_idx")
    t["append"](t["media"](corpus), path)
    # prepend the edit: the planted media sample the first 64 tokens,
    # so only a prefix change shifts the fingerprint; skip
    # malformed-payload docs (NULL hash, never indexed)
    changed = (
        corpus.filter(F.col("doc_id") % mm.MALFORMED_MOD != 0)
        .limit(1)
        .select(
            "doc_id",
            F.concat(
                F.lit("wholly new planted content "), F.col("text")
            ).alias("text"),
        )
    )
    t["append"](t["media"](changed), path)
    with pytest.raises(
        SparkRuntimeException, match=t["conflict_match"]
    ):
        compact_index(spark, path, t["spec"])
    doc_id = changed.head()["doc_id"]
    delete_ids(spark, path, [doc_id])
    compact_index(spark, path, t["spec"])
    t["append"](t["media"](changed), path)
    assert compact_index(spark, path, t["spec"]) >= 1


@pytest.mark.parametrize("tier", ALL_TIERS)
def test_tier_losers_replay_invariant(spark, tmp_path, tier):
    """ADVICE r11 item 1 regression: the admission tier probes must
    make the SAME decisions against a replayed (at-least-once,
    pre-compaction) index as against a clean one — including the
    band-bucket cap, which must count distinct docs, not physical
    rows. The fixture pins the exact failure mode: 12 identical
    clips fill each band bucket to 12 ≤ cap(16) clean, but a
    replayed epoch doubles the PHYSICAL rows to 24 > cap — a
    raw-row count then suppresses the bucket and silently admits a
    true duplicate. (Batch id 998: 999 is 27x37 -> malformed.) The
    dHash, LSH and winnowing probes are distinct-based the same
    way."""
    t = _tier(tier)
    fn = t["flagged"]
    text = "alpha beta gamma delta " * 32  # 128 tokens, same media
    family = spark.createDataFrame(
        [(int(i), text) for i in range(1, 13)],  # ids 1..12, none %37
        "doc_id long, text string",
    )
    clean = str(tmp_path / "clean")
    replayed = str(tmp_path / "replayed")
    t["append"](t["media"](family), clean)
    t["append"](t["media"](family), replayed)
    t["append"](t["media"](family), replayed)  # duplicate epoch
    batch = spark.createDataFrame(
        [(998, text)], "doc_id long, text string"
    )
    got_clean = {
        r["doc_id"]
        for r in fn(batch, read_index(spark, clean)).collect()
    }
    got_replayed = {
        r["doc_id"]
        for r in fn(batch, read_index(spark, replayed)).collect()
    }
    # the batch copy must lose to the indexed family either way
    assert got_clean == {998}
    assert got_replayed == got_clean


@pytest.mark.parametrize("tier", ALL_TIERS)
def test_compaction_drains_replayed_rows(spark, corpus, tmp_path, tier):
    """An at-least-once replay re-appends bit-identical rows;
    compaction drops exact duplicate rows in every index, so the
    replayed index compacts back to the clean row count."""
    t = _tier(tier)
    path = str(tmp_path / f"{tier}_idx")
    batch = t["media"](corpus.filter(F.col("doc_id") % 4 == 0))
    t["append"](batch, path)
    n_clean = spark.read.parquet(path).count()
    assert n_clean > 0
    t["append"](batch, path)  # the replayed epoch
    assert spark.read.parquet(path).count() == 2 * n_clean
    compact_index(spark, path, t["spec"])
    assert spark.read.parquet(path).count() == n_clean


@pytest.mark.parametrize("tier", ALL_TIERS)
def test_delete_then_compact(spark, corpus, tmp_path, tier):
    """A tombstoned doc leaves the read at once; compaction removes
    its rows physically, keeps every other row and drains the
    tombstones."""
    t = _tier(tier)
    path = str(tmp_path / f"{tier}_idx")
    t["append"](t["media"](corpus), path)
    victim = spark.read.parquet(path).agg(F.min("doc_id")).head()[0]
    delete_ids(spark, path, [victim])
    live = read_index(spark, path)
    assert live.filter(F.col("doc_id") == victim).count() == 0
    n_live = live.count()
    assert os.path.isdir(tombstone_dir(path))
    assert compact_index(spark, path, t["spec"]) >= 1
    assert not os.path.exists(tombstone_dir(path))
    after = spark.read.parquet(path)
    assert after.filter(F.col("doc_id") == victim).count() == 0
    assert after.count() == n_live


@pytest.mark.parametrize("tier", ALL_TIERS)
def test_load_state_skips_tombstoned_docs(spark, corpus, tmp_path, tier):
    """The admission gate's state read is tombstone-aware: a doc
    deleted from an index stops blocking arrivals before the
    compaction that applies the delete."""
    t = _tier(tier)
    paths = adm.AdmissionPaths(str(tmp_path / "state"))
    path_attr, state_attr = t["state"]
    path = getattr(paths, path_attr)
    t["append"](t["media"](corpus.filter(F.col("doc_id") < 40)), path)
    victim = spark.read.parquet(path).agg(F.min("doc_id")).head()[0]
    delete_ids(spark, path, [victim])
    rows = getattr(adm.load_state(spark, paths), state_attr)
    assert rows.filter(F.col("doc_id") == victim).count() == 0
    assert rows.count() > 0


@pytest.mark.parametrize("tier", ["audio", "video"])
def test_admission_probe_rejects_conflicting_reappend(
    spark, corpus, tmp_path, tier
):
    """The v5 admission probes run the compaction's conflict guard:
    a probe over an index holding a changed re-append without a
    tombstone raises the named cause instead of picking a value. (The
    batch and index sides can both raise in one stage, which Spark
    reports as a Py4JJavaError wrapping the same cause.)"""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import (
        SparkRuntimeException,
    )

    t = _tier(tier)
    path = str(tmp_path / f"{tier}_idx")
    ok = corpus.filter(F.col("doc_id") % mm.MALFORMED_MOD != 0)
    t["append"](t["media"](ok.limit(20)), path)
    changed = ok.limit(1).select(
        "doc_id",
        F.concat(
            F.lit("wholly new planted content "), F.col("text")
        ).alias("text"),
    )
    t["append"](t["media"](changed), path)
    # an arrival that copies the changed doc, so the probe has a pair
    batch = changed.select(F.lit(998).cast("long").alias("doc_id"), "text")
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match=t["conflict_match"]
    ):
        t["flagged"](batch, read_index(spark, path)).collect()


def test_file_uri_index_applies_tombstones(spark, corpus, tmp_path):
    """`file://` is an accepted local scheme: its tombstones must be
    found (and drained) like a plain path's, not skipped by an
    `os.path` probe that cannot resolve a URI."""
    t = _tier("lsh")
    uri = "file://" + str(tmp_path / "lsh_idx")
    t["append"](t["media"](corpus.filter(F.col("doc_id") < 40)), uri)
    victim = spark.read.parquet(uri).agg(F.min("doc_id")).head()[0]
    delete_ids(spark, uri, [victim])
    live = read_index(spark, uri)
    assert live.filter(F.col("doc_id") == victim).count() == 0
    compact_index(spark, uri, t["spec"])
    assert not os.path.exists(tombstone_dir(str(tmp_path / "lsh_idx")))


def test_compact_admission_state_skips_unwritten_indexes(spark, tmp_path):
    """Compaction before any batch (or with the image gate off, or
    under v3, where the audio/video indexes never get rows) compacts
    the indexes that exist and leaves the others alone."""
    paths = adm.AdmissionPaths(str(tmp_path / "state"))
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    adm.init_admission_state(spark, paths, bench)
    adm.compact_admission_state(spark, paths)
    assert not os.path.exists(paths.lsh)
    assert spark.read.parquet(paths.ledger).count() == 0
