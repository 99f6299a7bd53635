"""IVF-SQ8 serving layout: int8 codes behind partition-pruned IVF
routing (the round-4 watch item's fix).

`cosine_topk_int8` is an O(corpus) scan per request batch by
construction; `persist_ivf_int8` + `serve_ann_topk_int8` put the
codes inside the partition-pruned list layout so the serving scan is
corpus-fraction. This suite pins the three claims that make that a
scale design and not just a faster test: (a) the probe scan prunes at
the partition level, (b) probed-pair scores are bit-identical to the
flat ADC tier (symmetric code-vs-code distance), and (c) probing
every list reproduces the flat ADC top-k exactly — the recall anchor
for the pruned default.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from jly_flink_spark.io import load_table
from jly_flink_spark.operators import similarity
from jly_flink_spark.operators.similarity import (
    build_ivf_centroids,
    cosine_topk_int8,
    persist_ivf_int8,
    serve_ann_topk_int8,
)

SF_DIR = "/root/testdata/sf0.001"
N_LIST, N_PROBE, K = 8, 3, 5
QIDS = [3, 7, 11]


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = build_ivf_centroids(emb, n_list=N_LIST, refine=False)
    path = str(tmp_path_factory.mktemp("ivf_int8") / "corpus_by_list")
    persist_ivf_int8(emb, path, cents)
    return emb, cents, path


def test_probe_scan_is_partition_pruned(spark, served):
    emb, cents, path = served
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    topk = serve_ann_topk_int8(
        spark, queries, path, cents, k=K, n_probe=N_PROBE
    )
    plan = _plan(topk)
    assert "PartitionFilters: [" in plan and "list_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # pruning is real: strictly fewer rows scanned than the corpus
    lists = {
        r["list_id"]
        for r in similarity._probe_frame_int8(
            spark,
            queries.select("vec_id", "embedding").collect(),
            cents,
            N_PROBE,
        )
        .select("list_id")
        .collect()
    }
    total = spark.read.parquet(path).count()
    probed = (
        spark.read.parquet(path)
        .filter(F.col("list_id").isin(list(lists)))
        .count()
    )
    assert 0 < probed < total


def test_partial_topk_below_exchange(spark, served):
    """The serving plan must keep the broadcast-probe shape and apply
    the partial per-partition top-k (WindowGroupLimit) BELOW its one
    exchange — partitions×k slim rows shuffle, never all scored
    pairs."""
    emb, cents, path = served
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    df = serve_ann_topk_int8(
        spark, queries, path, cents, k=K, n_probe=N_PROBE
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    _, _, below = plan.partition("Exchange hashpartitioning")
    assert "WindowGroupLimit" in below, plan


def test_probed_pair_scores_match_flat_adc(spark, served):
    """Symmetric code-vs-code scoring: every (query, cand) pair the
    pruned tier returns must carry EXACTLY the score the flat ADC
    tier assigns that pair — routing changes which pairs are scored,
    never what a score is."""
    emb, cents, path = served
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    pruned = {
        (r["query_id"], r["cand_id"]): r["cosine_q8"]
        for r in serve_ann_topk_int8(
            spark, queries, path, cents, k=K, n_probe=N_PROBE
        ).collect()
    }
    # flat ADC over the full corpus with a k large enough to contain
    # every candidate the pruned tier can return
    n = emb.count()
    flat = {
        (r["query_id"], r["cand_id"]): r["cosine_q8"]
        for r in cosine_topk_int8(emb, QIDS, k=n).collect()
    }
    assert pruned
    for pair, score in pruned.items():
        assert flat[pair] == score, pair


def test_probe_all_lists_equals_flat_adc(spark, served):
    """n_probe == n_list ⇒ every candidate scored ⇒ the pruned tier
    IS the flat tier: identical top-k, ranks, and scores — the recall
    anchor (same contract as ann_cosine_ivf_exact for the float
    path)."""
    emb, cents, path = served
    queries = emb.filter(F.col("vec_id").isin(QIDS))
    got = {
        (r["query_id"], r["cand_id"], r["rnk"], r["cosine_q8"])
        for r in serve_ann_topk_int8(
            spark, queries, path, cents, k=K, n_probe=N_LIST
        ).collect()
    }
    want = {
        (r["query_id"], r["cand_id"], r["rnk"], r["cosine_q8"])
        for r in cosine_topk_int8(emb, QIDS, k=K).collect()
    }
    assert got == want and got


def test_layout_drops_zero_norm_codes(spark, served):
    """Every persisted row carries a positive integer norm — the
    build-time guard that keeps cosine defined for every stored
    candidate."""
    _, _, path = served
    assert (
        spark.read.parquet(path).filter(F.col("qn8") <= 0).count() == 0
    )


class TestIvfDeletes:
    """Tombstoned deletion (`delete_ids(..., "vec_id")`): serving excludes
    deleted ids immediately (O(deletes) write, no partition rewrite),
    compaction applies deletes physically and drains the tombstone
    set, and a pending tombstone suppresses even a re-appended id
    until compaction — the LSM delete→compact contract."""

    def _fresh(self, spark, tmp_path):
        emb = load_table(spark, SF_DIR, "embeddings")
        cents = build_ivf_centroids(emb, n_list=N_LIST, refine=False)
        path = str(tmp_path / "corpus_by_list")
        persist_ivf_int8(emb, path, cents)
        return emb, cents, path

    @staticmethod
    def _topk(spark, emb, cents, path):
        queries = emb.filter(F.col("vec_id").isin(QIDS))
        return {
            (r["query_id"], r["cand_id"]): r["cosine_q8"]
            for r in serve_ann_topk_int8(
                spark, queries, path, cents, k=K, n_probe=N_LIST
            ).collect()
        }

    def test_delete_then_compact(self, spark, tmp_path):
        from jly_flink_spark.operators.similarity import compact_ivf_layout
        from jly_flink_spark.sources.layout import delete_ids, tombstone_dir

        emb, cents, path = self._fresh(spark, tmp_path)
        before = self._topk(spark, emb, cents, path)
        # delete a candidate that actually appears in the results
        victim = next(c for (q, c) in before if c not in QIDS)
        delete_ids(spark, path, [victim], "vec_id")

        after = self._topk(spark, emb, cents, path)
        assert all(c != victim for (_, c) in after)
        # surviving pairs keep bit-identical scores
        for pair, score in after.items():
            if pair in before:
                assert before[pair] == score
        # every query still gets K results (replacement drawn in)
        for q in QIDS:
            assert sum(1 for (qq, _) in after if qq == q) == K

        import os as _os

        assert _os.path.isdir(tombstone_dir(path))
        compact_ivf_layout(spark, path)
        assert not _os.path.isdir(tombstone_dir(path))
        # physically gone, serving unchanged vs the tombstoned view
        layout_ids = {
            r["vec_id"] for r in spark.read.parquet(path).collect()
        }
        assert victim not in layout_ids
        assert self._topk(spark, emb, cents, path) == after

    def test_pending_tombstone_suppresses_reappend(self, spark, tmp_path):
        from jly_flink_spark.operators.similarity import (
            append_to_ivf_int8,
            compact_ivf_layout,
        )
        from jly_flink_spark.sources.layout import delete_ids

        emb, cents, path = self._fresh(spark, tmp_path)
        before = self._topk(spark, emb, cents, path)
        victim = next(c for (q, c) in before if c not in QIDS)
        delete_ids(spark, path, [victim], "vec_id")
        # re-append the same id while its tombstone is pending:
        # still suppressed (tombstones win until compaction)
        append_to_ivf_int8(
            emb.filter(F.col("vec_id") == victim), path, cents
        )
        assert all(
            c != victim for (_, c) in self._topk(spark, emb, cents, path)
        )
        # compaction applies the delete (also to the re-appended
        # row) and drains; appending AFTER compaction is visible
        compact_ivf_layout(spark, path)
        append_to_ivf_int8(
            emb.filter(F.col("vec_id") == victim), path, cents
        )
        assert self._topk(spark, emb, cents, path) == before

    def test_float_tier_shares_tombstones(self, spark, tmp_path):
        from jly_flink_spark.operators.similarity import (
            persist_ivf_corpus,
            serve_ann_topk,
        )
        from jly_flink_spark.sources.layout import delete_ids

        emb = load_table(spark, SF_DIR, "embeddings")
        cents = build_ivf_centroids(emb, n_list=N_LIST, refine=False)
        path = str(tmp_path / "corpus_float")
        persist_ivf_corpus(emb, path, cents)
        queries = emb.filter(F.col("vec_id").isin(QIDS))
        got = {
            r["cand_id"]
            for r in serve_ann_topk(
                spark, queries, path, cents, k=K, n_probe=N_LIST
            ).collect()
        }
        victim = next(c for c in got if c not in QIDS)
        delete_ids(spark, path, [victim], "vec_id")
        got2 = {
            r["cand_id"]
            for r in serve_ann_topk(
                spark, queries, path, cents, k=K, n_probe=N_LIST
            ).collect()
        }
        assert victim not in got2

    def test_tombstone_antijoin_keeps_partition_pruning(
        self, spark, tmp_path
    ):
        """The deletion anti-join must not cost the layout its
        partition pruning: with tombstones pending, the probe plan
        still prunes on list_id and the tombstone side joins as a
        BROADCAST anti-join (model-state, never a shuffle of the
        pruned corpus)."""
        from jly_flink_spark.sources.layout import delete_ids

        emb, cents, path = self._fresh(spark, tmp_path)
        delete_ids(spark, path, [1, 2], "vec_id")
        queries = emb.filter(F.col("vec_id").isin(QIDS))
        plan = _plan(
            serve_ann_topk_int8(
                spark, queries, path, cents, k=K, n_probe=N_PROBE
            )
        )
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "list_id" in pf, plan
        assert "BroadcastExchange" in plan, plan


def test_tombstones_refuse_remote_layout_paths():
    """Tombstone bookkeeping is driver-local (os.path.isdir probe,
    shutil.rmtree drain): on a remote layout a missing-dir probe
    would read False and pending deletes would keep serving
    SILENTLY — so every tombstone entry point must raise loudly on a
    non-local scheme instead."""
    import pytest

    from jly_flink_spark.sources.layout import tombstone_dir

    for bad in ("s3a://bucket/ivf_layout", "hdfs://nn:8020/ivf"):
        with pytest.raises(ValueError, match="driver-local"):
            tombstone_dir(bad)
    # local forms still fine
    assert tombstone_dir("/tmp/x").endswith(".tombstones")
    assert tombstone_dir("file:///tmp/x").endswith(".tombstones")
