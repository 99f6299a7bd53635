"""IVF serving layout: the partition-pruned probe path.

`cosine_topk_ivf`'s docstring claims that at full scale the assigned
corpus is persisted `partitionBy(list_id)` and a probe becomes a
partition-pruned scan. This suite makes that claim executable:
persist the index with `persist_ivf_corpus`, probe a query's lists
through the parquet layout, and verify (a) the scan prunes at the
partition level, (b) the pruned candidate set equals the in-memory
assignment, and (c) scoring those candidates reproduces the
in-memory `cosine_topk_ivf` results exactly.
"""

from __future__ import annotations

import contextlib
import io
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from jly_flink_spark.io import load_table
from jly_flink_spark.operators import similarity
from jly_flink_spark.operators.similarity import (
    QUANT,
    build_ivf_centroids,
    cosine_topk_ivf,
    persist_ivf_corpus,
)

SF_DIR = "/root/testdata/sf0.001"
N_LIST, N_PROBE, K = 8, 3, 5
QUERY_ID = 7


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = build_ivf_centroids(emb, n_list=N_LIST)
    path = str(tmp_path_factory.mktemp("ivf") / "corpus_by_list")
    persist_ivf_corpus(emb, path, cents)
    return emb, cents, path


def _probe_lists(emb, cents, query_id: int) -> list[int]:
    """The query's n_probe nearest centroid lists — same arithmetic as
    cosine_topk_ivf's driver-side probe selection."""
    row = emb.filter(F.col("vec_id") == query_id).collect()[0]
    v = np.array(list(row["embedding"]), dtype="float64")
    ids_c, cmat, cqn = similarity._centroid_state(cents)
    qd = np.floor(v[None, :] * cmat * QUANT).astype("int64").sum(axis=1)
    vq = max(int(np.floor(v * v * QUANT).astype("int64").sum()), 1)
    cos = qd / (math.sqrt(vq) * np.sqrt(cqn))
    order = np.lexsort((ids_c, -cos))
    return [int(c) for c in ids_c[order[:N_PROBE]]]


def test_probe_scan_is_partition_pruned(spark, served):
    emb, cents, path = served
    lists = _probe_lists(emb, cents, QUERY_ID)
    probe = spark.read.parquet(path).filter(F.col("list_id").isin(lists))
    plan = _plan(probe)
    assert "PartitionFilters: [" in plan and "list_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # pruning is real: the probe reads strictly fewer rows than the corpus
    total = spark.read.parquet(path).count()
    probed = probe.count()
    assert 0 < probed < total


def test_served_candidates_match_inmemory_assignment(spark, served):
    emb, cents, path = served
    lists = _probe_lists(emb, cents, QUERY_ID)
    served_ids = {
        r["vec_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("list_id").isin(lists))
        .select("vec_id")
        .collect()
    }
    assign = similarity._assign_udf(spark, cents)
    mem_ids = {
        r["vec_id"]
        for r in emb.select(
            "vec_id", assign(F.col("embedding")).alias("list_id")
        )
        .filter(F.col("list_id").isin(lists))
        .collect()
    }
    assert served_ids == mem_ids and served_ids


def test_served_probe_reproduces_ivf_topk(spark, served):
    emb, cents, path = served
    want = {
        (r["cand_id"], r["rnk"])
        for r in cosine_topk_ivf(
            emb,
            [QUERY_ID],
            k=K,
            n_list=N_LIST,
            n_probe=N_PROBE,
            centroids=cents,
        ).collect()
    }
    lists = _probe_lists(emb, cents, QUERY_ID)
    qrow = emb.filter(F.col("vec_id") == QUERY_ID).collect()[0]
    v = np.array(list(qrow["embedding"]), dtype="float64")
    vq = int(np.floor(v * v * QUANT).astype("int64").sum())
    cands = (
        spark.read.parquet(path)
        .filter(
            F.col("list_id").isin(lists) & (F.col("vec_id") != QUERY_ID)
        )
        .collect()
    )
    scored = []
    for r in cands:
        c = np.array(list(r["embedding"]), dtype="float64")
        qd = int(np.floor(v * c * QUANT).astype("int64").sum())
        cos = qd / (math.sqrt(vq) * math.sqrt(r["q_norm2"]))
        scored.append((r["vec_id"], cos))
    scored.sort(key=lambda t: (-t[1], t[0]))
    got = {(vid, i + 1) for i, (vid, _) in enumerate(scored[:K])}
    assert got == want


def test_batch_serve_matches_inmemory_ivf(spark, served):
    """serve_ann_topk over the persisted layout must reproduce the
    in-memory cosine_topk_ivf exactly for the same centroids/queries
    — same probe selection, same quantized scoring, same tie rule."""
    emb, cents, path = served
    qids = [3, 7, 11]
    want = {
        (r["query_id"], r["cand_id"], r["rnk"])
        for r in cosine_topk_ivf(
            emb, qids, k=K, n_list=N_LIST, n_probe=N_PROBE,
            centroids=cents,
        ).collect()
    }
    queries = emb.filter(F.col("vec_id").isin(qids))
    got = {
        (r["query_id"], r["cand_id"], r["rnk"])
        for r in similarity.serve_ann_topk(
            spark, queries, path, cents, k=K, n_probe=N_PROBE
        ).collect()
    }
    assert got == want and got


def test_stream_serve_matches_batch(spark, served, tmp_path):
    """Query vectors arriving over TWO micro-batches must produce the
    same per-query top-k as one batch serve — the streaming path is
    stateless per request, so the epoch split cannot change results."""
    emb, cents, path = served
    qids_by_epoch = [[3, 7], [11]]
    src = tmp_path / "queries"
    src.mkdir()
    for i, qids in enumerate(qids_by_epoch):
        rows = emb.filter(F.col("vec_id").isin(qids)).select(
            "vec_id", "embedding"
        )
        rows.coalesce(1).write.mode("overwrite").parquet(
            str(src / f"staging_{i}")
        )
    # lay the files into one stream-source dir, one file per epoch
    import glob as _glob
    import shutil

    stream_dir = tmp_path / "stream_src"
    stream_dir.mkdir()
    for i in range(len(qids_by_epoch)):
        part = _glob.glob(str(src / f"staging_{i}" / "part-*.parquet"))[0]
        shutil.copy(part, str(stream_dir / f"batch_{i}.parquet"))

    out_dir = str(tmp_path / "results")
    q = similarity.serve_ann_stream(
        spark.readStream.schema(
            "vec_id long, embedding array<float>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir)),
        path,
        cents,
        out_dir,
        str(tmp_path / "ckpt"),
        k=K,
        n_probe=N_PROBE,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["query_id"], r["cand_id"], r["rnk"])
        for r in spark.read.parquet(out_dir).collect()
    }
    all_ids = [i for qs in qids_by_epoch for i in qs]
    want = {
        (r["query_id"], r["cand_id"], r["rnk"])
        for r in similarity.serve_ann_topk(
            spark,
            emb.filter(F.col("vec_id").isin(all_ids)),
            path,
            cents,
            k=K,
            n_probe=N_PROBE,
        ).collect()
    }
    assert got == want and got
    # every query answered in exactly one epoch
    epochs = {
        (r["query_id"], r["epoch_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert len({q for q, _ in epochs}) == len(all_ids)


class TestIvfRecallBound:
    """The pruned regime's quality pin (the HLL treatment applied to
    the last unanchored approximation): recall@5 of cosine_topk_ivf
    vs brute force, asserted at two corpus scales and two n_probe
    settings. Everything here is deterministic (seed centroids, one
    Lloyd step, fixed corpus), so the measured recalls are exactly
    reproducible; the pinned bounds sit just under the measured
    values (r6, 20 queries x k=5):

        corpus           n_probe=4   n_probe=8    (n_list=16, Lloyd)
        sf0.01  (n=500)    0.83        0.93
        sf0.1   (n=2000)   0.93        0.96

    i.e. >= 0.80 recall at quarter probe cost and >= 0.90 at half
    cost. A centroid/assignment regression that silently degrades
    the pruned tier breaks these bounds long before it would break
    the rows-only registry check."""

    QIDS = list(range(20))
    K = 5

    @staticmethod
    def _topk_sets(df) -> dict[int, set]:
        out: dict[int, set] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["cand_id"])
        return out

    @pytest.mark.parametrize(
        "sf_dir,n_probe,bound",
        [
            ("/root/testdata/sf0.01", 4, 0.80),
            ("/root/testdata/sf0.01", 8, 0.90),
            ("/root/testdata/sf0.1", 4, 0.80),
            ("/root/testdata/sf0.1", 8, 0.90),
        ],
    )
    def test_recall_at_k(self, spark, sf_dir, n_probe, bound):
        emb = load_table(spark, sf_dir, "embeddings")
        brute = self._topk_sets(
            similarity.cosine_topk_bruteforce(emb, self.QIDS, k=self.K)
        )
        cents = build_ivf_centroids(emb, n_list=16)
        ivf = self._topk_sets(
            cosine_topk_ivf(
                emb,
                self.QIDS,
                k=self.K,
                n_list=16,
                n_probe=n_probe,
                centroids=cents,
            )
        )
        hits = sum(len(brute[q] & ivf.get(q, set())) for q in brute)
        total = sum(len(brute[q]) for q in brute)
        recall = hits / total
        assert recall >= bound, (
            f"recall@{self.K}={recall:.3f} < {bound} "
            f"(n_probe={n_probe}, {sf_dir})"
        )


class TestClusteredRegime:
    """Recall + pruning pins on the CLUSTERED fixture
    (tests/fixtures/clustered.py) — the serving regime, where the
    existing near-uniform pins only measure the floor. Real embedding
    corpora cluster; on this fixture the measurements (deterministic,
    reproduce exactly) are:

        IVF float recall vs brute    n_probe=2: 1.00   n_probe=4: 1.00
        SQ8 pruned vs its flat tier  n_probe=2: 1.00   n_probe=4: 1.00
        per-query probe fraction     mean 0.25, max 0.33 (n_probe=4/16)

    i.e. with clustered data the probe selector finds the right lists
    essentially always, so pruning costs ~zero recall at 4x-8x scan
    savings — the claim an IVF deployment at 100 TB lives on. Floors
    pinned just under the measured values."""

    QIDS = list(range(20))
    K = 5

    _CACHE: dict = {}

    @classmethod
    def _fixture(cls, spark):
        ent = cls._CACHE.get("f")
        if ent is None:
            import os
            import tempfile

            from tests.fixtures.clustered import clustered_embeddings

            emb = clustered_embeddings(spark)
            cents = build_ivf_centroids(emb, n_list=16)
            p8 = os.path.join(
                tempfile.gettempdir(), "jly_clustered_sq8", "corpus"
            )
            similarity.persist_ivf_int8(emb, p8, cents)
            ent = (emb, cents, p8)
            cls._CACHE["f"] = ent
        return ent

    @staticmethod
    def _topk_sets(rows) -> dict[int, set]:
        out: dict[int, set] = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["cand_id"])
        return out

    @pytest.mark.parametrize("n_probe,bound", [(2, 0.95), (4, 0.95)])
    def test_ivf_float_recall(self, spark, n_probe, bound):
        emb, cents, _ = self._fixture(spark)
        brute = self._topk_sets(
            similarity.cosine_topk_bruteforce(
                emb, self.QIDS, k=self.K
            ).collect()
        )
        ivf = self._topk_sets(
            cosine_topk_ivf(
                emb, self.QIDS, k=self.K, n_list=16,
                n_probe=n_probe, centroids=cents,
            ).collect()
        )
        hits = sum(len(brute[q] & ivf.get(q, set())) for q in brute)
        recall = hits / sum(len(v) for v in brute.values())
        assert recall >= bound, (n_probe, recall)

    @pytest.mark.parametrize("n_probe,bound", [(2, 0.95), (4, 0.95)])
    def test_sq8_pruning_costs_no_recall(self, spark, n_probe, bound):
        """Pruned SQ8 vs the SAME tier probing every list (= flat
        ADC): isolates what partition pruning alone costs."""
        emb, cents, p8 = self._fixture(spark)
        queries = emb.filter(F.col("vec_id").isin(self.QIDS))
        flat = self._topk_sets(
            similarity.serve_ann_topk_int8(
                spark, queries, p8, cents, k=self.K, n_probe=16
            ).collect()
        )
        got = self._topk_sets(
            similarity.serve_ann_topk_int8(
                spark, queries, p8, cents, k=self.K, n_probe=n_probe
            ).collect()
        )
        rec = sum(
            len(flat[q] & got.get(q, set())) / self.K for q in flat
        ) / len(flat)
        assert rec >= bound, (n_probe, rec)

    def test_per_query_probe_fraction(self, spark):
        """The pruning ratio pin: each query's probed lists hold a
        bounded fraction of the corpus (measured mean 0.25 = exactly
        n_probe/n_list, max 0.33 from cluster-size skew)."""
        emb, cents, p8 = self._fixture(spark)
        total = spark.read.parquet(p8).count()
        by_list = {
            r["list_id"]: r["cnt"]
            for r in spark.read.parquet(p8)
            .groupBy("list_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        cs = similarity._centroid_state(cents)
        fractions = []
        for r in emb.filter(F.col("vec_id").isin(self.QIDS)).collect():
            v = np.array(list(r["embedding"]), dtype="float64")
            vq = max(
                int(np.floor(v * v * QUANT).astype("int64").sum()), 1
            )
            lists = similarity._select_probe_lists(v, vq, cs, 4)
            fractions.append(
                sum(by_list.get(int(c), 0) for c in lists) / total
            )
        assert sum(fractions) / len(fractions) <= 0.28, fractions
        assert max(fractions) <= 0.40, fractions


@pytest.mark.parametrize("tier", ["float", "int8", "pq"])
@pytest.mark.parametrize(
    "vec", [[], None, [1.0, 2.0]], ids=["empty", "null", "2-d"]
)
def test_degenerate_query_vector_named_error(spark, tier, vec):
    """A query vector with no probe lists — empty, NULL, or of another
    dimension than the centroids — fails every serving tier with one
    named error before any layout is read."""
    from jly_flink_spark.operators import pq

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    queries = spark.createDataFrame(
        [(41, vec)], "vec_id long, embedding array<float>"
    )
    serve = {
        "float": lambda: similarity.serve_ann_topk(
            spark, queries, "/nonexistent", cents
        ),
        "int8": lambda: similarity.serve_ann_topk_int8(
            spark, queries, "/nonexistent", cents
        ),
        "pq": lambda: pq.serve_ann_topk_ivf_pq(
            spark, queries, "/nonexistent", cents, [], 1
        ),
    }[tier]
    with pytest.raises(
        ValueError, match=r"query vec_id 41: .* expected dimension 3"
    ):
        serve()
