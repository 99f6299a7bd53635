"""SemDeDup (operators/semdedup.py): cluster-bucketed semantic
near-dup removal — consistency against the independent global kernel
and keep-lowest-id flag semantics."""

from collections import Counter

from jly_flink_spark.plans import REGISTRY

from .conftest import SF_SMOKE


def test_semdedup_matches_global_kernel_within_clusters(spark):
    """Every n_close_prior must equal the number of GLOBAL near-dup
    pairs (dedup_embedding_cosine — the blocked numpy-GEMM kernel, a
    completely independent scoring path) that land in the vector's
    cluster with a smaller partner id. Same threshold, so the two
    operators must agree exactly on the intra-cluster subset."""
    flags = (
        REGISTRY["dedup_semantic_clusters"]
        .spark_fn(spark, SF_SMOKE)
        .collect()
    )
    pairs = (
        REGISTRY["dedup_embedding_cosine"]
        .spark_fn(spark, SF_SMOKE)
        .collect()
    )
    cid = {r["vec_id"]: r["cid"] for r in flags}
    want: Counter = Counter()
    for p in pairs:
        if cid[p["vec_a"]] == cid[p["vec_b"]]:
            want[p["vec_b"]] += 1
    assert flags, "empty semdedup output"
    for r in flags:
        assert r["n_close_prior"] == want.get(r["vec_id"], 0), r
        assert r["is_dup"] == (1 if want.get(r["vec_id"], 0) else 0), r
    # non-degenerate on the real corpus: some dups found, none of the
    # cluster-minimum ids ever flagged
    assert sum(r["is_dup"] for r in flags) > 0
    keep_min = {}
    for r in flags:
        keep_min[r["cid"]] = min(keep_min.get(r["cid"], r["vec_id"]), r["vec_id"])
    for r in flags:
        if r["vec_id"] == keep_min[r["cid"]]:
            assert r["is_dup"] == 0, r


def test_semdedup_flag_semantics_on_crafted_corpus(spark, tmp_path):
    """Identical pair (2,3) → smaller id kept, larger flagged with
    n_close_prior 1; antipodal/orthogonal vectors never flag."""
    import os

    import numpy as np
    import pandas as pd

    from jly_flink_spark.operators.semdedup import semantic_dup_flags

    dim = 8
    base = np.zeros(dim, dtype="float32")
    base[0] = 1.0
    orth = np.zeros(dim, dtype="float32")
    orth[1] = 1.0
    pdf = pd.DataFrame(
        {
            "vec_id": [2, 3, 4, 5],
            "embedding": [
                base.tolist(),
                base.tolist(),  # identical → cosine 1
                (-base).tolist(),  # antipodal → cosine -1
                orth.tolist(),  # orthogonal → cosine 0
            ],
            "label": [0] * 4,
        }
    )
    path = os.path.join(str(tmp_path), "emb.parquet")
    pdf.to_parquet(path)
    emb = spark.read.parquet(path)
    rows = {r["vec_id"]: r for r in semantic_dup_flags(emb).collect()}
    assert set(rows) == {2, 3, 4, 5}
    assert rows[2]["is_dup"] == 0 and rows[2]["n_close_prior"] == 0
    assert rows[3]["is_dup"] == 1 and rows[3]["n_close_prior"] == 1
    assert rows[3]["cid"] == rows[2]["cid"]
    assert rows[4]["is_dup"] == 0
    assert rows[5]["is_dup"] == 0


def test_semdedup_giant_cluster_block_split_is_exact(spark):
    """The skew guard: forcing everything into ONE cluster and a tiny
    per-task row cap must produce the same flags as the single-task
    path — every unordered pair lands in exactly one (cid, bi, bj)
    block-pair group."""
    import numpy as np
    import pandas as pd

    from jly_flink_spark.operators.semdedup import semantic_dup_flags

    rng = np.random.default_rng(11)
    base = rng.normal(size=16).astype("float32")
    rows = []
    for i in range(240):
        # near-dup families of 3 around shared directions
        fam = rng.normal(size=16).astype("float32") if i % 3 == 0 else rows[-1][1]
        rows.append((i, fam + rng.normal(scale=0.01, size=16).astype("float32")))
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [
                (r[1] + 0 * base).astype("float32").tolist() for r in rows
            ],
            "label": [0] * len(rows),
        }
    )
    emb = spark.createDataFrame(pdf)

    single = {
        r["vec_id"]: (r["cid"], r["n_close_prior"], r["is_dup"])
        for r in semantic_dup_flags(emb, k=1, max_task_rows=10**9).collect()
    }
    split = {
        r["vec_id"]: (r["cid"], r["n_close_prior"], r["is_dup"])
        for r in semantic_dup_flags(emb, k=1, max_task_rows=64).collect()
    }
    assert split == single
    assert sum(1 for _, _, d in single.values() if d) > 0


def test_semdedup_ragged_embeddings_fail_loudly(spark, tmp_path):
    """Inconsistent embedding lengths within a cluster are malformed
    input — the kernel must raise, not silently report zero dups for
    the task."""
    import os

    import pandas as pd
    import pytest

    from jly_flink_spark.operators.semdedup import semantic_dup_flags

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "embedding": [
                [1.0, 0.0, 0.0, 0.0],
                [1.0, 0.0, 0.0, 0.0],
                [1.0, 0.0],  # ragged: wrong dimension
            ],
            "label": [0] * 3,
        }
    )
    path = os.path.join(str(tmp_path), "emb.parquet")
    pdf.to_parquet(path)
    emb = spark.read.parquet(path)
    with pytest.raises(Exception, match="ragged embedding"):
        semantic_dup_flags(emb, k=1).collect()


def test_assign_ties_to_smallest_cid(spark):
    """K-means assignment runs PQ's nearest-centroid kernel with one
    subspace: equidistant centroids must resolve to the smallest cid,
    the (dist, cid) order of the `embedding_kmeans_clusters` oracle
    (which certifies the kernel on the real corpus)."""
    from jly_flink_spark.operators import pq as PQ

    tie_codes = spark.createDataFrame(
        [(7, [1, 0])], "vec_id long, code array<bigint>"
    )
    # both at squared distance 1, listed larger cid first
    tie_book = [(0, 1, [2, 0]), (0, 0, [0, 0])]
    got = PQ.nearest_centroids(tie_codes, tie_book).collect()[0]
    assert list(got["pq"]) == [0]
