"""Distributed K-means over int8-quantized embedding vectors — the
batch clustering flagship next to the IVF index build
(operators/similarity.py). K-means is product quantization with one
subspace, so `kmeans_fixed` runs PQ's Lloyd loop with m=1
(`pq.pq_train_encode`): one loop, and one Arrow nearest-centroid
kernel (`pq.nearest_centroids`) for training, the final assignment
and streaming routing (`assign_stream`).

Bit-exactness: vectors are int8-quantized by the one absmax/floor
code kernel (`similarity._int8_coded`, the hash-verified formula the
`embedding_quantize_int8` oracle audits), distances are exact int64
sums of squared differences, centroid updates are truncating integer
means (`sum div count` — Spark `div` and DuckDB `//` both truncate
toward zero), empty clusters keep their centroid, and argmin ties
break to the smallest centroid id. A fixed iteration count (like
PageRank's PR_ITERS) makes the unrolled computation identical on any
engine, so the `embedding_kmeans_clusters` oracle replays it bit for
bit.

Scale shape (the 100-TB argument):
- The K centroids are driver-side model state (K·d ints). Assignment
  is one numpy pass per Arrow batch over the staged code table: no
  join, no corpus shuffle.
- The update shuffles only (cid, dim) partial sums: posexplode is
  map-side combined to ≤ K·d rows per partition before the exchange,
  so per-iteration shuffle volume is O(partitions × K × d),
  independent of corpus size; the K·d sums and counts are collected
  in the same action and the means taken on the driver.
- The quantized code table is staged (io.stage) once; each of the
  `iterations`+1 assignment passes reads the checkpoint, not the
  parquet + quantize lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pq import nearest_centroids, pq_codebook_state, pq_train_encode
from .similarity import _int8_coded

KM_K = 8  # clusters
KM_ITERS = 3  # fixed unroll depth


def kmeans_fixed(
    emb: DataFrame,
    k: int = KM_K,
    iterations: int = KM_ITERS,
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Run `iterations` rounds of Lloyd's algorithm on int8-quantized
    vectors; returns (centroids, assignment) where centroids is
    (cid, carr array<bigint>) after the final update and assignment
    is (vec_id, cid) against those final centroids.

    Init = the codes of the k smallest vec_ids (deterministic,
    engine-portable). Empty clusters keep their previous centroid.
    This is PQ's Lloyd loop with one subspace."""
    if iterations < 1 or k < 1:
        raise ValueError("k and iterations must be >= 1")
    cent, coded, _ = pq_train_encode(
        emb, m=1, k=k, iterations=iterations, vec_col=vec_col
    )
    return (
        cent.select("cid", "carr"),
        coded.select("vec_id", F.col("pq")[0].alias("cid")),
    )


def extract_centroids(cent: DataFrame) -> list:
    """Collect the trained centroids as driver model state — the
    one-subspace codebook state (`pq.pq_codebook_state`: (0, cid,
    code array) tuples, K·d ints) that `assign_stream` takes; the
    train-offline/serve-online boundary (like
    `classifier.extract_weights` and the IVF centroid list)."""
    return pq_codebook_state(cent.select(F.lit(0).alias("sub"), "cid", "carr"))


def assign_stream(
    emb_sdf: DataFrame,
    centroids: list,
    out_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
):
    """Streaming cluster routing: assign arriving embeddings to their
    nearest frozen centroid and append (vec_id, cid) — how a corpus
    shards new vectors to cluster-partitioned storage at ingest.
    `centroids` is `extract_centroids`' state; quantization and
    assignment run the training loop's own Arrow kernels
    (`_int8_coded`, `pq.nearest_centroids`), so routing is stateless,
    shuffle-free and bit-identical to the batch assignment; recovery
    is plain source-offset replay. Returns the StreamingQuery."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    codes = _int8_coded(emb_sdf.select("vec_id", vec_col), vec_col).select(
        "vec_id", F.col("codes").alias("code")
    )
    assigned = nearest_centroids(codes, centroids).select(
        "vec_id", F.col("pq")[0].alias("cid")
    )
    return (
        assigned.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def kmeans_audit(
    emb: DataFrame,
    k: int = KM_K,
    iterations: int = KM_ITERS,
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, dim, cval, n_members) — every centroid coordinate after
    the final update plus final-assignment cluster sizes; a value
    hash of this frame certifies every iteration end-to-end."""
    cent, asg = kmeans_fixed(emb, k=k, iterations=iterations, vec_col=vec_col)
    sizes = asg.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    flat = cent.select("cid", F.posexplode("carr").alias("dim", "cval"))
    return flat.join(sizes, "cid", "left").select(
        F.col("cid").cast("bigint").alias("cid"),
        F.col("dim").cast("bigint").alias("dim"),
        F.col("cval").cast("bigint").alias("cval"),
        F.coalesce(F.col("n_members"), F.lit(0).cast("bigint")).alias(
            "n_members"
        ),
    )
