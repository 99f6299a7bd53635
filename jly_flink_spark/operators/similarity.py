"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how a 100-TB corpus is actually served:

- `cosine_topk_bruteforce`: the exact baseline. Query set × corpus
  cross join with the query side BROADCAST (queries are few; the
  corpus is huge and must stream, never shuffle). Per-pair cosine is
  a JVM-side higher-order-function expression — no Python.
- `cosine_topk_lsh`: the scale path — random-hyperplane LSH buckets
  computed from deterministic md5-derived hyperplanes; candidates are
  bucket-joined, then exact-scored. Recall<1 by construction, so its
  correctness check is rows-only.

Determinism contract (for oracle value-hash parity): per-element
products are computed in double (exact IEEE), floor-quantized at 1e8,
and summed as exact integers — the same quantized-sum pattern the
aggregation queries use, making dot products independent of fold
order and identical across engines. Final cosine is plain double
arithmetic on those exact sums.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.layout import read_index, rewrite_index, write_sorted_layout

QUANT = 100_000_000  # 1e8: quantization scale for dot/norm sums

# Below this quantized norm² (float norm ≲ 0.1) the relative floor
# error on the norm is no longer small — such vectors skip the
# prefilter and go straight to exact scoring.
MIN_HEALTHY_QN = 10**6


def prefilter_margin(d: int) -> float:
    """Worst-case gap by which the quantized cosine can EXCEED the
    stage-1 float32 GEMM cosine for healthy-norm vectors, as a
    function of the embedding dimension d (a FIXED margin silently
    breaks at realistic dims: the floor error grows linearly with d,
    and at d≈1000 it alone consumes a 1e-3 margin).

    Bound: flooring loses < d quantization units on each norm², so on
    norms at the healthy floor (qn ≥ MIN_HEALTHY_QN) the denominator
    shrinks by relative ≤ d/(2·MIN_HEALTHY_QN) per side — the
    quantized cosine inflates by ≤ d/MIN_HEALTHY_QN (the dot's own
    floor only DEFLATES it, widening the true margin). The f32 side
    adds ≤ ~d·2^-23 of GEMM accumulation error, plus a fixed 1e-4
    slack for the normalization divisions' rounding. Validated by an
    adversarial worst-case construction at d=2048 in
    tests/test_near_dup_margin.py."""
    return d / MIN_HEALTHY_QN + d * 1.2e-7 + 1e-4


def _qdot(a, b):
    """Order-independent quantized dot product of two float arrays:
    sum of floor(double(x)*double(y)*1e8) as exact integers."""
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            x.cast("double") * y.cast("double") * F.lit(QUANT)
        ),
    )
    return F.aggregate(
        prods, F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )


def _qnorm2(a):
    return _qdot(a, a)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the quantized squared norm (computed once per vector —
    at scale this is materialized with the corpus, not recomputed per
    query)."""
    return emb.withColumn("q_norm2", _qnorm2(F.col(vec_col)))


def drop_zero_norm(emb_with_norm: DataFrame) -> DataFrame:
    """Drop vectors whose QUANTIZED norm is zero (every |x| below the
    quantization unit): cosine is undefined for them, and under
    Spark's default ANSI mode the division would otherwise throw at
    runtime (DuckDB returns NULL). No testdata vector triggers this —
    the filter exists for real-corpus robustness, mirroring the same
    guard inside the near-dup numpy kernel."""
    return emb_with_norm.filter(F.col("q_norm2") > 0)


def cosine_topk_bruteforce(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector (by vec_id), the k
    nearest corpus vectors (self excluded).

    Plan shape: broadcast(queries) ⨯ corpus scan → per-partition
    partial top-k via window on the (tiny) query key — the corpus is
    read once, never shuffled on vector data; only (query_id,
    candidate, score) rows reach the window shuffle."""
    from ..io import ensure_min_parallelism

    corpus = drop_zero_norm(
        with_norm(ensure_min_parallelism(emb), vec_col)
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        F.col("q_norm2").alias("cand_norm2"),
    )
    queries = drop_zero_norm(
        with_norm(emb.filter(F.col("vec_id").isin(query_ids)), vec_col)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col("q_norm2").alias("query_norm2"),
    )
    dot = _qdot(F.col("query_vec"), F.col("cand_vec"))
    cos = dot.cast("double") / (
        F.sqrt(F.col("query_norm2").cast("double"))
        * F.sqrt(F.col("cand_norm2").cast("double"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cosine", "rnk")
    )


def _hyperplane_sign(vec, plane_idx: int):
    """Sign bit of <vec, r_p> where r_p is a deterministic pseudo-random
    hyperplane: component j of plane p = (md5-digit(p, j) - 7.5).
    Uses only md5/substring/arithmetic so the construction is
    reproducible anywhere (and costs no shuffle — pure per-row expr).

    The dot product is QUANTIZED like every other cross-engine score
    here (sum of floor(x_j·comp_j·QUANT) as int64, single IEEE
    multiplies then exact integer addition), so the sign — and hence
    every LSH bucket id — is bit-identical on any engine that mirrors
    the expression, making LSH candidate sets oracle-checkable."""
    # dot(vec, plane) via element index: fold over positions
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    prods = F.transform(
        idx,
        lambda j: F.floor(
            F.element_at(vec, j + 1).cast("double")
            * _plane_component(plane_idx, j)
            * F.lit(QUANT)
        ).cast("long"),
    )
    s = F.aggregate(
        prods, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    return (s >= 0).cast("int")


def _plane_component(plane_idx: int, j):
    """Component j (a Column index) of deterministic hyperplane p."""
    h = F.md5(F.concat(F.lit(f"plane{plane_idx}#"), j.cast("string")))
    d = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    return d.cast("double") - 7.5


def lsh_bucket(vec, n_planes: int = 8):
    """Random-hyperplane LSH bucket id: n_planes sign bits packed into
    an int. Identical vectors → identical buckets; nearby vectors
    collide with probability 1 - angle/π per plane."""
    acc = F.lit(0)
    for p in range(n_planes):
        acc = acc + _hyperplane_sign(vec, p) * (2**p)
    return acc


def cosine_topk_lsh(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 6,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's
    LSH bucket, then exact-scored. The bucket join shuffles only
    (bucket, id, vec) — at 100 TB the bucketed corpus is written
    partitioned by bucket so the probe is a partition-pruned scan.
    Approximate (recall < 1) ⇒ rows-only correctness check."""
    from ..io import ensure_min_parallelism

    bucketed = ensure_min_parallelism(emb).withColumn(
        "bucket", lsh_bucket(F.col(vec_col), n_planes)
    )
    corpus = drop_zero_norm(with_norm(bucketed, vec_col)).select(
        F.col("vec_id").alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        F.col("q_norm2").alias("cand_norm2"),
        "bucket",
    )
    queries = drop_zero_norm(
        with_norm(
            bucketed.filter(F.col("vec_id").isin(query_ids)), vec_col
        )
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.col("q_norm2").alias("query_norm2"),
        "bucket",
    )
    dot = _qdot(F.col("query_vec"), F.col("cand_vec"))
    cos = dot.cast("double") / (
        F.sqrt(F.col("query_norm2").cast("double"))
        * F.sqrt(F.col("cand_norm2").cast("double"))
    )
    scored = (
        corpus.join(F.broadcast(queries), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cosine", "rnk")
    )


def _centroid_state(cent_rows):
    """(ids, matrix, quantized-norms) numpy state for broadcast."""
    import numpy as np

    ids = np.array([cid for cid, _ in cent_rows], dtype="int64")
    mat = np.array([v for _, v in cent_rows], dtype="float64")
    qn = np.maximum(
        np.floor(mat * mat * QUANT).astype("int64").sum(axis=1), 1
    )
    return ids, mat, qn


def _assign_batch(mat, state):
    """numpy assignment kernel: list ids (int64 array) for a (n, d)
    float64 batch against broadcast centroid state — the same
    floor(x·y·1e8) int64 sums as the SQL expressions, so assignment
    is engine-reproducible; np.argmax takes the FIRST max, matching
    the lowest-centroid-id tie rule."""
    import numpy as np

    ids, cmat, cqn = state
    qd = (
        np.floor(mat[:, None, :] * cmat[None, :, :] * QUANT)
        .astype("int64")
        .sum(axis=2)
    )
    vq = np.maximum(
        np.floor(mat * mat * QUANT).astype("int64").sum(axis=1), 1
    )
    cos = qd / (np.sqrt(vq)[:, None] * np.sqrt(cqn)[None, :])
    return ids[np.argmax(cos, axis=1)]


def _assign_udf(spark, cent_rows):
    """Arrow-batched assignment: list_id = argmax quantized cosine
    against the broadcast centroid matrix (`_assign_batch`). A pure
    map over the scan — the corpus is never shuffled for
    assignment."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(_centroid_state(cent_rows))

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype="float64")
        return pd.Series(_assign_batch(mat, bc.value))

    return assign


def build_ivf_centroids(
    emb: DataFrame,
    n_list: int = 16,
    refine: bool = True,
    vec_col: str = "embedding",
) -> list:
    """Build the IVF index model state (seed + optional Lloyd step).
    Deterministic for a given corpus, so safe to build once and
    reuse/persist — the index-build/serve split every ANN system
    has."""
    cents = ivf_seed_centroids(emb, n_list, vec_col)
    if refine:
        cents = ivf_refine(emb, cents, vec_col)
    return cents


def ivf_seed_centroids(emb: DataFrame, n_list: int, vec_col: str) -> list:
    """Seed centroids: the n_list smallest vec_ids (deterministic —
    no RNG). orderBy+limit compiles to TakeOrderedAndProject (per-
    partition top-N, driver merge — no global sort); the collect is
    n_list rows of model state, not data."""
    rows = (
        emb.select("vec_id", vec_col).orderBy("vec_id").limit(n_list).collect()
    )
    return [(i, list(r[vec_col])) for i, r in enumerate(rows)]


# Fixed-point scale for the Lloyd mean: a power of two, so every
# refined centroid value (an integer divided by 2^20) is EXACTLY
# representable in double — which is what lets a SQL oracle replay
# the refinement bit-for-bit. 2^-20 per-dim quantization is far
# below the int8/PQ code noise downstream.
REFINE_SCALE = 1 << 20


def ivf_refine(emb: DataFrame, cent_rows, vec_col: str = "embedding") -> list:
    """One distributed Lloyd step in exact fixed-point arithmetic:
    centroid_d ← trunc(Σ_i floor(x_id·2^20) / n) / 2^20 over the
    list's members. Integer partial sums are fold-order-independent
    and the truncating division matches on both engines (Spark `div`,
    DuckDB `//`), so — unlike a float64 mean, whose value depends on
    reduction order — the refined centroids are a pure deterministic
    function of the corpus that a DuckDB oracle reproduces exactly
    (see plans/northstar_queries.ivf_refined_cents_sql). That is what
    lets the REGISTERED pruned-ANN serving queries run with refined
    centroids and still value-hash cross-engine (round-8 verdict: the
    refined tier is the one that makes residual PQ pay).

    Plan shape: ONE Arrow-batched mapInPandas computes assignment
    (broadcast centroid state) and the per-(list, dim) integer
    partial sums in the same kernel, emitting ≤ n_list·d rows per
    batch — so per-step shuffle volume is independent of corpus
    size (the kmeans_fixed discipline) and the corpus crosses the
    Python boundary exactly once. The collect returns n_list·d
    integers of model state. Empty lists keep their seed, quantized
    through the same floor/scale so the fallback is replayable
    too."""
    import math

    import numpy as np

    from ..io import ensure_min_parallelism

    spark = emb.sparkSession
    scale = REFINE_SCALE
    bc = spark.sparkContext.broadcast(_centroid_state(cent_rows))

    # ONE Arrow pass computes assignment AND the per-(list, dim)
    # integer partial sums inside the batch kernel — ≤ n_list·d
    # output rows per batch regardless of batch size. The previous
    # shape (assignment pandas_udf + posexplode in one projection)
    # pushed every exploded row through the Python-runner pipeline:
    # measured 20.5 s vs 5.3 s for assignment alone at the ×10
    # corpus; this fused pass plus the fan-out guard below takes the
    # whole refine to ~2 s. Fan-out: a small embeddings table scans
    # as 1-2 splits, serializing the kernel onto one core (measured
    # ×10: ONE 22 s single-task stage) — no-op on many-split scans.
    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf[vec_col]), dtype="float64")
            lid = _assign_batch(mat, bc.value)
            q = np.floor(mat * scale).astype("int64")
            rows = []
            for c in np.unique(lid):
                m = lid == c
                s = q[m].sum(axis=0)
                n = int(m.sum())
                rows.extend(
                    (int(c), d, int(s[d]), n)
                    for d in range(q.shape[1])
                )
            yield pd.DataFrame(
                rows, columns=["list_id", "dim", "s", "cnt"]
            )

    partials = ensure_min_parallelism(
        emb.select("vec_id", vec_col)
    ).mapInPandas(batches, "list_id int, dim int, s long, cnt long")
    sums = partials.groupBy("list_id", "dim").agg(
        F.sum("s").alias("s"), F.sum("cnt").alias("cnt")
    )
    got = {
        (int(r["list_id"]), int(r["dim"])): (int(r["s"]), int(r["cnt"]))
        for r in sums.collect()
    }

    def _trunc_div(a: int, b: int) -> int:
        # toward-zero division (Spark div / DuckDB // semantics);
        # Python's // floors, which differs for negative sums
        q = abs(a) // b
        return q if a >= 0 else -q

    out = []
    for cid, seed_vec in cent_rows:
        vec = []
        for d, sv in enumerate(seed_vec):
            ent = got.get((cid, d))
            iv = (
                _trunc_div(*ent)
                if ent is not None
                else math.floor(float(sv) * scale)
            )
            vec.append(iv / scale)
        out.append((cid, vec))
    return out


def cosine_topk_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_list: int = 16,
    n_probe: int = 4,
    refine: bool = True,
    vec_col: str = "embedding",
    centroids: list | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF(-Flat) index: corpus
    vectors are binned into n_list centroid lists; each query probes
    only its n_probe nearest lists and exact-scores those candidates.

    Plan shape: the corpus is scanned ONCE with assignment computed in
    the projection (an Arrow-batched numpy kernel over the broadcast
    centroid matrix — no assignment join, no shuffle); probes are a
    broadcast join on list_id; the only real shuffle is the final
    per-query top-k window over (query_id, cand_id, score) rows. Work
    drops from |corpus| to ~(n_probe/n_list)·|corpus| score
    evaluations per query; at full scale the assigned corpus is
    persisted partitionBy(list_id) and the probe becomes a
    partition-pruned scan.

    With n_probe == n_list this equals brute force exactly (the
    unit-test invariant); with n_probe < n_list recall < 1 ⇒
    rows-only correctness check, same contract as the LSH variant.

    `centroids` lets the caller pass a prebuilt index (see
    build_ivf_centroids) — in production the index is built once per
    corpus version and served for every query batch, not rebuilt per
    query."""
    from ..io import ensure_min_parallelism

    if centroids is not None:
        cents = centroids
    else:
        cents = ivf_seed_centroids(emb, n_list, vec_col)
        if refine:
            cents = ivf_refine(emb, cents, vec_col)

    assign = _assign_udf(emb.sparkSession, cents)
    corpus = drop_zero_norm(
        with_norm(
            ensure_min_parallelism(emb.select("vec_id", vec_col)),
            vec_col,
        )
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        F.col("q_norm2").alias("cand_norm2"),
        assign(F.col(vec_col)).alias("list_id"),
    )
    # query → its n_probe nearest lists, computed DRIVER-SIDE in
    # numpy: queries and centroids are both tiny (|Q| rows, n_list×d
    # floats), so probe selection is pure model-state arithmetic —
    # shipping it into Catalyst as a 16-way literal expression tree
    # costs more in analysis than the whole computation.
    q_rows = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", vec_col)
        .collect()
    )
    queries = _probe_frame(
        emb.sparkSession, q_rows, cents, n_probe, vec_col
    )
    return _topk_from_probes(corpus, queries, k)


def _select_probe_lists(v, vq_g: int, cents_state, n_probe: int):
    """A query vector's n_probe nearest centroid lists, in probe
    order — the ONE definition of probe selection (quantized centroid
    cosine, ties → lowest centroid id), shared by the float and int8
    probe frames so the two serving tiers can never diverge from each
    other or from the SQL oracle's mirror of this arithmetic."""
    import math

    import numpy as np

    ids_c, cmat, cqn = cents_state
    qd = np.floor(v[None, :] * cmat * QUANT).astype("int64").sum(axis=1)
    cos = qd / (math.sqrt(vq_g) * np.sqrt(cqn))
    order = np.lexsort((ids_c, -cos))  # cos desc, ties → low cid
    return ids_c[order[:n_probe]]


def _query_vector(r, vec_col: str, cents_state):
    """A query row's float64 vector. A NULL, empty or wrongly-sized
    query has no probe lists, so it fails with one named error that
    gives its vec_id and the centroids' dimension."""
    import numpy as np

    v, dim = r[vec_col], cents_state[1].shape[1]
    if v is None or len(v) != dim:
        got = "NULL" if v is None else f"{len(v)}-d"
        raise ValueError(
            f"query vec_id {r['vec_id']}: {got} query vector, "
            f"expected dimension {dim}"
        )
    return np.array(list(v), dtype="float64")


def _probe_frame(
    spark: SparkSession,
    q_rows,
    cents: list,
    n_probe: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Query rows → probe frame (query_id, query_vec, query_norm2,
    list_id): each query fanned out to its n_probe nearest centroid
    lists, computed DRIVER-SIDE in numpy (queries and centroids are
    both model-state-sized). Zero-quantized-norm queries drop —
    cosine undefined, same contract as drop_zero_norm on the corpus
    side. Shared by the in-memory IVF path and the persisted-layout
    serving paths (batch + streaming)."""
    import numpy as np

    cents_state = _centroid_state(cents)
    probe_rows = []
    for r in q_rows:
        v = _query_vector(r, vec_col, cents_state)
        vq = int(np.floor(v * v * QUANT).astype("int64").sum())
        if vq <= 0:
            continue
        for cid in _select_probe_lists(v, vq, cents_state, n_probe):
            probe_rows.append(
                (
                    int(r["vec_id"]),
                    [float(x) for x in r[vec_col]],
                    int(vq),
                    int(cid),
                )
            )
    return spark.createDataFrame(
        probe_rows,
        "query_id long, query_vec array<float>, query_norm2 long, "
        "list_id int",
    )


def _float_cos_score():
    """Quantized float cosine over a joined probe/candidate row."""
    return _qdot(F.col("query_vec"), F.col("cand_vec")).cast(
        "double"
    ) / (
        F.sqrt(F.col("query_norm2").cast("double"))
        * F.sqrt(F.col("cand_norm2").cast("double"))
    )


def _topk_from_probes(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    score=None,
    score_name: str = "cosine",
) -> DataFrame:
    """Score a candidate corpus against a broadcast probe frame on
    `list_id` and keep each query's top-k: the one real shuffle is
    the per-query top-k window over candidate scores. The serving
    skeleton shared by the float (IVF-Flat) and int8 (IVF-SQ8) tiers;
    `score` is the per-pair scoring expression (default: quantized
    float cosine)."""
    if score is None:
        score = _float_cos_score()
    scored = (
        corpus.join(F.broadcast(queries), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            score.alias(score_name),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_name).desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", score_name, "rnk")
    )


def _pruned_layout(
    spark: SparkSession, layout_path: str, probes: DataFrame, rename: dict
) -> DataFrame:
    """Partition-pruned read of a persisted IVF layout restricted to
    the probe frame's lists (the `lists` collect is
    |batch|·n_probe-sized model state, not data); tombstoned ids are
    anti-joined out (`sources.layout.read_index`)."""
    lists = [
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    ]
    cols = [F.col(src).alias(dst) for src, dst in rename.items()]
    return (
        read_index(spark, layout_path, "vec_id")
        .filter(F.col("list_id").isin(lists))
        .select(*cols, "list_id")
    )


def persist_ivf_corpus(
    emb: DataFrame,
    path: str,
    centroids: list,
    vec_col: str = "embedding",
) -> None:
    """Serving layout for the IVF index: assign every corpus vector to
    its centroid list and persist hive-partitioned by `list_id`, with
    the quantized norm precomputed. A query batch then probes its
    n_probe lists as a PARTITION-PRUNED scan — reading
    ~n_probe/n_list of the corpus bytes instead of all of them —
    which is the claim `cosine_topk_ivf`'s docstring makes about full
    scale, here as an executable artifact (tests/test_ivf_serving.py).
    Rebuild on corpus version change; centroids come from
    `build_ivf_centroids` once per version, not per query."""
    from ..io import write_partitioned

    assign = _assign_udf(emb.sparkSession, centroids)
    corpus = drop_zero_norm(
        with_norm(emb.select("vec_id", vec_col), vec_col)
    ).select(
        "vec_id",
        vec_col,
        "q_norm2",
        assign(F.col(vec_col)).alias("list_id"),
    )
    write_partitioned(corpus, path, ["list_id"])


def serve_ann_topk(
    spark: SparkSession,
    queries_df: DataFrame,
    layout_path: str,
    centroids: list,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors for a REQUEST BATCH of query vectors
    (columns `vec_id`, `vec_col`) against the persisted IVF layout —
    the serving-side read path matching `persist_ivf_corpus`'s write
    path. The probe scan is partition-pruned to the union of the
    batch's probe lists (~n_probe/n_list of the corpus bytes), the
    probe frame broadcasts (request-sized), and the only shuffle is
    the per-query top-k window. The `.collect()` is the request
    batch itself — serving requests are driver-sized by definition;
    the corpus never is."""
    q_rows = queries_df.select("vec_id", vec_col).collect()
    queries = _probe_frame(spark, q_rows, centroids, n_probe, vec_col)
    corpus = _pruned_layout(
        spark,
        layout_path,
        queries,
        {"vec_id": "cand_id", vec_col: "cand_vec", "q_norm2": "cand_norm2"},
    )
    return _topk_from_probes(corpus, queries, k)


def serve_ann_stream(
    queries_sdf: DataFrame,
    layout_path: str,
    centroids: list,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
):
    """Streaming ANN serving: a stream of query vectors probes the
    persisted IVF layout per micro-batch and appends epoch-stamped
    results — the similarity-search analog of the incremental-dedup
    stream (`dedup.stream_near_dup_candidates`): index built once,
    arrivals served incrementally, no streaming state (each request
    is independent, so recovery is plain source-offset replay and
    results are keyed by (epoch_id, query_id) for idempotent
    consumers). Per-epoch work = one partition-pruned scan of the
    probed lists + a broadcast join — corpus-sized nothing ever
    shuffles or accumulates. Returns the StreamingQuery."""

    def probe_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        (
            serve_ann_topk(
                spark, batch_df, layout_path, centroids, k, n_probe,
                vec_col,
            )
            .withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        queries_sdf.writeStream.foreachBatch(probe_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def default_block_count(
    n_rows: int, parallelism: int, rows_per_block: int = 32768
) -> int:
    """Block count for the blocked all-pairs self-join: the SMALLEST B
    that saturates the cluster (B(B+1)/2 ≳ parallelism ⇒ B ≈ √(2·p))
    and bounds per-task memory (≤ rows_per_block rows per block).
    Minimizing B minimizes the dominant cost — the B·n replicated
    shuffle. (Sizing by a small fixed block length instead, e.g.
    n/256, replicates the corpus hundreds of times: the round-2 bench
    breach.)"""
    import math

    return max(
        1,
        math.ceil(math.sqrt(2 * parallelism)),
        math.ceil(n_rows / rows_per_block),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    vec_col: str = "embedding",
    rows_per_block: int = 32768,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (vec_a < vec_b)
    with quantized cosine >= threshold.

    Distributed blocked all-pairs — nothing corpus-sized ever touches
    the driver. Each vector gets a deterministic block id
    (crc32(vec_id) % B); a row in block p is replicated to the B
    unordered block-pairs {p, q}, and one `applyInPandas` task per
    block-pair runs the vectorized numpy kernel over its ≤
    2·rows_per_block vectors. Every unordered vector pair lands in
    exactly one block-pair group (same block → (p,p); different →
    (min,max)), so the result is the exact all-pairs set.

    Scale: shuffle volume is B·n vectors and the O(n²) pair work is
    spread over B(B+1)/2 independent tasks — the standard blocked
    self-join, so B is the knob that trades replication (B·n shuffle
    rows) against task fan-out. The default picks the SMALLEST B that
    both saturates the cluster (B(B+1)/2 ≳ defaultParallelism, i.e.
    B ≈ √(2·cores)) and bounds per-task memory (≤ `rows_per_block`
    rows per block; the numpy kernel additionally chunks its product
    tensor) — minimizing B minimizes the dominant cost, the B·n
    replicated shuffle. Sizing needs the corpus row count, taken from
    a column-pruned count on the UN-repartitioned scan (no shuffle,
    no data columns); at a fixed deployment scale pass `n_blocks`
    from table stats and no count job runs at all. The LSH bucket
    prefilter (`cosine_topk_lsh`'s bucketing) cuts the candidate set
    first at corpus scale, with this kernel as the per-bucket
    verifier.

    Execution: Arrow/numpy inside applyInPandas. A per-pair
    zip_with+aggregate expression is CodegenFallback (interpreted) in
    Spark, so the batched numpy kernel is the fast path. The kernel
    is two-stage: a float32 BLAS GEMM over unit-normalized vectors
    prefilters to pairs that could reach the threshold (the
    dimension-scaled `prefilter_margin(d)` covers the worst-case
    quantization + f32 divergence at any embedding dim;
    degenerate-norm vectors bypass the prefilter), then
    the *identical* quantized arithmetic as the SQL oracle
    (floor(x·y·1e8) per element, exact int64 sums) scores only those
    candidates — so the emitted pair set and cosines still
    hash-match the oracle bit for bit, at GEMM speed instead of
    floor-tensor speed for the all-pairs sweep."""
    import math

    import numpy as np
    import pandas as pd

    from ..io import ensure_min_parallelism

    if n_blocks is None:
        # Column-pruned count on the raw scan (reads no data pages,
        # no shuffle); callers at fixed deployment scale pass
        # n_blocks explicitly and skip even this.
        n_blocks = default_block_count(
            emb.count(),
            emb.sparkSession.sparkContext.defaultParallelism,
            rows_per_block,
        )
    src = ensure_min_parallelism(emb.select("vec_id", vec_col))

    blk = F.pmod(
        F.crc32(F.col("vec_id").cast("string")), F.lit(n_blocks)
    ).cast("int")
    targets = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda q: F.struct(
            F.least(F.col("blk"), q).cast("int").alias("bi"),
            F.greatest(F.col("blk"), q).cast("int").alias("bj"),
        ),
    )
    exploded = (
        src.withColumn("blk", blk)
        .withColumn("pk", F.explode(targets))
        .select(
            F.col("pk.bi").alias("bi"),
            F.col("pk.bj").alias("bj"),
            "blk",
            "vec_id",
            vec_col,
        )
    )

    def verify(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        ids = pdf["vec_id"].to_numpy(dtype="int64")
        mat = np.array(list(pdf[vec_col]), dtype="float64")
        qn = np.floor(mat * mat * QUANT).astype("int64").sum(axis=1)
        # Zero QUANTIZED norm (all |x| below the quantization unit):
        # cosine is undefined — drop the vector. Without this a
        # nonzero dot over a zero denominator yields ±inf, which
        # `>= threshold` would keep while the SQL oracle's NULL
        # division drops it (caught by tests/test_edge_fixtures.py).
        valid = qn > 0
        if not valid.all():
            pdf = pdf[valid]
            ids, mat, qn = ids[valid], mat[valid], qn[valid]
        sq = np.sqrt(qn.astype("float64"))
        if bi == bj:
            a_sel = b_sel = np.arange(len(ids))
        else:
            blks = pdf["blk"].to_numpy(dtype="int64")
            a_sel = np.nonzero(blks == bi)[0]
            b_sel = np.nonzero(blks == bj)[0]
        a_ids, b_ids = ids[a_sel], ids[b_sel]
        a_mat, b_mat = mat[a_sel], mat[b_sel]
        a_sq, b_sq = sq[a_sel], sq[b_sel]
        a_qn, b_qn = qn[a_sel], qn[b_sel]

        # Stage 1 — f32 GEMM prefilter: one BLAS matmul over unit-
        # normalized vectors finds every pair whose FLOAT cosine could
        # possibly reach the QUANTIZED threshold. For healthy norms
        # (quantized norm² ≥ MIN_HEALTHY_QN ⇔ float norm ≳ 0.1) the
        # quantized cosine can exceed the float one by at most the
        # dimension-scaled `prefilter_margin(d)` (norm floor error
        # d/MIN_HEALTHY_QN + f32 GEMM accumulation ~d·2^-23 + slack —
        # a FIXED margin breaks at d≈1000, where the floor term alone
        # reaches 1e-3). Degenerate-norm vectors — where the bound
        # fails — have ALL their pairs forced into stage 2. This cuts
        # the O(n_a·n_b·d) floor-tensor work (the old kernel did it
        # for every pair) to a GEMM plus exact work on candidates.
        fa = np.sqrt((a_mat * a_mat).sum(axis=1))
        fb = np.sqrt((b_mat * b_mat).sum(axis=1))
        an = (a_mat / fa[:, None]).astype("float32")
        bn = (b_mat / fb[:, None]).astype("float32")
        d_dim = int(mat.shape[1]) if mat.ndim == 2 else 0
        cut = np.float32(threshold - prefilter_margin(d_dim))
        b_unhealthy = b_qn < MIN_HEALTHY_QN
        # a-chunked GEMM: the full n_a×n_b score matrix would be
        # ~4 GB f32 at the 32k-row block cap; chunks bound the live
        # matrix to ~64 MB while BLAS still gets big-enough panels
        a_step = max(1, 2**24 // max(1, bn.shape[0]))
        ia_parts, ib_parts = [], []
        for alo in range(0, an.shape[0], a_step):
            ahi = alo + a_step
            cand = (an[alo:ahi] @ bn.T) >= cut
            cand[a_qn[alo:ahi] < MIN_HEALTHY_QN, :] = True
            cand[:, b_unhealthy] = True
            if bi == bj:
                cand &= a_ids[alo:ahi, None] < b_ids[None, :]
            ca, cb = np.nonzero(cand)
            ia_parts.append(ca + alo)
            ib_parts.append(cb)
        ia = np.concatenate(ia_parts) if ia_parts else np.array([], dtype=int)
        ib = np.concatenate(ib_parts) if ib_parts else np.array([], dtype=int)

        # Stage 2 — exact quantized scoring on candidates only: the
        # identical floor(x·y·QUANT) int64 arithmetic as before, so
        # emitted pairs and cosines are bit-for-bit unchanged.
        out = []
        step = 4096  # pairs per chunk (bounds the d-wide float stage)
        for lo in range(0, len(ia), step):
            sa, sb = ia[lo : lo + step], ib[lo : lo + step]
            qd = (
                np.floor(a_mat[sa] * b_mat[sb] * QUANT)
                .astype("int64")
                .sum(axis=1)
            )
            cos = qd.astype("float64") / (a_sq[sa] * b_sq[sb])
            keep = cos >= threshold
            if keep.any():
                u, v = a_ids[sa[keep]], b_ids[sb[keep]]
                out.append(
                    pd.DataFrame(
                        {
                            "vec_a": np.minimum(u, v),
                            "vec_b": np.maximum(u, v),
                            "cosine": cos[keep],
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        return pd.concat(out, ignore_index=True)

    return exploded.groupBy("bi", "bj").applyInPandas(
        verify, schema="vec_a long, vec_b long, cosine double"
    )


def _int8_codes_np(x) -> "object":
    """The symmetric per-vector absmax int8 quantizer — the ONE
    definition of the int8 code formula on the Spark side. Rows of a
    float matrix (or one vector) → int64 codes: scale = max(|x_i|)
    guarded at 1e-12, code_i = floor(x_i·127/scale).

    Same formula as the `embedding_quantize_int8` audit query (already
    cross-engine hash-verified), so the codes — and everything computed
    from them — are bit-identical to the DuckDB oracles: float32 →
    float64 widening is exact, `x·127.0` then `/scale` is the oracles'
    IEEE double sequence, and floor/int64 match. Codes are exact small
    integers; all downstream scoring is integer arithmetic, fold-order
    independent by construction."""
    import numpy as np

    x = np.asarray(x, dtype="float64")
    scale = np.maximum(np.abs(x).max(axis=-1, keepdims=True), 1e-12)
    return np.floor(x * 127.0 / scale).astype("int64")


def _idot(a, b):
    """Exact integer dot product of two int arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _int8_cosine(codes_a, qn_a, codes_b, qn_b):
    """Exact-integer int8 cosine of two (codes, qn) column pairs: the
    integer dot over the roots of the integer self-dots."""
    return _idot(codes_a, codes_b).cast("double") / (
        F.sqrt(qn_a.cast("double")) * F.sqrt(qn_b.cast("double"))
    )


def _int8_coded(
    emb: DataFrame, vec_col: str = "embedding", fan_out: bool = True
) -> DataFrame:
    """The int8 code table: `emb` with `vec_col` replaced by (codes,
    qn) — `_int8_codes_np`'s codes and their integer self-dot — every
    other input column carried through. The one code-table frame of
    the flat ADC scan, the MMR re-ranker, the IVF-SQ8 and residual
    IVF-PQ layouts, PQ/K-means training and streaming cluster routing.

    ONE Arrow-batched mapInPandas kernel: a batch of equal-length
    vectors quantizes as one matrix. The fan-out happens on the RAW
    float rows, ahead of the kernel, so quantization runs at session
    parallelism (measured ×10, quantizing inside the single-split
    scan stage was ONE 16.6 s task — the whole `ann_cosine_int8_adc`
    7.4× decade ratio); it is a no-op on real many-split scans (the
    100 TB case).

    A batch holding NULL, empty or ragged vectors takes the row path
    through the same formula: NULL → (NULL, NULL), empty → ([], 0)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructType

    from ..io import ensure_min_parallelism

    def codes_and_norms(vecs):
        if all(v is not None for v in vecs) and (
            len({len(v) for v in vecs}) == 1 and len(vecs[0]) > 0
        ):
            C = _int8_codes_np(np.array(vecs, dtype="float64"))
            return list(C), (C * C).sum(axis=1)
        codes, qn = [], []
        for v in vecs:
            c = None if v is None else (
                _int8_codes_np(v) if len(v) else np.zeros(0, "int64")
            )
            codes.append(c)
            qn.append(None if c is None else int((c * c).sum()))
        return codes, np.array(qn, dtype="object")

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            codes, qn = codes_and_norms(list(pdf[vec_col]))
            yield pdf.drop(columns=[vec_col]).assign(codes=codes, qn=qn)

    schema = (
        StructType([f for f in emb.schema.fields if f.name != vec_col])
        .add("codes", ArrayType(LongType()))
        .add("qn", LongType())
    )
    # fan_out=False: callers quantizing a HANDFUL of pre-filtered
    # rows (the query side of a serving pair), or whose rows an
    # exchange of their own spreads, skip the repartition — spreading
    # 5 rows over 32 tasks just pays 32 cold Python-worker launches
    # for nothing.
    if fan_out:
        emb = ensure_min_parallelism(emb, keys=["vec_id"])
    return emb.mapInPandas(batches, schema)


def cosine_topk_int8(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized codes (the FAISS
    SQ8 / ADC serving pattern): quantize every vector once, score
    queries against the CODES, never the floats.

    Why this exists at 100 TB: the quantized corpus is 4× smaller than
    float32 (0.25 bytes/dim ratio), so the scan — the dominant cost of
    a brute-force serving tier — reads 4× less I/O, and the dot
    products are exact integer ops (vectorizable, no FP accumulation
    order concerns). Recall loss vs exact cosine is the quantization
    error audited by `embedding_quantize_int8`.

    Plan shape mirrors `cosine_topk_bruteforce`: broadcast(query
    codes) × streamed corpus codes, per-query partial top-k via
    window; only slim (query_id, cand_id, score) rows shuffle. At
    scale the code column is materialized with the corpus (write the
    `_int8_coded` table at ingest) rather than recomputed per query —
    this operator recomputes it inline only because the test corpus
    ships floats.

    Vectors whose codes are all zero (every |x| under the quantization
    unit) are dropped on both sides — integer norm 0, cosine
    undefined; same guard class as `drop_zero_norm`."""
    vecs = emb.select("vec_id", vec_col)
    corpus = (
        _int8_coded(vecs, vec_col)
        .filter(F.col("qn") > 0)
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("codes").alias("cand_codes"),
            F.col("qn").alias("cand_qn"),
        )
    )
    # quantize the query vectors from a PRE-FILTERED scan: an isin
    # predicate cannot push through the kernel's Python barrier, so
    # filtering the coded frame would re-quantize the whole corpus
    # just to keep |query_ids| rows
    queries = (
        _int8_coded(
            vecs.filter(F.col("vec_id").isin(query_ids)),
            vec_col,
            fan_out=False,
        )
        .filter(F.col("qn") > 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("codes").alias("query_codes"),
            F.col("qn").alias("query_qn"),
        )
    )
    cos = _int8_cosine(
        F.col("query_codes"),
        F.col("query_qn"),
        F.col("cand_codes"),
        F.col("cand_qn"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine_q8"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q8").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id", "cosine_q8", "rnk")
    )


MMR_LAMBDA_NUM = 7  # λ = 0.7 in tenths: score = 7·rel − 3·maxsim
MMR_CANDIDATES = 20
MMR_K = 8


def mmr_rerank_int8(
    emb: DataFrame,
    query_ids: list[int],
    n_candidates: int = MMR_CANDIDATES,
    k: int = MMR_K,
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein
    1998) of the int8-ADC candidate set: greedily pick k of the
    per-query top-n_candidates, each round maximizing
    λ·rel(q,c) − (1−λ)·max_{s∈picked} sim(c,s) — the diversity
    selection every retrieval/dedup-aware training-batch builder
    runs on top of a similarity index (near-identical candidates
    waste the batch).

    Exactness: relevance and pairwise similarity are the int8 ADC
    cosine (integer dots/norms) micro-quantized via the established
    round(·1e6) discipline, so the greedy arithmetic —
    score = 7·rel_micro − 3·maxsim_micro (λ=0.7, ×10-scaled, order-
    preserving) with (score DESC, cand_id) tie-breaks — is exact
    integers and the picked SETS (not just sizes) value-hash across
    engines.

    Scale shape: the candidate generator and the pairwise-sim join
    are the distributed serving tier (broadcast queries × streamed
    corpus, top-n via window); the greedy itself runs DRIVER-SIDE
    over the collected candidate state — ≤ |queries|·n_candidates
    relevance rows plus ≤ |queries|·n²_candidates sims, bounded
    request-batch model state by construction (the repo's
    bounded-collect discipline: k sequential argmaxes over ~10² rows
    per query are a serving-layer computation, not a job — the
    staged-DataFrame variant measured 8.7 s of pure round
    orchestration at sf0.1 for the identical 40-row answer)."""
    from ..io import stage_eager

    cands = cosine_topk_int8(
        emb, query_ids=query_ids, k=n_candidates, vec_col=vec_col
    )
    # one staging cut: the corpus-scale candidate scan runs ONCE and
    # feeds both the relevance collect and the pairwise-sim join
    rel = stage_eager(
        cands.select(
            "query_id",
            "cand_id",
            F.round(F.col("cosine_q8") * F.lit(1_000_000.0))
            .cast("bigint")
            .alias("rel"),
        )
    )
    coded = _int8_coded(emb.select("vec_id", vec_col), vec_col)
    a = rel.select("query_id", "cand_id").join(
        coded.select(
            F.col("vec_id").alias("cand_id"),
            F.col("codes"),
            F.col("qn"),
        ),
        "cand_id",
    )
    xa = a.select(
        "query_id",
        F.col("cand_id").alias("aid"),
        F.col("codes").alias("ca"),
        F.col("qn").alias("na"),
    )
    xb = a.select(
        "query_id",
        F.col("cand_id").alias("bid"),
        F.col("codes").alias("cb"),
        F.col("qn").alias("nb"),
    )
    sim = _int8_cosine(
        F.col("ca"), F.col("na"), F.col("cb"), F.col("nb")
    ) * F.lit(1_000_000.0)
    sims = (
        xa.join(xb, "query_id")
        .filter(F.col("aid") != F.col("bid"))
        .select(
            "query_id",
            "aid",
            "bid",
            F.round(sim).cast("bigint").alias("sim"),
        )
    )
    lam, lam1 = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    # bounded request-batch state: |queries|·n rel rows, ·n² sims
    rel_rows = rel.collect()
    sim_map: dict = {}
    for r in sims.collect():
        sim_map[(r["query_id"], r["aid"], r["bid"])] = r["sim"]
    by_q: dict = {}
    for r in rel_rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["cand_id"], r["rel"])
        )
    out = []
    for qid, cl in by_q.items():
        picked: list = []
        remaining = dict(cl)
        for t in range(1, k + 1):
            if not remaining:
                break
            best = None
            for cid, relv in remaining.items():
                if picked:
                    maxsim = max(
                        sim_map[(qid, p, cid)] for p in picked
                    )
                    score = lam * relv - lam1 * maxsim
                else:
                    score = lam * relv
                key = (-score, cid)  # score DESC, cand_id ASC
                if best is None or key < best[0]:
                    best = (key, cid, relv, score)
            _, cid, relv, score = best
            picked.append(cid)
            del remaining[cid]
            out.append((qid, cid, t, relv, score))
    return emb.sparkSession.createDataFrame(
        out,
        "query_id long, cand_id long, pick long, rel_micro long,"
        " mmr_score long",
    )


def persist_ivf_int8(
    emb: DataFrame,
    path: str,
    centroids: list,
    vec_col: str = "embedding",
) -> None:
    """Serving layout for the IVF-SQ8 tier (the FAISS IVFx,SQ8
    pattern): every corpus vector is coarse-assigned to its centroid
    list on the FLOAT vector (same quantizer as `persist_ivf_corpus`),
    but the layout stores the int8 CODES and their integer norm —
    not the floats. A probe then reads ~n_probe/n_list of a corpus
    that is itself ~4× smaller than float32, compounding the two
    serving levers: partition pruning cuts which bytes are read,
    quantization cuts how many bytes each vector is.

    This is the scale-out answer to `cosine_topk_int8`'s O(corpus)
    scan per request batch (the round-4 watch item): with the codes
    living inside the partition-pruned lists, the serving scan is
    corpus-fraction, not corpus.

    Quantization is the audited absmax formula through the one code
    kernel (`_int8_coded`). All-zero code vectors (exactly-zero
    inputs) are dropped at build time: integer norm 0 ⇒ cosine
    undefined, same guard as the flat path.
    """
    from ..io import write_partitioned

    write_partitioned(
        _ivf_int8_rows(emb, centroids, vec_col), path, ["list_id"]
    )


def _ivf_int8_rows(
    emb: DataFrame, centroids: list, vec_col: str
) -> DataFrame:
    """(vec_id, codes, qn8, list_id) rows of the IVF-SQ8 layout —
    the ONE definition of the stored-row derivation, shared by the
    initial build and incremental appends so the two can never
    drift. The list is assigned on the float vector, then the code
    kernel replaces the vector; the layout write's list_id exchange
    spreads the rows, so the kernel adds no fan-out of its own."""
    assign = _assign_udf(emb.sparkSession, centroids)
    lists = emb.select(
        "vec_id", vec_col, assign(F.col(vec_col)).alias("list_id")
    )
    return (
        _int8_coded(lists, vec_col, fan_out=False)
        .filter(F.col("qn") > 0)
        .select("vec_id", "codes", F.col("qn").alias("qn8"), "list_id")
    )


def append_to_ivf_int8(
    emb_new: DataFrame,
    path: str,
    centroids: list,
    vec_col: str = "embedding",
) -> None:
    """Incremental corpus additions to the IVF-SQ8 layout — the
    write-back half of continuous ingest (the ANN analog of
    `append_to_lsh_index`): new vectors are coded and coarse-assigned
    with the SAME derivation as the initial build and appended into
    their hive list partitions. Appends are per-batch atomic in
    parquet; each batch adds one small file per touched list, so run
    `compact_ivf_layout` on a cadence. The centroids must be the
    layout's own (assignment with different centroids would route
    probes past the new rows); re-centroiding means a rebuild —
    `persist_ivf_int8` — like any IVF index."""
    (
        _ivf_int8_rows(emb_new, centroids, vec_col)
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(path)
    )


def compact_ivf_layout(
    spark: SparkSession, path: str, files_per_list: int = 1
) -> None:
    """Maintenance pass for a persisted IVF layout (float or SQ8):
    incremental corpus additions appended into the hive partitions
    accumulate small files per list; rewrite each `list_id` partition
    into `files_per_list` vec_id-sorted files over the live rows and
    swap the layout in — the shared lifecycle of `sources.layout`
    (`read_index` applies pending `delete_ids(..., "vec_id")`
    tombstones, `rewrite_index` swaps and drains them). The hive
    partitioning — and with it the probe's partition pruning — is
    preserved; served scores are layout-invariant
    (tests/test_layout_compaction.py). Serialize with appends and
    deletes on one maintenance timeline (`swap_layout`)."""
    live = read_index(spark, path, "vec_id")
    rewrite_index(
        path,
        lambda tmp: write_sorted_layout(
            live, tmp, ["list_id"], ["vec_id"], files_per_list
        ),
    )


def _query_probes(q_rows, cents: list, n_probe: int, vec_col: str):
    """(query_id, int8 codes, probe list ids) per query row — the one
    query/probe-list loop of the int8 and PQ serving tiers: probe
    lists are selected on the FLOAT vector against the float
    centroids (`_select_probe_lists`, with the norm guarded at 1 like
    the assignment kernel), while the payload is the query's int8
    codes (`_int8_codes_np`)."""
    import numpy as np

    cents_state = _centroid_state(cents)
    for r in q_rows:
        v = _query_vector(r, vec_col, cents_state)
        vq = max(int(np.floor(v * v * QUANT).astype("int64").sum()), 1)
        yield (
            int(r["vec_id"]),
            _int8_codes_np(v),
            _select_probe_lists(v, vq, cents_state, n_probe),
        )


def _probe_frame_int8(
    spark: SparkSession,
    q_rows,
    cents: list,
    n_probe: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Query rows → int8 probe frame (query_id, query_codes,
    query_qn8, list_id): probe lists are selected on the FLOAT vector
    (`_query_probes`), while the shipped payload is the query's int8
    codes — candidates are scored code-against-code, never
    float-against-code (symmetric distance, so the score is
    bit-identical to the flat ADC tier for the same pair). Queries
    whose codes are all zero drop (integer norm 0 ⇒ cosine undefined,
    mirroring the layout-side guard).

    Every arithmetic step here (absmax scale, floor codes, quantized
    centroid cosine, lexsort tie rule) mirrors one SQL expression in
    the `ann_cosine_ivf_int8` oracle, which is what makes a PRUNED
    (n_probe < n_list) IVF query value-hash-checkable cross-engine.
    Probe selection itself is the shared `_select_probe_lists`."""
    rows = []
    for qid, codes, lists in _query_probes(q_rows, cents, n_probe, vec_col):
        qn8 = int((codes * codes).sum())
        if qn8 <= 0:
            continue
        rows += [(qid, codes.tolist(), qn8, int(cid)) for cid in lists]
    return spark.createDataFrame(
        rows,
        "query_id long, query_codes array<long>, query_qn8 long, "
        "list_id int",
    )


def serve_ann_topk_int8(
    spark: SparkSession,
    queries_df: DataFrame,
    layout_path: str,
    centroids: list,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k int8-cosine neighbors for a request batch against the
    persisted IVF-SQ8 layout (`persist_ivf_int8`). Plan shape: the
    probe scan is PARTITION-PRUNED to the union of the batch's probe
    lists, the probe frame broadcasts (request-sized), scoring is
    exact integer dot products on the codes, and the per-query top-k
    applies its partial (WindowGroupLimit) below the one exchange —
    so what shuffles is partitions×k slim rows of an already
    corpus-fraction scan. The `.collect()` is the request batch,
    driver-sized by definition. Same serving skeleton as
    `serve_ann_topk` (`_pruned_layout` + `_topk_from_probes`), so the
    two tiers' probe/join/top-k semantics cannot drift apart."""
    q_rows = queries_df.select("vec_id", vec_col).collect()
    probes = _probe_frame_int8(spark, q_rows, centroids, n_probe, vec_col)
    corpus = _pruned_layout(
        spark,
        layout_path,
        probes,
        {"vec_id": "cand_id", "codes": "cand_codes", "qn8": "cand_qn8"},
    )
    score = _int8_cosine(
        F.col("query_codes"),
        F.col("query_qn8"),
        F.col("cand_codes"),
        F.col("cand_qn8"),
    )
    return _topk_from_probes(corpus, probes, k, score, "cosine_q8")


def embedding_norm_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label norm statistics — a cheap full-scan sanity operator
    over the vector column (quantized-exact, oracle-friendly)."""
    norm = F.sqrt(_qnorm2(F.col(vec_col)).cast("double") / QUANT)
    return (
        emb.select(F.col("label"), norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
    )
