"""Vector quantization over int8-quantized embeddings: product
quantization (PQ) and, as its M=1 case, K-means — one Lloyd loop, one
nearest-centroid kernel, one ADC serving path.

PQ is the compression tier below IVF-SQ8: each vector's code splits
into M contiguous subvectors, each subspace trains its own K-centroid
codebook, and a vector is stored as M sub-centroid ids (M bytes — a
64× cut below even SQ8). K-means is the same computation with one
subspace (Jégou et al., TPAMI 2011), so `clustering.kmeans_fixed` is
a thin wrapper over `pq_train_encode` with m=1. Queries score
candidates with ADC (asymmetric distance computation): a per-query
lookup table of query-subvector ↔ centroid distances, so a
candidate's distance is M table lookups, never a d-dim dot product.

Shape of one training run (`pq_train_encode_codes`):

- the codebook is driver-side model state, (sub, cid, carr) tuples of
  M·K·subdim ints in all: it is seeded by ONE collect of the k
  smallest vec_ids' codes, which also fixes the dimension;
- assignment is ONE Arrow numpy kernel (`nearest_centroids`) over the
  staged code table — the corpus never shuffles for it;
- the update shuffles only map-side-combined (sub, cid, sdim) partial
  sums — O(partitions · M · K · subdim) rows — collected in the same
  action, with the means taken on the driver; so a Lloyd round is one
  action and the plan never grows with the iteration count;
- everything is exact integer arithmetic on the hash-certified
  absmax/floor int8 codes (squared-L2 ≤ 64·254² per pair, no
  overflow): int64 squared-L2 sums, ties to the smallest cid,
  truncating-integer centroid means, and an empty cluster keeps its
  centroid — so a SQL oracle replays training bit for bit.

Deliberate deviations from production PQ, documented: codebooks are
K=16 per subspace with 2 Lloyd rounds (the determinism-first audit
scale; production uses K=256 and trains to convergence — and on the
near-uniform SYNTHETIC embeddings of this harness, PQ's worst case,
ADC ordering is weak however sized: the serving tier therefore ships
with the exact-refine stage and its recall is pinned at the measured
floor), and the subvector quantization reuses the per-VECTOR absmax
scale instead of per-subspace scales (keeps the one certified int8
derivation; a per-subspace scale changes accuracy, not the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..io import stage

from .similarity import _int8_coded, _int8_codes_np

PQ_M = 8        # subspaces
PQ_K = 16       # centroids per subspace (audit scale; prod uses 256)
PQ_ITERS = 2    # Lloyd rounds


def pq_train_encode(
    emb: DataFrame,
    m: "int | None" = None,
    k: "int | None" = None,
    iterations: "int | None" = None,
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, int]:
    """Train the M sub-codebooks and encode the corpus; returns
    (codebooks, coded, subdim) where codebooks is (sub, cid, carr)
    after the final update and coded is (vec_id, code, pq) with `pq`
    the M-array of assigned sub-centroid ids under the FINAL
    codebooks. Init: subvectors of the k smallest vec_ids. Size
    parameters default to the module constants AT CALL TIME (so
    audits can sweep them)."""
    codes = _int8_coded(emb.select("vec_id", vec_col), vec_col).select(
        "vec_id", F.col("codes").alias("code")
    )
    return pq_train_encode_codes(codes, m, k, iterations)


def pq_train_encode_codes(
    codes: DataFrame,
    m: "int | None" = None,
    k: "int | None" = None,
    iterations: "int | None" = None,
) -> tuple[DataFrame, DataFrame, int]:
    """`pq_train_encode` on an ALREADY-BUILT integer code frame
    (vec_id, code array<bigint>, any other columns riding along into
    `coded`) — the one Lloyd loop, so the raw tier (codes straight
    from `_int8_coded`), the residual tier (codes minus the coarse
    centroid's code) and K-means (m=1) train through the byte-same
    code."""
    m = PQ_M if m is None else m
    k = PQ_K if k is None else k
    iterations = PQ_ITERS if iterations is None else iterations

    codes = codes.transform(stage)
    seeds = [
        r["code"]
        for r in codes.orderBy("vec_id").select("code").limit(k).collect()
    ]
    dim = len(seeds[0]) if seeds and seeds[0] is not None else 0
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by {m} subspaces")
    subdim = dim // m
    x = _code_matrix(seeds, dim)
    book = [
        (s, cid, x[cid, s * subdim : (s + 1) * subdim].tolist())
        for cid in range(len(seeds))
        for s in range(m)
    ]

    for _ in range(iterations):
        # update: each (dim, val) carries its assigned sub-cid from
        # the pq array — pure expressions, no join; partial sums
        # combine map-side to M·K·subdim rows
        sums = (
            nearest_centroids(codes, book)
            .select("pq", F.posexplode("code").alias("dim", "val"))
            .select(
                (F.col("dim") / subdim).cast("bigint").alias("sub"),
                F.element_at(
                    "pq", (F.col("dim") / subdim).cast("int") + 1
                ).alias("cid"),
                (F.col("dim") % subdim).alias("sdim"),
                "val",
            )
            .groupBy("sub", "cid", "sdim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("cnt"))
            .collect()
        )
        means = {
            (r["sub"], r["cid"], r["sdim"]): _trunc_div(r["s"], r["cnt"])
            for r in sums
        }
        book = [
            (s, cid, [means.get((s, cid, d), v) for d, v in enumerate(carr)])
            for s, cid, carr in book
        ]

    cent = codes.sparkSession.createDataFrame(
        book, "sub bigint, cid bigint, carr array<bigint>"
    )
    return cent, nearest_centroids(codes, book), subdim


def _trunc_div(a: int, b: int) -> int:
    """Spark's `div` for b > 0: integer division truncating toward
    zero (DuckDB `//` on integers, the oracles' mean)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _code_matrix(codes, dim: int):
    """int64 (n, dim) matrix of n code arrays. Ragged or NULL codes
    are malformed input and fail with the named message callers pin
    (semdedup's contract) instead of a raw numpy error."""
    import numpy as np

    try:
        return np.asarray(
            [np.asarray(c, dtype=np.int64) for c in codes], dtype=np.int64
        ).reshape(len(codes), dim)
    except (ValueError, TypeError):
        lens = sorted({"null" if c is None else str(len(c)) for c in codes})
        raise ValueError(
            f"ragged embedding lengths {lens} — every code must have "
            f"the codebook's dimension {dim}"
        ) from None


def nearest_centroids(codes: DataFrame, book: list) -> DataFrame:
    """`codes` plus `pq`: each code's nearest centroid in every
    subspace, the M-array of sub-centroid ids, with every input column
    carried through — the ONE
    assignment kernel of PQ encoding, K-means (M=1) and streaming
    cluster routing. `book` is driver-side codebook state, (sub, cid,
    carr) tuples (`pq_codebook_state`). One Arrow numpy pass per
    batch: no join, no corpus shuffle. Exact: int64 squared-L2 sums,
    and each subspace's centroids sorted by cid, so `argmin` (first
    minimum) breaks ties to the smallest cid — the oracles' (dist,
    cid) order. A row against an empty codebook fails with a named
    error, as do ragged or NULL codes."""
    import numpy as np

    by_sub: dict[int, list] = {}
    for sub, cid, carr in sorted(book):
        by_sub.setdefault(sub, []).append((cid, carr))
    subs = [
        (
            np.asarray([cid for cid, _ in rows], dtype=np.int64),
            np.asarray([carr for _, carr in rows], dtype=np.int64),
        )
        for _, rows in sorted(by_sub.items())
    ]
    subdim = subs[0][1].shape[1] if subs else 0
    dim = len(subs) * subdim

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(pq=pd.Series([], dtype="object"))
                continue
            if not subs:
                raise ValueError(
                    "empty codebook: there is no centroid to assign "
                    "codes to"
                )
            x = _code_matrix(pdf["code"], dim)
            pq = np.empty((len(pdf), len(subs)), dtype=np.int64)
            for s, (cids, cmat) in enumerate(subs):
                sub = x[:, s * subdim : (s + 1) * subdim]
                d2 = ((sub[:, None, :] - cmat[None, :, :]) ** 2).sum(
                    axis=2
                )
                pq[:, s] = cids[d2.argmin(axis=1)]
            yield pdf.assign(pq=list(pq))

    schema = StructType(
        [*codes.schema.fields, StructField("pq", ArrayType(LongType()))]
    )
    return codes.mapInPandas(kernel, schema)


def pq_codebook_state(cent: DataFrame) -> list:
    """Collect a trained codebook frame (sub, cid, carr) as driver
    model state — (sub, cid, carr) tuples, M·K·subdim ints — the
    train-offline/serve-online boundary, and the one state form that
    `nearest_centroids`, the ADC serving tiers and
    `clustering.assign_stream` take."""
    return [
        (int(r["sub"]), int(r["cid"]), [int(v) for v in r["carr"]])
        for r in cent.collect()
    ]


def adc_topk(
    cent: DataFrame,
    coded: DataFrame,
    m: int,
    subdim: int,
    topk: int = 20,
) -> DataFrame:
    """ADC serving audit against the query = the corpus vector with
    the smallest vec_id: per candidate, the PQ-approximated squared
    L2 (M lookups into the per-query distance table) NEXT TO the
    exact int8 squared L2 — top-``topk`` by (adc, vec_id), so the
    result quantifies PQ's approximation on the very rows it would
    serve."""
    q = coded.orderBy("vec_id").limit(1).select(
        F.col("code").alias("qcode")
    )
    # per-query LUT: (sub, cid) → squared L2 between the query's
    # subvector and that sub-centroid; M·K rows of model state
    lut = cent.crossJoin(F.broadcast(q)).select(
        "sub",
        "cid",
        F.aggregate(
            F.zip_with(
                F.col("carr"),
                F.slice(
                    F.col("qcode"),
                    (F.col("sub") * subdim + 1).cast("int"),
                    subdim,
                ),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("d"),
    )
    lut1 = lut.agg(
        F.collect_list(F.struct("sub", "cid", "d")).alias("lut")
    )
    scored = (
        coded.crossJoin(F.broadcast(lut1))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.aggregate(
                F.col("lut"),
                F.lit(0).cast("bigint"),
                lambda acc, e: acc
                + F.when(
                    e["cid"]
                    == F.element_at(
                        "pq", (e["sub"] + 1).cast("int")
                    ),
                    e["d"],
                ).otherwise(F.lit(0).cast("bigint")),
            ).alias("adc_dist"),
            F.aggregate(
                F.zip_with(
                    F.col("code"),
                    F.col("qcode"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("exact_dist"),
        )
    )
    return scored.orderBy("adc_dist", "vec_id").limit(topk)


# ---------------------------------------------------------------------------
# IVF-PQ: the production ANN composition — PQ codes stored inside the
# partition-pruned IVF lists (FAISS IVFx,PQy without residual
# encoding; the documented deviation keeps the one certified int8
# derivation and lets the SQL oracle replay the whole build)
# ---------------------------------------------------------------------------


def persist_ivf_pq(
    emb: DataFrame,
    path: str,
    coarse_cents: list,
    vec_col: str = "embedding",
) -> tuple[list, int]:
    """Build the IVF-PQ serving layout: coarse-assign every vector to
    its IVF list on the FLOAT vector (the same quantizer as every
    other layout builder), train the global sub-codebooks on the int8
    codes (`pq_train_encode_codes` — one joint Lloyd loop) and
    persist (vec_id, pq, code, list_id) hive-partitioned by list_id.
    Returns (pq_codebook_state, subdim) — the model state a server
    needs. The stored row is M small ints: the compression floor
    below IVF-SQ8 (M bytes vs d bytes), which at 100 TB is the
    difference between an index that fits hot storage and one that
    doesn't."""
    from ..io import ensure_min_parallelism, write_partitioned
    from .similarity import _assign_udf

    assign = _assign_udf(emb.sparkSession, coarse_cents)
    # the list is assigned ahead of the fan-out and rides through the
    # Lloyd loop with the code, so the layout rows need no join back
    lists = ensure_min_parallelism(
        emb.select(
            "vec_id", vec_col, assign(F.col(vec_col)).alias("list_id")
        )
    )
    codes = _int8_coded(lists, vec_col, fan_out=False).select(
        "vec_id", "list_id", F.col("codes").alias("code")
    )
    cent, coded, subdim = pq_train_encode_codes(codes)
    # the full int8 codes ride in their own parquet COLUMN: the
    # pure-ADC tier never reads it (column pruning keeps its scan M
    # bytes/vector), the refine tier reads it only for its pruned
    # lists — one layout, two serving costs
    rows = coded.select("vec_id", "pq", "code", "list_id")
    write_partitioned(rows, path, ["list_id"])
    return pq_codebook_state(cent), subdim


def _lut_from_codes(codes, pq_state: list, subdim: int) -> list:
    """Flattened ADC lookup table for an integer code vector: entry
    [sub·K + cid] = exact integer squared L2 between the code's
    subvector and that sub-centroid — the query side of the symmetric
    code-vs-code distance."""
    import numpy as np

    lut = [0] * (PQ_M * PQ_K)
    for sub, cid, carr in pq_state:
        qsub = codes[sub * subdim : (sub + 1) * subdim]
        diff = qsub - np.asarray(carr, dtype="int64")
        lut[sub * PQ_K + cid] = int((diff * diff).sum())
    return lut


def _adc_candidates(
    spark, layout_path: str, probes: DataFrame, rename: dict, *keep: str
) -> DataFrame:
    """(query_id, cand_id, *keep, adc_dist) for every candidate in a
    probe row's list: the PARTITION-PRUNED layout scan joined to the
    broadcast probe frame, self-pairs dropped, and a candidate's
    distance is M lookups into its probe row's `lut`, never a
    d-dimensional product."""
    from .similarity import _pruned_layout

    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.element_at(
            F.col("lut"),
            (
                i * PQ_K
                + F.element_at(F.col("cand_pq"), (i + 1).cast("int"))
                + 1
            ).cast("int"),
        ),
    )
    corpus = _pruned_layout(spark, layout_path, probes, rename)
    return (
        corpus.join(F.broadcast(probes), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", *keep, adc.alias("adc_dist"))
    )


def _per_query_topk(
    scored: DataFrame, by: str, k: int, *cols: str
) -> DataFrame:
    """Each query's first k rows by (`by`, cand_id), ranked 1..k in a
    bigint `rnk` column; the one shuffle is this window, with its
    partial limit applied below the exchange."""
    w = Window.partitionBy("query_id").orderBy(by, "cand_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(*cols, "rnk")
    )


def serve_ann_topk_ivf_pq(
    spark,
    queries_df: DataFrame,
    layout_path: str,
    coarse_cents: list,
    pq_state: list,
    subdim: int,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ADC neighbors for a request batch against the persisted
    IVF-PQ layout: the scan is PARTITION-PRUNED to the batch's probe
    lists (same `_select_probe_lists` arithmetic as every other IVF
    tier), the broadcast probe frame carries each query's M·K-entry
    LUT, and a candidate's distance is M lookups into it — never a
    d-dimensional product. What shuffles is the per-query top-k
    partials below the one exchange. Probe-list selection, coarse
    assignment and the LUT arithmetic each mirror one SQL expression
    in the `ann_ivf_pq_adc` oracle, so the PRUNED result value-hashes
    cross-engine."""
    from .similarity import _query_probes

    rows = []
    q_rows = queries_df.select("vec_id", vec_col).collect()
    for qid, codes, lists in _query_probes(
        q_rows, coarse_cents, n_probe, vec_col
    ):
        lut = _lut_from_codes(codes, pq_state, subdim)
        rows += [(qid, int(cid), lut) for cid in lists]
    probes = spark.createDataFrame(
        rows, "query_id long, list_id int, lut array<long>"
    )
    scored = _adc_candidates(
        spark, layout_path, probes, {"vec_id": "cand_id", "pq": "cand_pq"}
    )
    return _per_query_topk(
        scored, "adc_dist", k, "query_id", "cand_id", "adc_dist"
    )


PQ_REFINE_R = 200  # ADC shortlist depth ahead of the exact rescore


def serve_ann_topk_ivf_pq_refine(
    spark,
    queries_df: DataFrame,
    layout_path: str,
    coarse_cents: list,
    pq_state: list,
    subdim: int,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = PQ_REFINE_R,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with EXACT REFINE (the FAISS `refine` stage — how
    production serves PQ): ADC ranks the pruned lists' candidates
    cheaply (M lookups each), the top-``shortlist`` per query are
    re-scored with the exact int8 squared L2 on the full codes, and
    the final top-k follows the exact order. ADC's quantization
    error (severe at the audit-scale M=4, K=8 codebooks — measured
    recall@5 ≈ 0.1 for pure ADC) only costs recall when a true
    neighbor falls OUTSIDE the shortlist, so the refine recovers
    nearly all of it at shortlist/corpus of the compute. The exact
    codes are read ONLY for pruned lists (columnar layout — the
    pure-ADC tier's scan never touches that column)."""
    from .similarity import _query_probes

    rows = []
    q_rows = queries_df.select("vec_id", vec_col).collect()
    for qid, codes, lists in _query_probes(
        q_rows, coarse_cents, n_probe, vec_col
    ):
        lut = _lut_from_codes(codes, pq_state, subdim)
        rows += [(qid, int(cid), lut, codes.tolist()) for cid in lists]
    probes = spark.createDataFrame(
        rows,
        "query_id long, list_id int, lut array<long>, "
        "qcode array<long>",
    )
    scored = _adc_candidates(
        spark,
        layout_path,
        probes,
        {"vec_id": "cand_id", "pq": "cand_pq", "code": "cand_code"},
        "cand_code",
        "qcode",
    )
    short = _per_query_topk(
        scored, "adc_dist", shortlist,
        "query_id", "cand_id", "cand_code", "qcode", "adc_dist",
    )
    exact = F.aggregate(
        F.zip_with(
            F.col("qcode"),
            F.col("cand_code"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    refined = short.select(
        "query_id",
        "cand_id",
        "adc_dist",
        exact.alias("exact_dist"),
    )
    return _per_query_topk(
        refined, "exact_dist", k,
        "query_id", "cand_id", "adc_dist", "exact_dist",
    )


# ---------------------------------------------------------------------------
# Residual-encoded IVF-PQ (FAISS IVFx,PQy proper): PQ trains on the
# residual code − coarse-centroid code, so the sub-codebooks spend
# their K centroids on the WITHIN-list spread instead of re-encoding
# the coarse offset each list already captured. Same exact-integer
# arithmetic (residuals are bigint subtractions of two int8-coded
# vectors, range ±254), so the SQL oracle replays the whole build.
# ---------------------------------------------------------------------------


def centroid_codes(coarse_cents: list) -> list:
    """int8 codes of the coarse centroids under each centroid's OWN
    absmax scale — the one quantizer (`_int8_codes_np`) applied to
    model state (n_list tiny vectors, driver-side). Returns
    [(list_id, [code])]."""
    return [
        (int(cid), [int(x) for x in _int8_codes_np(v)])
        for cid, v in coarse_cents
    ]


def persist_ivf_pq_residual(
    emb: DataFrame,
    path: str,
    coarse_cents: list,
    vec_col: str = "embedding",
) -> tuple[list, int]:
    """Build the residual IVF-PQ serving layout: coarse-assign every
    vector (same float quantizer as every other layout builder),
    subtract the assigned centroid's int8 code from the vector's int8
    code — a pure `zip_with` against one broadcast n_list-row frame,
    no corpus shuffle — train the M sub-codebooks on those residual
    codes (`pq_train_encode_codes`, the byte-same Lloyd loop as the
    raw tier), and persist its final assignment as (vec_id, pq, code,
    list_id) hive-partitioned by list_id. `pq` indexes RESIDUAL
    sub-centroids; `code` keeps the full int8 codes in their own
    column for the refine tier (the ADC scan column-prunes it away).
    Returns (pq_codebook_state, subdim)."""
    from ..io import ensure_min_parallelism, write_partitioned
    from .similarity import _assign_udf

    spark = emb.sparkSession
    assign = _assign_udf(spark, coarse_cents)
    # the list is assigned on the float vector ahead of the fan-out;
    # the code kernel then runs behind that exchange
    lists = ensure_min_parallelism(
        emb.select(
            "vec_id", vec_col, assign(F.col(vec_col)).alias("list_id")
        )
    )
    ccodes = spark.createDataFrame(
        centroid_codes(coarse_cents),
        "list_id int, ccode array<bigint>",
    )
    # the Lloyd loop trains on the residual `code`; the list and the
    # full code ride through it, so the layout rows need no join back
    resid = (
        _int8_coded(lists, vec_col, fan_out=False)
        .join(F.broadcast(ccodes), "list_id")
        .select(
            "vec_id",
            "list_id",
            F.col("codes").alias("full_code"),
            F.zip_with("codes", "ccode", lambda a, b: a - b).alias("code"),
        )
    )
    cent, coded, subdim = pq_train_encode_codes(resid)
    rows = coded.select(
        "vec_id", "list_id", F.col("full_code").alias("code"), "pq"
    )
    write_partitioned(rows, path, ["list_id"])
    return pq_codebook_state(cent), subdim


def serve_ann_topk_ivf_pq_residual(
    spark,
    queries_df: DataFrame,
    layout_path: str,
    coarse_cents: list,
    pq_state: list,
    subdim: int,
    k: int = 5,
    n_probe: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k ADC neighbors against the RESIDUAL IVF-PQ layout. The
    one structural difference from `serve_ann_topk_ivf_pq`: the ADC
    lookup table is per-(query, probe-list) — the query's residual
    against THAT list's centroid code feeds the table — so the
    broadcast probe frame carries n_probe tables per query
    (n_probe·M·K ints of model state) and a candidate's distance is
    still M lookups, resolved within its own list. Approximates
    ||q_code − x_code||² = ||(q−c) − (x−c)||² with the quantizer
    applied to the small within-list residual instead of the whole
    vector — the standard FAISS composition, and the reason the same
    K=16 codebooks rank materially better than the raw-ADC tier
    (recall floors pinned side by side in tests/test_ivf_pq.py)."""
    import numpy as np

    from .similarity import _query_probes

    ccodes = {
        cid: np.asarray(c, dtype="int64")
        for cid, c in centroid_codes(coarse_cents)
    }
    rows = []
    q_rows = queries_df.select("vec_id", vec_col).collect()
    for qid, codes, lists in _query_probes(
        q_rows, coarse_cents, n_probe, vec_col
    ):
        rows += [
            (
                qid,
                int(cid),
                _lut_from_codes(codes - ccodes[int(cid)], pq_state, subdim),
            )
            for cid in lists
        ]
    probes = spark.createDataFrame(
        rows, "query_id long, list_id int, lut array<long>"
    )
    scored = _adc_candidates(
        spark, layout_path, probes, {"vec_id": "cand_id", "pq": "cand_pq"}
    )
    return _per_query_topk(
        scored, "adc_dist", k, "query_id", "cand_id", "adc_dist"
    )
