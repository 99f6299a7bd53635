"""Boundary-case correctness on CRAFTED fixtures, oracle-compared.

The synthetic sf* documents are all comfortably longer than the
chunking window, so window/stride boundary arithmetic (empty text,
one token, exactly-window, window+1, exact multiples, ragged tails)
never gets exercised by the driver's gate. This suite builds a tiny
documents.parquet with exactly those shapes, symlinks the remaining
tables from sf0.001, and runs the SAME registered query + DuckDB
oracle through the harness — both engines on both the crafted corpus
and the boundary semantics.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from jly_flink_spark.io import TABLES

from .oracle_harness import compare_query

SF_SRC = "/root/testdata/sf0.001"

# window=16, stride=8 (training_queries.CHUNK_TOKENS/CHUNK_STRIDE)
_CASES = [
    (0, ""),                       # empty → no chunks at all
    (1, "   "),                    # whitespace-only → zero tokens
    (2, "one"),                    # single token
    (3, " ".join(f"t{i}" for i in range(15))),   # window-1
    (4, " ".join(f"t{i}" for i in range(16))),   # exactly window
    (5, " ".join(f"t{i}" for i in range(17))),   # window+1 → 2 chunks
    (6, " ".join(f"t{i}" for i in range(24))),   # window+stride
    (7, " ".join(f"t{i}" for i in range(25))),   # +1 past that
    (8, " ".join(f"t{i}" for i in range(32))),   # 2 windows exactly
    (9, " ".join(f"t{i}" for i in range(33))),   # ragged tail of 1
    (10, "a  b   c"),              # runs of spaces → empty splits
    (11, "x\ty z\nw"),             # tabs/newlines are token chars
]


@pytest.fixture(scope="module")
def edge_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    for t in TABLES:
        if t == "documents":
            continue
        os.symlink(
            os.path.join(SF_SRC, f"{t}.parquet"),
            os.path.join(str(d), f"{t}.parquet"),
        )
    pdf = pd.DataFrame(
        {
            "doc_id": [c[0] for c in _CASES],
            "text": [c[1] for c in _CASES],
            "lang": ["en"] * len(_CASES),
            "source": ["edge"] * len(_CASES),
            "n_chars": [len(c[1]) for c in _CASES],
        }
    )
    pdf.to_parquet(os.path.join(str(d), "documents.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "chunk_documents_overlap",
        "udtf_chunk_documents",
        "batch_by_token_budget",
        "text_token_bpe",
        "udf_mapinpandas_tokens",
        "text_bigram_logprob",
        "text_unigram_logprob",
        # near-identical tiny docs → dense Hamming pairs; empty and
        # whitespace-only docs have NO signature (token-less) and must
        # drop identically on both engines
        "dedup_simhash_hamming",
        # shared "t0 t1 t2 ..." prefixes make cross-doc duplicate
        # chunks dense; token-less docs must drop on both engines
        "curation_dup_chunk_fraction",
        # fixed-point GD: empty/whitespace-only docs drive the
        # x_short hinge to its cap and n_tok=0 through the
        # greatest(n_tok,1) guard — both engines must agree through
        # all 8 epochs on a corpus that is ~all rule-negative
        pytest.param(
            "quality_classifier_train", marks=pytest.mark.slow
        ),  # 20 s of unrolled GD epochs on the boundary corpus
        # the learned-gate composite on the same corpus: the whole
        # dedup→decontaminate→train→gate chain over token-less and
        # boundary-length docs, ending in a tiny (likely empty)
        # survivor set both engines must agree on
        "pipeline_training_corpus_v2",
        # SINGLE source ⇒ no source pairs ⇒ both engines must emit
        # the empty overlap matrix (the a<b self-join edge)
        "agg_kmv_source_overlap",
        # token-less docs have no LM rows and must drop from the
        # ranking identically; tiny per-lang counts exercise the
        # ((rn-1)·k) div n bucket arithmetic at n < k
        "curation_lm_quantile_buckets",
        # round-6 second wave: token-less docs must DROP from the
        # per-lang rule counts (no token rows → no per-doc stats) on
        # both engines, not appear as all-rules-failed
        "curation_gopher_rules",
        # tf-idf over near-identical tiny docs: df ≈ N drives idf to
        # ln(1)=0 (score ties broken on the term string); empty docs
        # contribute no rows
        "text_tfidf_topk",
        # hashed-unigram weights when the 'en' target is the WHOLE
        # corpus → the source side is empty and every smoothed s_b
        # is the 1/(0+256) floor; token-less docs drop from n_docs
        "mixture_dsir_weights",
        # dense duplicate chunks → near-clique graph: coefficient
        # buckets at the c=1 cap (20T div d(d-1) = 10 → least(,9))
        "graph_clustering_coeff_buckets",
        # banding vs exact truth when almost everything is a dup:
        # both pair sets dense, tp/fp/fn on the boundary shapes
        "dedup_lsh_eval_metrics",
        # non-numeric source suffix ('edge' → TRY_CAST NULL → the
        # ELSE domain) must route identically on both engines
        "training_interleave_order",
        # near-identical tiny docs: estimator agreement and
        # containment both sit at their 100% boundaries (est = K/K,
        # containment decile 9 capped by least()); token-less docs
        # have no signatures and drop from the candidate space
        "dedup_minhash_estimate_accuracy",
        "dedup_containment_pairs",
        # round-7: winnowing needs k+w-1 = 6 tokens for a full
        # window — the 0/1/3-token cases and the shared "t0 t1 ..."
        # prefixes sit exactly on the selection boundaries, and the
        # pair query's df cap must drop boilerplate fingerprints
        # identically on both engines
        "text_winnowing_fingerprints",
        "dedup_winnow_pairs",
        # Zipf head smaller than its own window (n <= 2 terms per
        # source → den=0 rows filtered identically); empty docs
        # contribute no terms
        "text_zipf_fit",
        # empty text → w floors at greatest(n_chars, 1); doc 0 is
        # also the malformed-media doc — both engines must draw the
        # same deterministic sample
        "sample_weighted_reservoir",
        # the BM25 leg is likely EMPTY on this corpus (probe terms
        # absent) — RRF must degrade to the LM-only list through the
        # full-outer fuse on both engines
        "retrieval_rrf_fusion",
        # empty/whitespace docs become zero-body containers (still
        # structurally valid); doc 0 is the planted-truncation case
        "multimodal_extract_features",
        "multimodal_frame_counts",
        # the shared duplicate-chunk builder (`_dup_chunk_frame`):
        # token-less docs yield one clen = 0 chunk that must drop,
        # 1-token and ragged-tail docs yield short final chunks, and
        # the shared "t0 t1 ..." prefixes make a dense near-clique;
        # directed (pagerank, bfs) and undirected (triangles, degree,
        # k-core) edge lists, staged and unstaged
        "graph_pagerank_dup_chunks",
        "graph_triangles_dup_chunks",
        "graph_bfs_reachability",
        "graph_degree_distribution",
        "graph_kcore_peel",
        # the same chunk grid without the df cap
        "text_boilerplate_chunks",
        # the merge learner: token-less docs drop from the vocabulary
        # and the apply, tab/newline characters are symbols, the
        # one-character words "a"/"b"/"c" have no pairs, and the
        # shared "t0 t1 ..." prefixes make dense tied pair counts
        "bpe_train_merges",
        "bpe_tokenize_corpus",
        "wordpiece_train_merges",
        "wordpiece_tokenize_corpus",
    ],
)
def test_boundary_shapes_match_oracle(spark, edge_sf_dir, name):
    res = compare_query(spark, name, edge_sf_dir)
    assert res.ok, str(res)


def test_overlap_chunks_cover_every_token(spark, edge_sf_dir):
    """Structural invariant on the crafted corpus: chunk 0 starts at
    token 1, consecutive chunks start stride apart, and the union of
    windows covers all n tokens (tail included exactly once more)."""
    from jly_flink_spark.plans import REGISTRY

    rows = (
        REGISTRY["chunk_documents_overlap"]
        .spark_fn(spark, edge_sf_dir)
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 not in by_doc and 1 not in by_doc  # token-less docs drop
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        # every chunk except the last is a full window; the last
        # covers the remaining tail (start-clamped, 1..16 tokens)
        for c in chunks[:-1]:
            assert c["n_tokens"] == 16
        assert 1 <= chunks[-1]["n_tokens"] <= 16
        # overlap: chunk i's last (16-8) tokens == chunk i+1's first
        for a, b in zip(chunks, chunks[1:]):
            a_toks = a["chunk"].split(" ")
            b_toks = b["chunk"].split(" ")
            assert a_toks[8:] == b_toks[: len(a_toks) - 8]


@pytest.fixture(scope="module")
def edge_emb_dir(tmp_path_factory):
    """Crafted embeddings: a zero vector and a sub-quantization-unit
    vector (quantized norm 0 → cosine undefined; the kernel must DROP
    them — an unguarded kernel emitted +inf for nonzero dots where
    DuckDB's NULL division dropped the pair), an identical pair
    (cosine exactly 1), an antipodal pair, and an orthogonal one."""
    import numpy as np

    d = tmp_path_factory.mktemp("edge_emb")
    for t in TABLES:
        if t == "embeddings":
            continue
        os.symlink(
            os.path.join(SF_SRC, f"{t}.parquet"),
            os.path.join(str(d), f"{t}.parquet"),
        )
    dim = 64
    base = np.zeros(dim, dtype="float32"); base[0] = 1.0
    anti = -base
    orth = np.zeros(dim, dtype="float32"); orth[1] = 1.0
    tiny = np.full(dim, 5e-5, dtype="float32")  # floor(x²·1e8) = 0
    vecs = [
        (0, np.zeros(dim, dtype="float32")),  # exact zero vector
        (1, tiny),                            # quantizes to zero norm
        (2, base),
        (3, base.copy()),                     # identical → cosine 1
        (4, anti),                            # cosine -1
        (5, orth),                            # cosine 0
    ]
    pdf = pd.DataFrame(
        {
            "vec_id": [v[0] for v in vecs],
            "embedding": [v[1].tolist() for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    pdf.to_parquet(os.path.join(str(d), "embeddings.parquet"))
    return str(d)


def test_near_dup_kernel_zero_norm_engine_consistent(spark, edge_emb_dir):
    """dedup_embedding_cosine (numpy kernel path): zero-quantized-norm
    vectors must be dropped before scoring, so the engines agree
    exactly (this test caught the unguarded kernel keeping +inf
    cosines)."""
    res = compare_query(spark, "dedup_embedding_cosine", edge_emb_dir)
    assert res.ok, str(res)
    from jly_flink_spark.plans import REGISTRY

    rows = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in REGISTRY["dedup_embedding_cosine"]
        .spark_fn(spark, edge_emb_dir)
        .collect()
    }
    assert (2, 3) in rows and abs(rows[(2, 3)] - 1.0) < 1e-9
    assert all(0 not in pair and 1 not in pair for pair in rows)


@pytest.mark.parametrize(
    "name",
    [
        "ann_cosine_lsh",
        "ann_cosine_topk",
        "ann_cosine_ivf_exact",
        # int8 drops only the EXACT-zero vector (all-zero codes); the
        # sub-quantization-unit vector has valid codes on both engines
        "ann_cosine_int8_adc",
        # pruned IVF-SQ8: seed-centroid build + assignment + probe
        # selection must also mirror on a corpus where the ZERO vector
        # is itself a centroid (cqn guarded at 1 on both engines)
        "ann_cosine_ivf_int8",
        # declarative K-means: k=8 seeds on a 6-vector corpus (short
        # seed set), a zero vector AND an identical seed pair (its
        # duplicate cluster can never win the smaller-cid tiebreak →
        # permanently empty, keeps seed coords) — squared-L2 on int8
        # codes is exact, so both engines must agree bit-for-bit
        "embedding_kmeans_clusters",
        # SemDeDup: zero-norm vectors must pair with nothing while
        # still appearing (undupped) in the output, and the identical
        # seed pair collapses to one cluster via the cid tiebreak
        "dedup_semantic_clusters",
        # PQ: 6 vectors seed 6 of the 16 centroids per subspace, the
        # zero vector's all-zero subvectors and the identical pair's
        # tied subvectors go through the same nearest-centroid kernel
        "embedding_pq_adc",
        # MMR: the int8 ADC candidates of each query, then the greedy
        # picks over their pairwise code cosines
        "ann_mmr_rerank",
        # silhouette: codes and assignment from one K-means coded
        # frame, with an empty cluster and the zero vector's m2 = 0
        "embedding_silhouette_by_cluster",
        # IVF-PQ layouts: coarse assignment, PQ codes (raw and
        # residual) and the exact-refine rescore on the same corpus
        "ann_ivf_pq_adc",
        "ann_ivf_pq_refine",
        "ann_ivf_pq_residual",
    ],
)
def test_ann_oracles_agree_on_degenerate_vectors(spark, edge_emb_dir, name):
    """Every SQL-expressible ANN oracle mirrors the engine's
    zero-norm drop (qn > 0 on both query and candidate sides), so the
    full value-hash comparison holds even on a corpus with zero and
    sub-quantization-unit vectors — not just on clean driver data.
    Before _ann_oracle gained the guard, NULL-cosine rows shifted its
    row_number ranks on exactly this corpus."""
    res = compare_query(spark, name, edge_emb_dir)
    assert res.ok, str(res)


@pytest.mark.parametrize(
    "name", ["ann_cosine_topk", "ann_cosine_lsh", "ann_cosine_ivf"]
)
def test_ann_paths_survive_zero_norm_vectors(spark, edge_emb_dir, name):
    """The expression-side ANN paths must not raise under Spark's
    default ANSI mode when the corpus (or the query set — ids 0/1 ARE
    in _ANN_QUERY_IDS) contains zero-quantized-norm vectors, and such
    vectors must appear in no result row."""
    from jly_flink_spark.plans import REGISTRY

    rows = REGISTRY[name].spark_fn(spark, edge_emb_dir).collect()
    ids_seen = {r["query_id"] for r in rows} | {r["cand_id"] for r in rows}
    assert not ids_seen & {0, 1}, rows
    # the identical pair must surface for the valid query ids
    by_query = {r["query_id"] for r in rows}
    assert {2, 3} <= by_query, rows


# ---------------------------------------------------------------------------
# Events fixture: quantified row-pattern boundary semantics
# ---------------------------------------------------------------------------

# Per-user event-type sequences, events 10 s apart. Hand-derived
# MATCH_RECOGNIZE `view+ click? purchase` (greedy, skip past last
# row) outcomes in the comments — the fixture exercises exactly the
# shapes where naive implementations diverge from a regex engine.
_PATTERN_SEQS = {
    1: "v v p p",        # 1 match: greedy v+ eats both views; the
                         #   2nd purchase can't start a match
    2: "v c c p",        # 0: click? admits at most ONE click — the
                         #   regex backtracks and fails
    3: "v p v p",        # 2 disjoint matches
    4: "c p",            # 0: must start with a view
    5: "v c p",          # 1 match, with click
    6: "v",              # 0: dangling view
    7: "v v v c p p",    # 1 match: 3 views + click + 1st purchase
    8: "p v",            # 0: wrong order
    9: "v c v p",        # 1 match: the SECOND view + purchase; the
                         #   first view's click is followed by a
                         #   view, so that attempt fails
}
_TYPE = {"v": "view", "c": "click", "p": "purchase"}


@pytest.fixture(scope="module")
def edge_events_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_events_sf")
    for t in TABLES:
        if t == "events":
            continue
        os.symlink(
            os.path.join(SF_SRC, f"{t}.parquet"),
            os.path.join(str(d), f"{t}.parquet"),
        )
    rows = []
    eid = 0
    for user, seq in _PATTERN_SEQS.items():
        for i, s in enumerate(seq.split()):
            rows.append(
                {
                    "event_id": eid,
                    "ts": pd.Timestamp("2024-01-01")
                    + pd.Timedelta(seconds=10 * i),
                    "user_id": user,
                    "event_type": _TYPE[s],
                    "value": float(i),
                    "props": "{}",
                }
            )
            eid += 1
    pd.DataFrame(rows).to_parquet(
        os.path.join(str(d), "events.parquet")
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "events_pattern_quantified",
        # the fixed-width strict-adjacency pattern on the same
        # boundary shapes (u5 'v c p' is its only hit)
        "events_pattern_view_click_buy",
    ],
)
def test_pattern_boundaries_match_oracle(
    spark, edge_events_sf_dir, name
):
    res = compare_query(spark, name, edge_events_sf_dir)
    assert res.ok, str(res)


def test_pattern_quantified_hand_derived(spark, edge_events_sf_dir):
    """The run-algebra compilation must reproduce the hand-derived
    regex-engine outcomes on every fixture shape."""
    from jly_flink_spark.plans import REGISTRY

    [r] = (
        REGISTRY["events_pattern_quantified"]
        .spark_fn(spark, edge_events_sf_dir)
        .collect()
    )
    assert r["n_matches"] == 6
    assert r["n_users"] == 5          # users 1, 3, 5, 7, 9
    assert r["n_views_consumed"] == 9
    assert r["n_with_click"] == 2     # users 5 and 7
    assert r["max_views"] == 3        # user 7's run
    assert r["min_span_s"] == 10      # u3 / u9 single-step matches
    assert r["max_span_s"] == 40      # u7: view@0 → purchase@40
