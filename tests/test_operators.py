"""Unit tests for the north-star operators on hand-built corpora with
known goldens (dedup/similarity/text/multimodal)."""

import pytest
from pyspark.sql import functions as F

from jly_flink_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "The quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "The  quick   brown fox jumps over the lazy dog"),  # ws-normalized dup
    (4, "Der Hund ist nicht ein Fuchs und das ist gut"),
    (5, "completely different content about spark engines"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    groups = {
        r["canonical_doc_id"]: r["n_copies"]
        for r in dedup.exact_dedup_groups(docs).collect()
    }
    # docs 1,2,3 collapse (whitespace-normalized fingerprint)
    assert groups[1] == 3
    assert groups[4] == 1 and groups[5] == 1


def test_exact_dedup_keep_first(docs):
    kept = sorted(
        r["doc_id"] for r in dedup.exact_dedup_keep_first(docs).collect()
    )
    assert kept == [1, 4, 5]


def test_minhash_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_candidate_pairs(docs).collect()
    }
    # identical token sets must share every band
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    # unrelated docs should not pair with the fox docs
    assert (1, 5) not in pairs


def test_jaccard_exact_values(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, min_jaccard=0.9).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical token sets
    assert pairs[(1, 3)] == 1.0


def test_simhash_identical_docs_collide(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    assert 0 <= sigs[1] < 2**16


def test_bucket_cap_drops_degenerate_buckets(spark, monkeypatch):
    """The shared LSH skew guard: a bucket larger than MAX_LSH_BUCKET
    (a giant duplicate group — exact dedup's job) must be dropped
    whole, emitting NO pairs, on the one helper both the MinHash and
    SimHash-Hamming paths use."""
    rows = [(i, "b0", ) for i in range(5)]
    items = spark.createDataFrame(rows, "doc_id long, band_key string")
    monkeypatch.setattr(dedup, "MAX_LSH_BUCKET", 3)
    assert dedup._expand_bucket_pairs(
        items, ["band_key"], "doc_id"
    ).count() == 0
    monkeypatch.setattr(dedup, "MAX_LSH_BUCKET", 10)
    got = {
        (r["a"], r["b"])
        for r in dedup._expand_bucket_pairs(
            items, ["band_key"], "doc_id"
        ).collect()
    }
    assert got == {(a, b) for a in range(5) for b in range(a + 1, 5)}


def test_simhash_hamming_k_bound_rejected(docs):
    with pytest.raises(ValueError, match="completeness"):
        dedup.simhash_hamming_pairs(docs, k=4)


def test_simhash_hamming_matches_bruteforce(spark, sf_dir):
    """The banding claim itself: on a real corpus slice, the banded
    pair set must EQUAL brute-force all-pairs Hamming<=k over the same
    60-bit signatures — pigeonhole says k=3 diffs can touch at most 3
    of 4 bands, so no qualifying pair can be missed, and the verify
    filter keeps no extra pair."""
    from jly_flink_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = {
        r["doc_id"]: r["sig"]
        for r in dedup.simhash_wide(docs).collect()
    }
    assert all(0 <= s < 2**60 for s in sigs.values())
    ids = sorted(sigs)
    brute = {
        (a, b, (sigs[a] ^ sigs[b]).bit_count())
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (sigs[a] ^ sigs[b]).bit_count() <= dedup.K_HAMMING
    }
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_hamming_pairs(docs).collect()
    }
    assert banded == brute
    assert brute, "corpus slice has no near-dup pairs — test is vacuous"


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in that house"),
            (2, "der hund und die katze ist nicht das problem"),
            (3, "le chat est une belle bete et les chiens"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred"] for r in df.select(
        "doc_id", text.lang_id(F.col("text")).alias("pred")
    ).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_token_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox is here and it is good")],
        "doc_id long, text string",
    )
    row = text.text_stats(df).collect()[0]
    assert row["n_tokens"] == 10
    assert row["n_stopwords"] >= 3
    assert row["quality"] == pytest.approx(1.0)
    assert len(row["fingerprint"]) == 32


def test_cosine_topk_orders_by_similarity(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0]),  # orthogonal to 0
        (3, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk_bruteforce(df, query_ids=[0], k=3).collect()
    ranked = [r["cand_id"] for r in sorted(out, key=lambda r: r["rnk"])]
    assert ranked[0] == 1 and ranked[-1] == 2
    cos = {r["cand_id"]: r["cosine"] for r in out}
    assert cos[1] > 0.99 and abs(cos[2]) < 1e-6


def test_int8_topk_matches_numpy_reference(spark, sf_dir):
    """The int8 ADC path must equal an independent numpy
    recomputation of the same quantization + integer cosine on a real
    corpus slice — formula-level verification, not just oracle-SQL
    agreement (which could share a bug)."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    tbl = tbl.iloc[:200]
    codes = {}
    for vid, emb in zip(tbl.vec_id, tbl.embedding):
        x = np.asarray(emb, dtype=np.float64)
        scale = max(np.abs(x).max(), 1e-12)
        codes[int(vid)] = np.floor(x * 127.0 / scale).astype(np.int64)
    expected = {}
    for q in (0, 1):
        qa = codes[q]
        qn = int(qa @ qa)
        scored = []
        for cid, qb in codes.items():
            if cid == q or int(qb @ qb) == 0 or qn == 0:
                continue
            cos = float(qa @ qb) / (
                np.sqrt(float(qn)) * np.sqrt(float(qb @ qb))
            )
            scored.append((cid, cos))
        scored.sort(key=lambda t: (-t[1], t[0]))
        expected[q] = [cid for cid, _ in scored[:5]]

    df = spark.createDataFrame(
        [(int(v), [float(x) for x in e]) for v, e in
         zip(tbl.vec_id, tbl.embedding)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.cosine_topk_int8(df, query_ids=[0, 1], k=5).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rnk"])):
        got.setdefault(r["query_id"], []).append(r["cand_id"])
    assert got == expected


def test_int8_topk_drops_all_zero_code_vectors(spark):
    """A vector whose components all quantize to 0 — impossible for
    absmax-scaled SELF codes unless the vector is exactly zero, where
    scale hits the 1e-12 floor — must vanish from both sides instead
    of raising on the zero-norm division."""
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # all-zero vector → all-zero codes
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk_int8(df, query_ids=[0, 2], k=5).collect()
    assert {r["query_id"] for r in out} == {0}
    assert {r["cand_id"] for r in out} == {1}


def test_ivf_full_probe_equals_bruteforce(spark):
    # 20 vectors on a few directions; probing every list must give
    # exactly the exhaustive result (IVF prunes lists, nothing else).
    vecs = [
        (i, [float(i % 5) + 1.0, float(i % 3), float(i % 7) * 0.5])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    exact = {
        (r["query_id"], r["rnk"]): r["cand_id"]
        for r in similarity.cosine_topk_bruteforce(
            df, query_ids=[0, 7], k=4
        ).collect()
    }
    ivf = {
        (r["query_id"], r["rnk"]): r["cand_id"]
        for r in similarity.cosine_topk_ivf(
            df, query_ids=[0, 7], k=4, n_list=4, n_probe=4
        ).collect()
    }
    assert ivf == exact


def test_ivf_pruned_probe_subset_of_corpus(spark):
    vecs = [
        (i, [1.0 if i < 10 else 0.0, 0.0 if i < 10 else 1.0, float(i) / 20])
        for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk_ivf(
        df, query_ids=[0], k=3, n_list=4, n_probe=2
    ).collect()
    assert 0 < len(out) <= 3
    # query 0 points along x; its 2 probed lists hold only x-ish vecs
    assert all(r["cand_id"] < 10 for r in out)


def test_lsh_bucket_deterministic(spark):
    vecs = [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    buckets = [
        r["b"]
        for r in df.select(
            similarity.lsh_bucket(F.col("embedding"), 4).alias("b")
        ).collect()
    ]
    assert buckets[0] == buckets[1]  # identical vectors, identical bucket
    assert 0 <= buckets[0] < 16


def test_multimodal_header_extraction(spark, sf_dir):
    """The encoded-media pipeline end to end: planted REAL container
    bytes round-trip through the Arrow-batched header parse to
    exactly the doc_id-derived fields; malformed (truncated) plants
    come back as typed NULL rows."""
    from jly_flink_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    media = multimodal.documents_as_encoded_media(docs)
    feats = multimodal.extract_media_headers(media)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows:
        _, want = multimodal._planted_fields(r["doc_id"])
        if r["doc_id"] % multimodal.MALFORMED_MOD == 0:
            assert (
                r["width"] is None
                and r["height"] is None
                and r["channels"] is None
                and r["sample_rate"] is None
            )
            assert r["n_bytes"] == multimodal.MALFORMED_LEN
        elif r["media_type"] == "wav":
            assert r["width"] is None and r["height"] is None
            assert r["channels"] == want["channels"]
            assert r["sample_rate"] == want["sample_rate"]
        else:
            assert r["width"] == want["width"]
            assert r["height"] == want["height"]
            assert r["channels"] == want["channels"]
            assert r["sample_rate"] is None


class TestSaltedJoin:
    def test_salted_join_equals_plain_join(self, spark):
        """The salted join must be a pure shuffle-layout change:
        identical output rows to the unsalted join on skewed data
        (5 hot event_type keys × a per-type dimension)."""
        from jly_flink_spark.io import load_table
        from jly_flink_spark.operators.skew import salted_join

        ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "event_type", "value"
        )
        dim = spark.createDataFrame(
            [(t, i) for i, t in enumerate(
                ["click", "view", "purchase", "signup", "error"]
            )],
            "event_type string, type_code int",
        )
        salted = salted_join(ev, dim, "event_type", n_salt=8)
        plain = ev.join(dim, "event_type")
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )

    def test_left_join_keeps_unmatched(self, spark):
        from jly_flink_spark.operators.skew import salted_join

        l = spark.createDataFrame(
            [("a", 1), ("b", 2)], "k string, v int"
        )
        r = spark.createDataFrame([("a", 10)], "k string, w int")
        out = salted_join(l, r, "k", n_salt=4, how="left").collect()
        by_k = {row["k"]: row["w"] for row in out}
        assert by_k == {"a": 10, "b": None}


class TestMultimodalTransforms:
    def test_frame_sample_fanout(self, spark):
        """WAV sample-window extraction: only well-formed audio rows
        fan out; every frame is a REAL slice of the payload's data
        chunk (byte-compared against the RIFF-walked range); frame
        counts match the stride arithmetic; malformed and non-audio
        rows contribute nothing."""
        from collections import Counter

        from jly_flink_spark.io import load_table
        from jly_flink_spark.operators import multimodal

        media = multimodal.documents_as_encoded_media(
            load_table(spark, "/root/testdata/sf0.001", "documents")
        )
        payloads = {
            r["doc_id"]: bytes(r["payload"]) for r in media.collect()
        }
        frames = multimodal.frame_sample(media).collect()
        assert frames and all(
            r["media_type"] == "wav" for r in frames
        )
        assert all(1 <= r["frame_bytes"] <= 16 for r in frames)
        for r in frames[:50]:
            start, length = multimodal.wav_data_range(
                payloads[r["doc_id"]]
            )
            off = start + r["frame_idx"] * 32
            want = payloads[r["doc_id"]][
                off : min(off + 16, start + length)
            ]
            assert bytes(r["frame_payload"]) == want
        per_doc = Counter(r["doc_id"] for r in frames)
        for doc_id, payload in payloads.items():
            rng = multimodal.wav_data_range(payload)
            expect = (
                0
                if rng is None or rng[1] == 0
                else (rng[1] - 1) // 32 + 1
            )
            assert per_doc.get(doc_id, 0) == expect

    def test_resize_only_shrinks_images(self, spark):
        from jly_flink_spark.io import load_table
        from jly_flink_spark.operators import multimodal

        media = multimodal.documents_as_encoded_media(
            load_table(spark, "/root/testdata/sf0.001", "documents")
        )
        resized = multimodal.resize_images(media, max_dim=32).collect()
        by_type = {}
        for r in resized:
            by_type.setdefault(r["media_type"], []).append(r)
        orig_len = {
            r["doc_id"]: len(bytes(r["payload"]))
            for r in media.collect()
        }
        for t in ("png", "jpeg"):
            for r in by_type[t]:
                if r["width"] is None:  # malformed plant: untouched
                    assert r["n_bytes"] == orig_len[r["doc_id"]]
                    continue
                assert max(r["width"], r["height"]) <= 32
                # the resized payload is AGAIN a valid container that
                # parses to the clamped dims — real header re-encode
                w, h, ch, sr = multimodal.decode_media_header(
                    bytes(r["resized_payload"])
                )
                assert (w, h) == (r["width"], r["height"]) and sr is None
        # non-images pass through byte-identical
        for r in by_type["wav"]:
            assert r["width"] is None and r["height"] is None
            assert r["n_bytes"] == orig_len[r["doc_id"]]

    def test_codec_roundtrip_and_malformed_edges(self):
        """Pure-codec fixtures: encode→parse round-trips exact
        fields; truncated headers, bodies-only, wrong magics and
        empty payloads all come back None, never raise."""
        from jly_flink_spark.operators import multimodal as mm

        assert mm.parse_png(mm.encode_png(640, 480, 3, b"x" * 9)) == (
            640, 480, 3,
        )
        assert mm.parse_jpeg(mm.encode_jpeg(31, 17, 1, b"")) == (31, 17, 1)
        assert mm.parse_wav(mm.encode_wav(2, 44100, b"pcm")) == (2, 44100)
        png = mm.encode_png(9, 9, 4, b"body")
        jpg = mm.encode_jpeg(9, 9, 3, b"body")
        wav = mm.encode_wav(1, 8000, b"body")
        for bad in (
            b"", b"\x00" * 64, png[:6], png[:20], jpg[:3],
            b"\xff\xd8\xff\xd9",      # JPEG with EOI before any SOF
            wav[:10], b"RIFF\x00\x00\x00\x00JUNK",
            jpg[:2] + b"\x00" + jpg[3:],  # broken marker chain
        ):
            assert mm.decode_media_header(bad) == (
                None, None, None, None,
            )


def test_connected_components_two_clusters(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_chain_converges(spark):
    # a path graph stresses the propagation depth (diameter = n-1)
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(edges).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.connected_components(edges).count() == 0


class TestEmptyInputs:
    """Operators must return empty, correctly-typed frames on empty
    input — not throw. At 100 TB, empty partitions/filtered-out
    inputs are routine, and the streaming paths hit them every idle
    micro-batch."""

    def _empty_docs(self, spark):
        return spark.createDataFrame([], "doc_id long, text string")

    def test_dedup_ops_on_empty_corpus(self, spark):
        docs = self._empty_docs(spark)
        assert dedup.exact_dedup_groups(docs).count() == 0
        assert dedup.exact_dedup_keep_first(docs).count() == 0
        assert dedup.minhash_candidate_pairs(docs).count() == 0
        assert dedup.simhash_dup_groups(docs).count() == 0
        assert dedup.jaccard_pairs(docs).count() == 0

    def test_similarity_on_empty_corpus(self, spark):
        emb = spark.createDataFrame(
            [], "vec_id long, embedding array<float>"
        )
        assert (
            similarity.cosine_topk_bruteforce(emb, query_ids=[0]).count()
            == 0
        )
        assert similarity.embedding_near_dup_pairs(emb).count() == 0

    def test_text_stats_on_empty_corpus(self, spark):
        assert text.text_stats(self._empty_docs(spark)).count() == 0


class TestGlobalRankAnalytics:
    """The sharded global-rank operator must equal the single-task
    global window bit for bit — including tie peer-groups that the
    range partitioner must keep within one shard, and the ntile
    remainder-bucket arithmetic."""

    def test_matches_global_window_with_ties(self, spark):
        from pyspark.sql import Window
        from jly_flink_spark.operators.ranking import global_rank_analytics

        # 97 rows, heavy ties (val = i % 7), k=5 → n%k != 0 exercises
        # the remainder buckets; n_shards > distinct values forces
        # tie groups to straddle would-be boundaries.
        rows = [(i, float(i % 7)) for i in range(97)]
        df = spark.createDataFrame(rows, "id long, val double")

        got = global_rank_analytics(
            df, "val", desc=True, tiebreak=("id",), n_shards=8, ntile=5
        ).select("id", "g_row_number", "g_rank", "g_dense_rank", "g_ntile")

        w = Window.orderBy(F.col("val").desc())
        wt = Window.orderBy(F.col("val").desc(), F.col("id"))
        want = df.select(
            "id",
            F.row_number().over(wt).alias("g_row_number"),
            F.rank().over(w).alias("g_rank"),
            F.dense_rank().over(w).alias("g_dense_rank"),
            F.ntile(5).over(wt).alias("g_ntile"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_fewer_rows_than_tiles(self, spark):
        from jly_flink_spark.operators.ranking import global_rank_analytics

        df = spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0)], "id long, val double"
        )
        got = global_rank_analytics(
            df, "val", tiebreak=("id",), n_shards=4, ntile=10
        )
        # N < k: every row its own bucket, bucket = row_number
        assert sorted(
            (r["g_row_number"], r["g_ntile"]) for r in got.collect()
        ) == [(1, 1), (2, 2), (3, 3)]

    def test_with_total_carries_exact_count(self, spark):
        from jly_flink_spark.operators.ranking import global_rank_analytics

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(41)], "id long, val double"
        )
        got = global_rank_analytics(
            df, "val", n_shards=8, with_total=True
        )
        totals = {r["g_total"] for r in got.collect()}
        assert totals == {41}


class TestShardedPrefixSum:
    """The sharded running sum must equal the single-task global
    cumulative window bit for bit — ties resolved by the tiebreak
    inside one shard, and negative values (shard total = sum, not
    max-of-running-sum) handled exactly."""

    def test_matches_global_window_desc_with_ties_and_negatives(
        self, spark
    ):
        from pyspark.sql import Window
        from jly_flink_spark.operators.ranking import sharded_prefix_sum

        # ties on the ordering key + negative values; n_shards >
        # distinct keys forces tie groups against shard boundaries
        rows = [(i, float(i % 5), (-1) ** i * (i + 1)) for i in range(83)]
        df = spark.createDataFrame(rows, "id long, key double, v long")

        got = sharded_prefix_sum(
            df, "v", "key", desc=True, tiebreak=("id",), n_shards=8
        ).select("id", "g_cum")

        w = (
            Window.orderBy(F.col("key").desc(), F.col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = df.select("id", F.sum("v").over(w).alias("g_cum"))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_single_row_and_empty(self, spark):
        from jly_flink_spark.operators.ranking import sharded_prefix_sum

        one = spark.createDataFrame([(1, 2.0, 7)], "id long, key double, v long")
        assert [
            (r["id"], r["g_cum"])
            for r in sharded_prefix_sum(one, "v", "key").collect()
        ] == [(1, 7)]
        empty = one.filter(F.lit(False))
        assert sharded_prefix_sum(empty, "v", "key").count() == 0


class TestLshSkewGuard:
    def test_degenerate_bucket_is_capped(self, spark, monkeypatch):
        """A pathological LSH bucket (many identical docs hashing to
        one band key) must be excluded from pair expansion by
        MAX_LSH_BUCKET — exact dedup owns identical content; the
        quadratic pair blowup must never run."""
        monkeypatch.setattr(dedup, "MAX_LSH_BUCKET", 5)
        same = [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)]
        # a twin pair (bucket of 2, under the cap) must still surface —
        # identical text makes the band collision deterministic
        twins = [
            (100, "one two three four five six seven"),
            (101, "one two three four five six seven"),
        ]
        docs = spark.createDataFrame(
            same + twins, "doc_id long, text string"
        )
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_candidate_pairs(docs).collect()
        }
        # the small bucket surfaces; no pair from the size-10 clone set
        assert (100, 101) in pairs
        assert not any(a < 10 and b < 10 for a, b in pairs)


def test_pagerank_fixed_matches_python_reference(spark):
    """pagerank_fixed must equal an independent pure-Python
    reimplementation of the integer recurrence on a small digraph
    with a hub (0: three in-links), a no-inlink source (2, 3) and a
    fully isolated node (4)."""
    from jly_flink_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        PR_QUANT,
        pagerank_fixed,
    )

    # 9 is not a node: its edge into 0 counts toward nothing (no rank
    # flows from a source outside the node list)
    edge_list = [(0, 1), (1, 0), (2, 0), (2, 1), (3, 0), (9, 0)]
    node_ids = [0, 1, 2, 3, 4]  # 4 is isolated; 3 links out only
    n = len(node_ids)
    ranks = {v: PR_QUANT // n for v in node_ids}
    outdeg = {}
    for s, _ in edge_list:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (DAMP_DEN - DAMP_NUM) * PR_QUANT // (DAMP_DEN * n)
    for _ in range(3):
        sums = {v: 0 for v in node_ids}
        for s, d in edge_list:
            if s in ranks:
                sums[d] += ranks[s] // outdeg[s]
        ranks = {
            v: base + DAMP_NUM * sums[v] // DAMP_DEN for v in node_ids
        }

    nodes = spark.createDataFrame([(v,) for v in node_ids], "node long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r["node"]: r["rank_q"]
        for r in pagerank_fixed(nodes, edges, iterations=3).collect()
    }
    assert got == ranks
    # structural sanity: 0 (most in-links) outranks 1 outranks the
    # no-inlink nodes, which sit at the base rank
    assert got[0] > got[1] > got[2] == got[3] == got[4] == base


# (seeds, edges) hand-built graphs for bfs_fixed, each checked against
# DuckDB running the oracle's recursive CTE on the same rows
_BFS_CASES = {
    # 0→1→…→7: nodes past the hop cap stay unreached
    "chain": ([0], [(i, i + 1) for i in range(7)]),
    # a cycle back to the seed keeps the seed at hop 0
    "cycle": ([0], [(0, 1), (1, 2), (2, 3), (3, 0)]),
    "clique": ([0], [(a, b) for a in range(5) for b in range(5) if a != b]),
    # 5 sits 3 hops from seed 0 and 1 hop from seed 10
    "two_seeds": ([0, 10], [(0, 1), (1, 2), (2, 5), (10, 5), (5, 6)]),
    # 20 has no out-edges: it reaches only itself
    "no_out_edges": ([0, 20], [(0, 1), (1, 0)]),
    "no_edges": ([3, 4], []),
}


@pytest.mark.parametrize("case", sorted(_BFS_CASES))
def test_bfs_fixed_matches_recursive_cte(spark, case):
    """bfs_fixed's frontier levels must give the recursive CTE's
    (seed, node, shortest hops) rows on graphs that exercise the hop
    cap, revisits, several seeds, and missing edges."""
    import duckdb
    import pandas as pd

    from jly_flink_spark.operators.graph import bfs_fixed
    from jly_flink_spark.plans.curation_queries import (
        _BFS_RECURSIVE_SQL,
        BFS_MAX_HOPS,
    )

    seed_ids, edge_list = _BFS_CASES[case]
    con = duckdb.connect()
    seeds_pd = pd.DataFrame({"src": seed_ids}, dtype="int64")
    edges_pd = pd.DataFrame(
        edge_list or None, columns=["src", "dst"], dtype="int64"
    )
    con.register("seeds", seeds_pd)
    con.register("edges", edges_pd)
    want = set(
        con.execute("WITH RECURSIVE " + _BFS_RECURSIVE_SQL).fetchall()
    )

    seeds = spark.createDataFrame([(v,) for v in seed_ids], "src long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        tuple(r)
        for r in bfs_fixed(seeds, edges, BFS_MAX_HOPS).collect()
    }
    assert got == want
    assert {(s, s, 0) for s in seed_ids} <= got


def test_kmv_sketch_merge_equals_direct(spark, sf_dir):
    """Mergeability — the property that makes KMV a sketch: the K
    smallest hashes of a UNION equal the K smallest of the parts'
    K-minimum sets, so merging per-shard sketches gives exactly the
    direct estimate. Exercised through the registered query's own
    hash definition on real data, split two ways."""
    from pyspark.sql import functions as F

    from jly_flink_spark.io import load_table
    from jly_flink_spark.plans import REGISTRY
    from jly_flink_spark.plans.relational_queries import KMV_K, _KMV_H

    li = load_table(spark, sf_dir, "lineitem")
    h = F.conv(
        F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 14),
        16,
        10,
    ).cast("bigint")
    hashed = li.filter(F.col("l_returnflag") == "R").select(
        h.alias("h"), (F.col("l_orderkey") % 2).alias("shard")
    ).distinct()
    shard_mins = {
        s: sorted(
            r["h"]
            for r in hashed.filter(F.col("shard") == s)
            .orderBy("h")
            .limit(KMV_K)
            .collect()
        )
        for s in (0, 1)
    }
    merged = sorted(shard_mins[0] + shard_mins[1])[:KMV_K]
    if len(merged) < KMV_K:
        est_merged = len(merged)
    else:
        est_merged = (KMV_K - 1) * _KMV_H // merged[-1]

    direct = {
        r["l_returnflag"]: r["kmv_estimate"]
        for r in REGISTRY["agg_kmv_distinct"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert direct["R"] == est_merged


@pytest.mark.parametrize(
    "data_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_approx_distinct_within_documented_error(spark, data_dir):
    """agg_approx_distinct (round 11: the deterministic 64-register
    HLL with the estimator decision rule, now value-hash-checked by
    the driver) must land within 3× its relative standard error
    (1.04/sqrt(64) ≈ 13%) of the exact distinct per group. The
    engine-native approx_count_distinct kernel the query previously
    wrapped keeps its OWN accuracy pin here (3×rsd at the default
    rsd=0.05) so swapping the registered path surrendered no test
    coverage of Spark's HLL++."""
    from pyspark.sql import functions as F

    from jly_flink_spark.io import load_table
    from jly_flink_spark.plans import REGISTRY

    got = {
        r["l_returnflag"]: r["approx_parts"]
        for r in REGISTRY["agg_approx_distinct"]
        .spark_fn(spark, data_dir)
        .collect()
    }
    li = load_table(spark, data_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r["exact_parts"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact_parts"))
        .collect()
    }
    assert set(got) == set(exact) and got
    for flag, est in got.items():
        rel_err = abs(est - exact[flag]) / max(exact[flag], 1)
        assert rel_err <= 3 * 0.13, (flag, est, exact[flag], rel_err)
    # engine-native HLL++ kernel: unchanged accuracy contract
    native = {
        r["l_returnflag"]: r["approx_parts"]
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey").alias("approx_parts"))
        .collect()
    }
    for flag, est in native.items():
        rel_err = abs(est - exact[flag]) / max(exact[flag], 1)
        assert rel_err <= 3 * 0.05, (flag, est, exact[flag], rel_err)


@pytest.mark.parametrize(
    "data_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_hll_registers_estimate_within_documented_error(spark, data_dir):
    """agg_hll_registers (the DETERMINISTIC 64-register HLL) must
    estimate within 3× its relative standard error (1.04/sqrt(64) ≈
    13%) of the exact distinct on every group — the accuracy half of
    the sketch's contract; the value-hash oracle pins the register
    arithmetic half. When the small-range regime applies (zero
    registers present), linear counting must do at least as well."""
    from jly_flink_spark.plans import REGISTRY

    rows = (
        REGISTRY["agg_hll_registers"].spark_fn(spark, data_dir).collect()
    )
    assert rows
    rse = 1.04 / (64**0.5)
    for r in rows:
        exact = r["n_distinct"]
        rel_err = abs(r["hll_estimate"] - exact) / max(exact, 1)
        assert rel_err <= 3 * rse, (r["l_returnflag"], r["hll_estimate"], exact)
        if r["n_zero_regs"] > 0 and exact <= 2 * 64:
            lc = r["lc_estimate_micro"] / 1e6
            assert abs(lc - exact) / max(exact, 1) <= 3 * rse, (lc, exact)


class TestQualityClassifier:
    """Fixed-point weak-supervision logistic classifier
    (operators/classifier.py): the GD recurrence must be bit-exact
    against an independent pure-Python reimplementation, behave on
    empty input, and actually separate on the real corpus."""

    def _train_rows(self, df):
        return {r["metric"]: r["value"] for r in df.collect()}

    def test_matches_python_reference(self, spark):
        from jly_flink_spark.operators import classifier as C

        docs = spark.createDataFrame(
            [
                # good: in-band stopwords, long enough, clean
                (1, "the cat and the dog sat on the mat in the sun"),
                (2, "it is a fine day and the birds sing in the sky"),
                # bad: no stopwords at all (sw deficit)
                (3, "alpha beta gamma delta epsilon zeta eta theta"),
                # bad: too short
                (4, "the end"),
                # bad: digit soup (noise)
                (5, "1234567890 9876543210 1112223334 5556667778 the a"),
                # boundary: barely in/out of the stopword band
                (6, "the of xxxxx yyyyy zzzzz wwwww vvvvv uuuuu"),
                (7, "the the the the the the the the and and and of"),
            ],
            "doc_id long, text string",
        )
        feats = {
            r["doc_id"]: r.asDict()
            for r in C.quality_features(docs).collect()
        }

        def tdiv(a, b):  # truncation toward zero, like Spark `div`
            q = abs(a) // abs(b)
            return q if (a >= 0) == (b > 0) else -q

        w = [0] * len(C.WEIGHT_COLS)
        xs = [
            [feats[d][x] for x in C.FEATURE_COLS] for d in sorted(feats)
        ]
        ys = [feats[d]["y"] for d in sorted(feats)]
        for _ in range(C.EPOCHS):
            g = [0] * len(w)
            for xv, y in zip(xs, ys):
                z = sum(wi * xi for wi, xi in zip(w, xv))
                p = min(max(500 + tdiv(z, 4 * C.Q), 0), C.S)
                d = p - y
                for j, xi in enumerate(xv):
                    g[j] += d * xi
            w = [
                wi - tdiv(C.LR_NUM * tdiv(gj, max(len(xs), 1)), C.LR_DEN)
                for wi, gj in zip(w, g)
            ]
        got = self._train_rows(C.train_quality_classifier(docs))
        for (metric, _), expect in zip(C.WEIGHT_COLS, w):
            assert got[metric] == expect, (metric, got)
        assert got["n_docs"] == len(xs)
        assert got["n_label_pos"] == sum(1 for y in ys if y == C.S)

    def test_empty_corpus_keeps_init_weights(self, spark):
        from jly_flink_spark.operators import classifier as C

        docs = spark.createDataFrame([], "doc_id long, text string")
        got = self._train_rows(C.train_quality_classifier(docs))
        assert len(got) == 9
        assert all(v == 0 for v in got.values())

    def test_separates_on_real_corpus(self, spark, sf_dir):
        from jly_flink_spark.io import load_table
        from jly_flink_spark.operators import classifier as C

        docs = load_table(spark, sf_dir, "documents")
        got = self._train_rows(C.train_quality_classifier(docs))
        # non-degenerate: neither all-positive nor all-negative, and
        # the learned boundary keeps (nearly) all rule-positives
        assert 0 < got["n_pred_pos"] < got["n_docs"]
        assert got["n_true_pos"] >= (got["n_label_pos"] * 9) // 10
        # positive bias, negative stopword-deficit weight: the
        # separator GD must find in hinge space
        assert got["w_bias"] > 0
        assert got["w_sw_deficit"] < 0

    def test_epochs_validated(self, spark):
        import pytest as _pytest

        from jly_flink_spark.operators import classifier as C

        docs = spark.createDataFrame([], "doc_id long, text string")
        with _pytest.raises(ValueError):
            C.train_quality_classifier(docs, epochs=0)


class TestKmeansFixed:
    """Fixed-point declarative K-means (operators/clustering.py):
    bit-exact vs a pure-Python Lloyd's on the same integer recurrence,
    deterministic tiebreaks, empty-cluster fallback."""

    def test_matches_python_reference(self, spark):
        import math

        from jly_flink_spark.operators import clustering as KM

        # 6 vectors in 2 obvious groups + 1 outlier; k=3 so one seed
        # may end up owning nothing some round
        vecs = [
            (0, [1.0, 0.0, 0.0, 0.1]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.2, 0.0]),
            (3, [0.1, 0.9, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.9]),
            (5, [-0.5, -0.5, 0.5, 0.5]),
        ]
        k, iters = 3, 3

        def q(v):
            scale = max(max(abs(x) for x in v), 1e-12)
            return [math.floor(x * 127.0 / scale) for x in v]

        codes = {vid: q(v) for vid, v in vecs}
        cent = {
            cid: list(codes[vid])
            for cid, vid in enumerate(sorted(codes)[:k])
        }

        def tdiv(a, b):
            qq = abs(a) // abs(b)
            return qq if (a >= 0) == (b > 0) else -qq

        def assign():
            out = {}
            for vid, c in codes.items():
                best = None
                for cid in sorted(cent):
                    d = sum((x - y) ** 2 for x, y in zip(c, cent[cid]))
                    if best is None or (d, cid) < best:
                        best = (d, cid)
                out[vid] = best[1]
            return out

        for _ in range(iters):
            a = assign()
            for cid in cent:
                members = [codes[v] for v, c in a.items() if c == cid]
                if members:
                    cent[cid] = [
                        tdiv(sum(col), len(members))
                        for col in zip(*members)
                    ]
        final = assign()

        emb = spark.createDataFrame(
            [(vid, v) for vid, v in vecs],
            "vec_id long, embedding array<float>",
        )
        got = {
            (r["cid"], r["dim"]): (r["cval"], r["n_members"])
            for r in KM.kmeans_audit(emb, k=k, iterations=iters).collect()
        }
        sizes = {
            cid: sum(1 for c in final.values() if c == cid)
            for cid in cent
        }
        for cid, arr in cent.items():
            for dim, val in enumerate(arr):
                assert got[(cid, dim)] == (val, sizes[cid]), (
                    cid,
                    dim,
                    got[(cid, dim)],
                )

    def test_empty_cluster_keeps_seed(self, spark):
        from jly_flink_spark.operators import clustering as KM

        # two identical far groups; the 3rd seed (vec 2) is identical
        # to vec 1's code, so it can never win a tie (smaller cid
        # first) and its cluster goes empty — its centroid must stay
        # at the seed coordinates
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),
                (1, [0.0, 1.0]),
                (2, [0.0, 1.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        rows = KM.kmeans_audit(emb, k=3, iterations=2).collect()
        c2 = {
            r["dim"]: (r["cval"], r["n_members"])
            for r in rows
            if r["cid"] == 2
        }
        assert c2[0] == (0, 0) and c2[1] == (127, 0)

    def test_validation(self, spark):
        import pytest as _pytest

        from jly_flink_spark.operators import clustering as KM

        emb = spark.createDataFrame(
            [], "vec_id long, embedding array<float>"
        )
        with _pytest.raises(ValueError):
            KM.kmeans_fixed(emb, k=0)
        with _pytest.raises(ValueError):
            KM.kmeans_fixed(emb, iterations=0)


class TestCountMinSketch:
    """CMS (agg_countmin_heavy_hitters): the one-sided error
    guarantee — estimates NEVER undercount, and collisions only
    inflate — plus determinism of the md5-salted bucketing."""

    def test_overestimate_property_under_forced_collisions(
        self, spark, sf_dir, monkeypatch
    ):
        import jly_flink_spark.plans.relational_queries as RQ
        from jly_flink_spark.plans import REGISTRY

        # W=4: ~every bucket collides, so estimates must inflate but
        # never undercount
        monkeypatch.setattr(RQ, "CMS_W", 4)
        rows = REGISTRY["agg_countmin_heavy_hitters"].spark_fn(
            spark, sf_dir
        ).collect()
        assert len(rows) == RQ.CMS_PROBES
        assert all(r["n_cms"] >= r["n_exact"] for r in rows), rows
        assert any(r["n_cms"] > r["n_exact"] for r in rows), rows

    def test_full_width_is_near_exact_and_deterministic(
        self, spark, sf_dir
    ):
        from jly_flink_spark.plans import REGISTRY

        a = {
            r["term"]: (r["n_exact"], r["n_cms"])
            for r in REGISTRY["agg_countmin_heavy_hitters"]
            .spark_fn(spark, sf_dir)
            .collect()
        }
        b = {
            r["term"]: (r["n_exact"], r["n_cms"])
            for r in REGISTRY["agg_countmin_heavy_hitters"]
            .spark_fn(spark, sf_dir)
            .collect()
        }
        assert a == b
        assert all(est >= ex for ex, est in a.values())


def test_quantile_sketch_merge_equals_direct(spark, sf_dir):
    """Mergeability of the bottom-k-by-hash sample: the K smallest
    hashes of a UNION equal the K smallest of the parts' K-minimum
    sets, so per-shard sketches merge into exactly the direct
    sample (and therefore the direct quantile estimates)."""
    from pyspark.sql import functions as F

    from jly_flink_spark.io import load_table
    from jly_flink_spark.plans.relational_queries import QSK_K

    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 14),
        16,
        10,
    ).cast("bigint")
    one = ev.filter(F.col("event_type") == "click").select(
        h.alias("h"), "event_id", (F.col("event_id") % 2).alias("shard")
    )
    direct = [
        (r["h"], r["event_id"])
        for r in one.orderBy("h", "event_id").limit(QSK_K).collect()
    ]
    shard_mins = {
        s: [
            (r["h"], r["event_id"])
            for r in one.filter(F.col("shard") == s)
            .orderBy("h", "event_id")
            .limit(QSK_K)
            .collect()
        ]
        for s in (0, 1)
    }
    merged = sorted(shard_mins[0] + shard_mins[1])[:QSK_K]
    assert merged == direct


@pytest.mark.parametrize(
    "data_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_quantile_sketch_within_rank_error(spark, data_dir):
    """The sketch's estimates must sit at roughly the right RANK of
    the true distribution: the empirical CDF at each estimate lands
    within ~3/sqrt(K) of the target quantile (generous band — the
    fixture groups are a few thousand rows)."""
    from pyspark.sql import functions as F

    from jly_flink_spark.io import load_table
    from jly_flink_spark.plans import REGISTRY
    from jly_flink_spark.plans.relational_queries import QSK_Q

    est = {
        r["event_type"]: r
        for r in REGISTRY["agg_quantile_sketch"]
        .spark_fn(spark, data_dir)
        .collect()
    }
    assert est
    ev = (
        load_table(spark, data_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("value") * QSK_Q).cast("bigint").alias("qv"),
        )
        .collect()
    )
    from collections import defaultdict

    by_type = defaultdict(list)
    for r in ev:
        by_type[r["event_type"]].append(r["qv"])
    for etype, row in est.items():
        vals = sorted(v for v in by_type[etype] if v is not None)
        n = len(vals)
        for col, target in (("q25", 0.25), ("q50", 0.50), ("q90", 0.90)):
            cdf = sum(1 for v in vals if v <= row[col]) / n
            assert abs(cdf - target) <= 0.2, (etype, col, cdf, target)


def test_triangle_counts_on_known_graph(spark):
    """K4 plus a pendant path: each K4 vertex sits in C(3,2)=3
    triangles, path vertices in none; corner sums are 3x the
    triangle count by construction."""
    from jly_flink_spark.operators.graph import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
             (4, 5), (5, 6)]  # pendant path
    und = spark.createDataFrame(edges, "u long, v long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(und).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    assert sum(got.values()) % 3 == 0


def test_triangle_counts_match_bruteforce(spark):
    """Degree-oriented enumeration == O(n^3) brute force on a random
    graph (hub-heavy so orientation actually reorders edges)."""
    import itertools
    import random

    from jly_flink_spark.operators.graph import triangle_counts

    rng = random.Random(5)
    nodes = list(range(30))
    edges = {(u, v) for u in nodes for v in nodes if u < v and (
        u == 0 or rng.random() < 0.15)}  # node 0 is a hub
    und = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(und).collect()}
    want: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in edges and (a, c) in edges and (b, c) in edges:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert got == want and want


class TestAudioTier:
    def test_pcm_roundtrip_and_fingerprint_determinism(self, spark):
        """Planted WAV → RIFF walk → samples → fingerprint must be a
        deterministic pure function of the text prefix: identical
        first-64-token docs share the fingerprint (hamming 0), a
        changed prefix moves it."""
        base = " ".join(f"w{i}" for i in range(80))
        rows = [
            (1, base),
            (2, base + " extra suffix tokens beyond the prefix"),
            (3, "different " + base),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        media = multimodal.documents_as_audio_media(df)
        fps = {
            r["doc_id"]: r["afp"]
            for r in multimodal.audio_fingerprint_frame(media).collect()
        }
        assert fps[1] is not None and 0 < fps[1] < (1 << 56)
        # suffix edit beyond token 64 leaves the fingerprint intact
        assert fps[1] == fps[2]
        # prefix edit moves it
        assert fps[3] != fps[1]

    def test_truncation_and_tokenless_null_parity(self, spark):
        """Every MALFORMED_MOD-th doc truncates mid-signature and a
        token-less doc has no PCM — both must fingerprint to NULL
        (the shared malformed-media contract), never crash or emit
        a junk hash."""
        m = multimodal.MALFORMED_MOD
        rows = [(m, "alpha beta gamma"), (m + 1, "alpha beta gamma"),
                (2 * m, "delta"), (5, "   ")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fps = {
            r["doc_id"]: r["afp"]
            for r in multimodal.audio_fingerprint_frame(
                multimodal.documents_as_audio_media(df)
            ).collect()
        }
        assert fps[m] is None and fps[2 * m] is None  # truncated
        assert fps[5] is None  # token-less: no PCM planted
        assert fps[m + 1] is not None

    def test_bands_cover_all_fingerprint_bits(self, spark):
        """4 x 14-bit bands must partition the 56-bit fingerprint:
        reassembling the band keys recovers the hash."""
        df = spark.createDataFrame(
            [(1, "a few words make a tiny document here")],
            "doc_id long, text string",
        )
        h = multimodal.audio_fingerprint_frame(
            multimodal.documents_as_audio_media(df)
        )
        from jly_flink_spark.sources.layout import (
            HAMMING_BAND_BITS,
            HAMMING_N_BANDS,
            hamming_bands,
        )

        rows = hamming_bands(h, "afp", "doc_id").collect()
        assert len(rows) == HAMMING_N_BANDS
        rebuilt = 0
        for r in rows:
            rebuilt |= r["bkey"] << (HAMMING_BAND_BITS * r["b"])
        assert rebuilt == rows[0]["afp"]


def _wedge_rows(spark, edges, **kw):
    from jly_flink_spark.operators.graph import wedge_pairs

    und = spark.createDataFrame(edges, "u long, v long")
    adj = und.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    return wedge_pairs(adj, **kw)


def test_wedge_pairs_packed_roundtrip(spark):
    """packed=True must emit exactly the unpacked wedges under
    xy = x*2^32 + y, recoverable with wedge_unpack."""
    from jly_flink_spark.operators.graph import wedge_unpack

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (2, 5)]
    plain = {
        (r["x"], r["y"], r["d"])
        for r in _wedge_rows(spark, edges).collect()
    }
    ux, uy = wedge_unpack("xy")
    packed = {
        (r["x"], r["y"], r["d"])
        for r in _wedge_rows(spark, edges, packed=True)
        .select(ux.alias("x"), uy.alias("y"), "d")
        .collect()
    }
    assert plain == packed and plain


def test_wedge_pairs_degree_cap_guard(spark):
    """max_degree must fail LOUDLY on a hub instead of silently
    enumerating Σ deg² wedges (round-9 verdict task 6)."""
    from pyspark.errors.exceptions.captured import (
        SparkRuntimeException,
    )

    star = [(0, i) for i in range(1, 6)]  # hub 0, degree 5
    assert _wedge_rows(spark, star, max_degree=5).count() == 10
    with pytest.raises(SparkRuntimeException, match="max_degree=4"):
        _wedge_rows(spark, star, max_degree=4).count()


def test_wedge_pairs_packed_rejects_wide_ids(spark):
    """Ids ≥ 2^31 would overflow the packed key — loud failure."""
    from pyspark.errors.exceptions.captured import (
        SparkRuntimeException,
    )

    big = 1 << 31
    edges = [(1, big), (1, 2), (2, big)]
    with pytest.raises(SparkRuntimeException, match="2\\^31"):
        _wedge_rows(spark, edges, packed=True).count()
    # same graph unpacked is fine (one wedge per vertex of the C3)
    assert _wedge_rows(spark, edges).count() == 3


def test_wedge_pairs_cluster_exactness(spark):
    """cluster=True (re-shuffle collected neighbor lists by their
    min neighbor) must emit EXACTLY the cluster=False wedges — the
    mechanism is a partitioning hint, never a semantic change
    (round-13 ADVICE: the branch was dead code with no test)."""
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (2, 5), (4, 5), (1, 5)]
    for kw in ({}, {"packed": True}):
        plain = sorted(
            tuple(r) for r in _wedge_rows(spark, edges, **kw).collect()
        )
        clustered = sorted(
            tuple(r)
            for r in _wedge_rows(
                spark, edges, cluster=True, **kw
            ).collect()
        )
        assert plain == clustered and plain


def test_aa_packed_guard(spark):
    """The adamic-adar packed count+sum guard: provably-exact values
    pass through; overflowed/wrapped values raise loudly instead of
    ranking on corrupted scores (round-13 ADVICE, medium)."""
    from pyspark.errors.exceptions.captured import (
        SparkRuntimeException,
    )

    from jly_flink_spark.plans.curation_queries import (
        AA_PACKED_NCOMMON_MAX,
        _aa_packed_guard,
    )

    good = [(1 << 42) + 123, (AA_PACKED_NCOMMON_MAX << 42) + 999]
    df = spark.createDataFrame(
        [(7, v) for v in good], "xy long, pk long"
    )
    out = [
        r["pk"]
        for r in df.withColumn("pk", _aa_packed_guard())
        .orderBy("pk")
        .collect()
    ]
    assert out == sorted(good)
    # n_common one past the bound; a sign-wrapped sum; a low-bits-only
    # value (impossible for any real Σ of 2^42+aaterm wedges)
    for bad in [(AA_PACKED_NCOMMON_MAX + 1) << 42, -(1 << 42), 123]:
        bdf = spark.createDataFrame([(9, bad)], "xy long, pk long")
        with pytest.raises(
            SparkRuntimeException, match="packing margin"
        ):
            bdf.withColumn("pk", _aa_packed_guard()).collect()


URL_CANON_CASES = [
    # (raw, canon, host) — one per canonicalization rule
    (
        "HTTP://WWW.Example.COM:80/a/1/?p=1&utm_source=x#frag",
        "http://example.com/a/1?p=1",
        "example.com",
    ),
    ("https://Example.com:443/x", "https://example.com/x", "example.com"),
    (
        "https://example.com:8443/x",
        "https://example.com:8443/x",
        "example.com",
    ),
    (
        "http://example.com:8080/",
        "http://example.com:8080",
        "example.com",
    ),
    (
        "http://example.com/a?b=2&a=1",
        "http://example.com/a?a=1&b=2",
        "example.com",
    ),
    (
        "http://example.com/a?utm_campaign=c&fbclid=z&gclid=g",
        "http://example.com/a",
        "example.com",
    ),
    ("http://example.com", "http://example.com", "example.com"),
    (
        "https://www.sub.example.com/p///",
        "https://sub.example.com/p",
        "sub.example.com",
    ),
]


def test_canonicalize_url_rules(spark):
    """Each canonicalization rule on a hand-built case: fragment,
    case, www, default vs explicit port, param sort, tracking strip,
    empty path, trailing slashes."""
    from jly_flink_spark.operators.urls import canonicalize_url

    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(URL_CANON_CASES)],
        "i long, url string",
    )
    out = {
        r["i"]: (r["canon_url"], r["host"])
        for r in df.select(
            "i", canonicalize_url(F.col("url")).alias("c")
        )
        .select("i", "c.canon_url", "c.host")
        .collect()
    }
    for i, (raw, canon, host) in enumerate(URL_CANON_CASES):
        assert out[i] == (canon, host), (raw, out[i])


def test_canonicalize_url_sql_parity():
    """The DuckDB mirror must produce byte-identical canon/host for
    every edge case — beyond the synthesized URLs the registered
    oracle covers (no path, triple slash, explicit ports)."""
    import duckdb

    from jly_flink_spark.operators.urls import canonicalize_url_sql

    canon_sql, host_sql = canonicalize_url_sql("url")
    con = duckdb.connect()
    for raw, canon, host in URL_CANON_CASES:
        got = con.execute(
            f"SELECT {canon_sql}, {host_sql} FROM "
            "(SELECT ? AS url)",
            [raw],
        ).fetchone()
        assert got == (canon, host), (raw, got)


def test_wedges_sans_edges_count_memo(spark):
    """_wedges_sans_edges consults the per-(app, sf_dir) memo before
    counting: a seeded over-limit count forces the post-filter path
    on a tiny edge list with no job (round-13 ADVICE: plan
    construction stays side-effect-light after the first build)."""
    from jly_flink_spark.plans import curation_queries as CQ

    und = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    wp = spark.createDataFrame([((1 << 32) + 3, 2)], "xy long, d long")
    key = (spark.sparkContext.applicationId, "/memo/test")
    try:
        CQ._UND_EDGE_COUNT_MEMO[key] = (
            CQ.LINKPRED_PREFILTER_MAX_EDGES + 1
        )
        _, post = CQ._wedges_sans_edges(wp, und, memo_key=key)
        assert post is True
        CQ._UND_EDGE_COUNT_MEMO[key] = 2
        out, post = CQ._wedges_sans_edges(wp, und, memo_key=key)
        assert post is False and out.count() == 1
    finally:
        CQ._UND_EDGE_COUNT_MEMO.pop(key, None)


def test_resample_ffill_semantics(spark, monkeypatch, tmp_path):
    """LOCF on a crafted stream: NULL before the first observation,
    carry across gaps, newest same-second observation wins, fills
    reset per user."""
    import pandas as pd

    from jly_flink_spark.plans import REGISTRY
    from jly_flink_spark.plans import advanced_queries as AQ

    t0 = AQ._FF_T0
    rows = [
        # user 1: obs in slot 1 (two in the same second — event 11
        # wins), nothing again until slot 3
        (10, 1, t0 + 3600 + 30, 5.0),
        (11, 1, t0 + 3600 + 30, 7.0),
        (12, 1, t0 + 3 * 3600, 9.0),
        # user 2: first obs only in slot 2
        (20, 2, t0 + 2 * 3600 + 1, 2.5),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "epoch", "value"]
    )
    pdf["ts"] = pd.to_datetime(pdf.pop("epoch"), unit="s")
    pdf["event_type"] = "click"
    pdf["props"] = "{}"
    d = str(tmp_path / "ff")
    import os

    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(d, "events.parquet")
    )
    from jly_flink_spark.io import TABLES

    for t in TABLES:
        if t == "events":
            continue
        dst = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", dst)

    out = {
        (r["user_id"], r["slot_s"]): r["filled"]
        for r in REGISTRY["events_resample_ffill"]
        .spark_fn(spark, d)
        .collect()
    }
    # user 1: the slot ts is the SAMPLING INSTANT — the obs 30s after
    # slot 1 isn't visible there yet; slot 2 carries 7.0 (same-second
    # winner by event_id); the obs exactly AT slot 3 is visible in it
    # (observations sort before their slot)
    assert out[(1, t0)] is None
    assert out[(1, t0 + 3600)] is None
    assert out[(1, t0 + 2 * 3600)] == 7.0
    assert out[(1, t0 + 3 * 3600)] == 9.0
    assert out[(1, t0 + 719 * 3600)] == 9.0
    # user 2: independent fill
    assert out[(2, t0 + 3600)] is None
    assert out[(2, t0 + 2 * 3600)] is None  # obs is AFTER the slot ts
    assert out[(2, t0 + 3 * 3600)] == 2.5
    assert len(out) == 2 * 720


class TestProductQuantization:
    def test_codes_in_range_and_dims_guard(self, spark):
        from jly_flink_spark.operators import pq as PQ
        from jly_flink_spark.io import load_table

        emb = load_table(
            spark, "/root/testdata/sf0.001", "embeddings"
        ).limit(40)
        cent, coded, subdim = PQ.pq_train_encode(emb)
        assert subdim == 64 // PQ.PQ_M
        rows = coded.collect()
        assert len(rows) == 40
        for r in rows:
            assert len(r["pq"]) == PQ.PQ_M
            assert all(0 <= c < PQ.PQ_K for c in r["pq"])
        cents = cent.collect()
        # every subspace has its full codebook, each of subdim coords
        assert len(cents) == PQ.PQ_M * PQ.PQ_K
        assert all(len(r["carr"]) == subdim for r in cents)
        # indivisible dims must refuse, not mis-slice
        import pytest as _pt

        bad = emb.select(
            "vec_id",
            F.slice("embedding", 1, 63).alias("embedding"),
        )
        with _pt.raises(ValueError, match="divisible"):
            PQ.pq_train_encode(bad)

    def test_adc_self_query_is_rank_one(self, spark):
        """The query vector itself must come back first with exact
        distance 0, and every ADC distance is the sum of its M
        subspace LUT entries (non-negative, monotone with rank)."""
        from jly_flink_spark.operators import pq as PQ
        from jly_flink_spark.io import load_table

        emb = load_table(
            spark, "/root/testdata/sf0.001", "embeddings"
        ).limit(60)
        cent, coded, subdim = PQ.pq_train_encode(emb)
        out = PQ.adc_topk(cent, coded, PQ.PQ_M, subdim, topk=10).collect()
        assert out[0]["exact_dist"] == 0
        adcs = [r["adc_dist"] for r in out]
        assert adcs == sorted(adcs) and all(a >= 0 for a in adcs)


class TestMultimodalVariantCodecs:
    """Real-world container variants (round 8): EXIF-first JPEG,
    ancillary-chunk PNG, WAVE_FORMAT_EXTENSIBLE WAV — the existing
    parsers must navigate all three (their walks are layout-agnostic)
    with truncation → NULL parity preserved."""

    def test_jpeg_exif_app1_before_sof(self):
        import struct

        from jly_flink_spark.operators import multimodal as mm

        p = mm.encode_jpeg_exif(640, 480, 3, b"entropy")
        # APP1 (EXIF) is the FIRST segment after SOI — before JFIF
        assert p[2:4] == b"\xff\xe1"
        assert p[6:12] == b"Exif\x00\x00"
        assert mm.parse_jpeg(p) == (640, 480, 3)
        assert len(p) == 68 + 3 * 3 + 7
        # grayscale variant
        g = mm.encode_jpeg_exif(9, 7, 1, b"")
        assert mm.parse_jpeg(g) == (9, 7, 1)
        assert struct.unpack(">H", p[4:6])[0] == 34  # fixed APP1 size

    def test_png_ancillary_chunks_skipped(self):
        from jly_flink_spark.operators import multimodal as mm

        p = mm.encode_png_ancillary(100, 50, 4, b"body!")
        assert b"tEXt" in p and b"pHYs" in p
        assert mm.parse_png(p) == (100, 50, 4)
        assert len(p) == 101 + 5

    def test_wav_extensible_fmt(self):
        import struct

        from jly_flink_spark.operators import multimodal as mm

        w = mm.encode_wav_extensible(6, 48000, b"pcmpcm")
        assert struct.unpack("<H", w[20:22])[0] == 0xFFFE
        assert struct.unpack("<I", w[16:20])[0] == 40  # fmt size
        assert mm.parse_wav(w) == (6, 48000)
        # the RIFF walk still finds the data chunk behind the long fmt
        assert mm.wav_data_range(w) == (68, 6)
        assert len(w) == 68 + 6

    def test_variant_truncation_null_parity(self):
        from jly_flink_spark.operators import multimodal as mm

        full = [
            mm.encode_jpeg_exif(10, 10, 3, b"x"),
            mm.encode_png_ancillary(10, 10, 1, b"x"),
            mm.encode_wav_extensible(2, 8000, b"x"),
        ]
        for payload in full:
            assert mm.decode_media_header(payload[:6]) == (
                None, None, None, None,
            )
            # and the un-truncated variant parses to non-NULL fields
            parsed = mm.decode_media_header(payload)
            assert parsed != (None, None, None, None)

    def test_variant_plant_matches_planted_fields(self):
        from jly_flink_spark.operators import multimodal as mm

        for doc_id in (3, 4, 5, 37, 74, 111, 200):
            media_type, payload = mm.plant_payload_variant(
                doc_id, "text body"
            )
            w, h, ch, sr = mm.decode_media_header(payload)
            if doc_id % mm.MALFORMED_MOD == 0:
                assert (w, h, ch, sr) == (None, None, None, None)
                continue
            _, fields = mm._planted_fields(doc_id)
            if media_type in ("png", "jpeg"):
                assert (w, h, ch) == (
                    fields["width"], fields["height"], fields["channels"],
                )
                assert sr is None
            else:
                assert (ch, sr) == (
                    fields["channels"], fields["sample_rate"],
                )
                assert w is None and h is None


class TestPatternCompiler:
    """The quantified-pattern compiler (operators/patterns.py):
    branch expansion, same-type merge on optional-skip, exclusivity
    and validation errors, and run-algebra matching on a hand-built
    stream with known matches."""

    def test_optional_fork_and_merge(self):
        from jly_flink_spark.operators.patterns import compile_branches

        spec = [
            ("view", 1, None),
            ("click", 0, 1),
            ("view", 2, None),
            ("purchase", 1, None),
        ]
        branches = compile_branches(spec)
        assert branches == [
            [("view", 1, None), ("click", 1, 1),
             ("view", 2, None), ("purchase", 1, None)],
            # click skipped -> the two view steps MERGE (bounds add)
            [("view", 3, None), ("purchase", 1, None)],
        ]

    def test_bounded_merge_adds_his(self):
        from jly_flink_spark.operators.patterns import normalize

        assert normalize([("a", 1, 2), ("a", 2, 3)]) == [("a", 3, 5)]
        assert normalize([("a", 1, 2), ("a", 1, None)]) == [
            ("a", 2, None)
        ]

    def test_validation_errors(self):
        import pytest as _pytest

        from jly_flink_spark.operators.patterns import compile_branches

        with _pytest.raises(ValueError, match="hi"):
            compile_branches([("a", 3, 2)])
        with _pytest.raises(ValueError, match="empty match"):
            compile_branches([("a", 0, 1)])
        # ambiguous: branches not type-exclusive (b? at the end -> the
        # absent branch is a PREFIX of the present one)
        with _pytest.raises(ValueError, match="ambiguous"):
            compile_branches([("a", 1, None), ("b", 0, 1)])

    def test_match_runs_on_known_stream(self, spark):
        from datetime import datetime, timezone

        from jly_flink_spark.operators.patterns import (
            compile_branches,
            event_runs,
            match_runs,
        )

        def ts(s):
            return datetime.fromtimestamp(s, tz=timezone.utc).replace(
                tzinfo=None
            )

        # user 1: v v v p        -> merged branch (view{3,} purchase)
        # user 2: v c v v p      -> full branch (anchor len 1)
        # user 3: v v p          -> NO match (2 views, no click)
        # user 4: v c c v v p    -> NO match (click run len 2 > hi 1)
        rows = []
        streams = {
            1: ["view", "view", "view", "purchase"],
            2: ["view", "click", "view", "view", "purchase"],
            3: ["view", "view", "purchase"],
            4: ["view", "click", "click", "view", "view", "purchase"],
        }
        eid = 0
        for uid, types in streams.items():
            for i, t in enumerate(types):
                rows.append((uid, ts(1000 * uid + 10 * i), eid, t))
                eid += 1
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, "
            "event_type string"
        )
        spec = [
            ("view", 1, None),
            ("click", 0, 1),
            ("view", 2, None),
            ("purchase", 1, None),
        ]
        got = {
            (r["user_id"], r["branch_id"], r["anchor_len"], r["span_s"])
            for r in match_runs(
                event_runs(ev), compile_branches(spec)
            ).collect()
        }
        assert got == {
            (1, 1, 3, 30),   # merged branch, span v0 -> p
            (2, 0, 1, 40),   # full branch, anchor is the lone view
        }


def test_vectorized_decode_kernels_bit_identical():
    """The round-11 numpy decode kernels (dhash_ints_vec /
    audio_fps_vec) must return EXACTLY the scalar formulas' integers
    — every pinned multimodal hash depends on it. Adversarial cases:
    equal-neighbor runs (strict > at the boundary), int16 extremes
    (±2^15 squares), all-zero energy (no bit exceeds the mean)."""
    import random

    import numpy as np

    from jly_flink_spark.operators import multimodal as mm

    rng = random.Random(7)
    grids = [
        bytes(
            rng.randrange(256) if rng.random() < 0.8 else 128
            for _ in range(64)
        )
        for _ in range(300)
    ]
    arr = np.frombuffer(b"".join(grids), np.uint8).reshape(-1, 64)
    for v, g in zip(mm.dhash_ints_vec(arr), grids):
        assert int(v) == mm.dhash_int(g)

    n = mm.AUDIO_FRAMES * mm.AUDIO_FRAME_LEN
    clips = [
        [rng.randrange(-32768, 32768) for _ in range(n)]
        for _ in range(200)
    ] + [[-32768] * n, [32767] * n, [0] * n]
    pcm = np.array(clips, dtype=np.int64)
    for v, s in zip(mm.audio_fps_vec(pcm), clips):
        assert int(v) == mm.audio_fingerprint_int(s)


class TestPixelDhash:
    """Round-9 pixel tier: plant -> parse -> dHash with the shared
    truncation -> NULL contract, and the near-dup invariant that an
    exact text copy hashes to Hamming distance 0."""

    def test_truncated_payload_yields_null_dhash(self, spark):
        from jly_flink_spark.operators import multimodal as mm

        docs = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta"),   # 0 % 37 == 0 -> truncated
                (1, "alpha beta gamma delta"),
                (2, ""),                          # token-less -> empty body
                (37, "epsilon zeta"),             # truncated too
            ],
            "doc_id long, text string",
        )
        media = mm.documents_as_pixel_media(docs)
        got = {
            r["doc_id"]: r["dhash"]
            for r in mm.pixel_dhash_frame(media).collect()
        }
        assert got[0] is None and got[37] is None and got[2] is None
        assert got[1] is not None and 0 <= got[1] < (1 << mm.DHASH_BITS)

    def test_exact_copy_is_distance_zero(self, spark):
        from jly_flink_spark.operators import multimodal as mm

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps"),
             (2, "the quick brown fox jumps"),
             (3, "a wholly different document body here")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["dhash"]
            for r in mm.pixel_dhash_frame(
                mm.documents_as_pixel_media(docs)
            ).collect()
        }
        assert got[1] == got[2]
        assert got[1] != got[3]

    def test_dhash_matches_pure_python(self, spark):
        """The mapInPandas kernel equals the module formula applied
        to the planted grid directly (payload round trip included)."""
        from jly_flink_spark.operators import multimodal as mm

        text = "one two three four five six seven eight nine"
        toks = text.split(" ")
        want = mm.dhash_int(mm.planted_pixels(toks))
        docs = spark.createDataFrame(
            [(5, text)], "doc_id long, text string"
        )
        got = mm.pixel_dhash_frame(
            mm.documents_as_pixel_media(docs)
        ).collect()[0]["dhash"]
        assert got == want


def test_kn_trigram_matches_python_reference(spark):
    """text_trigram_kn_perplexity must agree EXACTLY (same micro-nat
    integers) with an independent pure-Python interpolated-KN
    reimplementation over the sf0.001 corpus — pins the count
    derivations (ctx/mid/sfx/fin continuation counts) and the shared
    cost expression, not just cross-engine parity (both engines could
    in principle share a bug; this reference cannot)."""
    import math
    from collections import Counter, defaultdict

    import duckdb

    from jly_flink_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["n_trigrams"], r["kn_nll_micro"])
        for r in REGISTRY["text_trigram_kn_perplexity"]
        .spark_fn(spark, sf)
        .collect()
    }

    docs = duckdb.sql(
        f"SELECT doc_id, lower(text) AS t FROM "
        f"read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    tris = {}  # doc_id -> list of (w1,w2,w3)
    for doc_id, t in docs:
        ws = [w for w in t.split(" ") if w]
        tris[doc_id] = list(zip(ws, ws[1:], ws[2:]))
    c3 = Counter(g for gs in tris.values() for g in gs)
    ctx_tot, ctx_n1p = Counter(), defaultdict(set)
    mid_types, mid_fol = Counter(), defaultdict(set)
    sfx_ct, fin_pre = Counter(), defaultdict(set)
    for (w1, w2, w3), c in c3.items():
        ctx_tot[(w1, w2)] += c
        ctx_n1p[(w1, w2)].add(w3)
        mid_types[w2] += 1
        mid_fol[w2].add(w3)
        sfx_ct[(w2, w3)] += 1
        fin_pre[w3].add((w1, w2))
    tt = len(c3)
    D = 0.75

    def nll_micro(g):
        w1, w2, w3 = g
        p_uni = len(fin_pre[w3]) / tt
        p_bi = (sfx_ct[(w2, w3)] - D) / mid_types[w2] + (
            D * len(mid_fol[w2]) / mid_types[w2]
        ) * p_uni
        p = (c3[g] - D) / ctx_tot[(w1, w2)] + (
            D * len(ctx_n1p[(w1, w2)]) / ctx_tot[(w1, w2)]
        ) * p_bi
        return round(-math.log(p) * 1e6)

    expect = {
        doc_id: (len(gs), sum(nll_micro(g) for g in gs))
        for doc_id, gs in tris.items()
        if gs
    }
    assert got == expect


def test_ppjoin_complete_vs_brute_force(spark):
    """dedup_ppjoin_pairs' defining property: COMPLETENESS. Every
    pair with exact shingle-set Jaccard >= t must appear (the
    prefix-filter theorem), with exact (inter, jacc_ppm) — checked
    against an all-pairs brute force over sf0.001 (which the
    operator itself must never run at scale)."""
    import duckdb

    from jly_flink_spark.operators.dedup import (
        PPJOIN_T_DEN,
        PPJOIN_T_NUM,
        ppjoin_pairs,
    )
    from jly_flink_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_a"], r["doc_b"]): (r["m_a"], r["m_b"], r["inter"], r["jacc_ppm"])
        for r in ppjoin_pairs(load_table(spark, sf, "documents")).collect()
    }

    docs = duckdb.sql(
        f"SELECT doc_id, lower(text) AS t FROM "
        f"read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    sets = {}
    for doc_id, t in docs:
        ws = [w for w in t.split(" ") if w]
        sets[doc_id] = {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        }
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * PPJOIN_T_DEN >= union * PPJOIN_T_NUM:
                want[(a, b)] = (
                    len(sets[a]),
                    len(sets[b]),
                    inter,
                    inter * 1_000_000 // union,
                )
    assert got == want
    assert want, "fixture must contain at least one qualifying pair"


class TestVideoTier:
    def test_y4m_roundtrip_and_temporal_frame_hashes(self, spark):
        """Planted Y4M → FRAME walk → per-frame dHash must be a
        deterministic pure function of the text prefix: identical
        first-64-token docs share EVERY aligned frame hash, a prefix
        edit moves at least one frame, and clips yield exactly
        VIDEO_FRAMES rows."""
        base = " ".join(f"w{i}" for i in range(80))
        rows = [
            (1, base),
            (2, base + " extra suffix tokens beyond the prefix"),
            (3, "different " + base),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in multimodal.video_dhash_frames(
            multimodal.documents_as_video_media(df)
        ).collect():
            got.setdefault(r["doc_id"], {})[r["f"]] = r["vh"]
        assert all(
            len(v) == multimodal.VIDEO_FRAMES for v in got.values()
        )
        assert got[1] == got[2]  # suffix edit beyond token 64: no-op
        assert got[3] != got[1]  # prefix edit moves some frame
        # python-reference parity for one frame
        frames = multimodal.parse_y4m(
            multimodal.plant_payload_video(1, base)
        )
        assert got[1][0] == multimodal.dhash_int(frames[0])

    def test_truncation_and_tokenless_drop(self, spark):
        """Truncated (every MALFORMED_MOD-th) and token-less clips
        must contribute ZERO frame rows — the malformed-media
        contract in per-frame form."""
        m = multimodal.MALFORMED_MOD
        rows = [(m, "alpha beta gamma"), (m + 1, "alpha beta gamma"),
                (5, "   ")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]
            for r in multimodal.video_dhash_frames(
                multimodal.documents_as_video_media(df)
            ).collect()
        }
        assert got == {m + 1}

    def test_video_bands_are_frame_aligned(self, spark):
        """The banding key carries the frame position: band rows per
        clip = VIDEO_FRAMES x HAMMING_N_BANDS, and reassembling any
        frame's band keys recovers that frame's hash."""
        df = spark.createDataFrame(
            [(1, "a few words make a tiny document here")],
            "doc_id long, text string",
        )
        h = multimodal.video_dhash_frames(
            multimodal.documents_as_video_media(df)
        )
        from jly_flink_spark.sources.layout import (
            HAMMING_BAND_BITS,
            HAMMING_N_BANDS,
            hamming_bands,
        )

        rows = hamming_bands(h, "vh", "doc_id", "f").collect()
        assert len(rows) == (
            multimodal.VIDEO_FRAMES * HAMMING_N_BANDS
        )
        by_f = {}
        for r in rows:
            by_f.setdefault(r["f"], [0, None])
            by_f[r["f"]][0] |= r["bkey"] << (
                HAMMING_BAND_BITS * r["b"]
            )
            by_f[r["f"]][1] = r["vh"]
        for rebuilt, vh in by_f.values():
            assert rebuilt == vh


def test_doremi_weights_contract(spark, sf_dir):
    """mixture_doremi_weights: smoothed weights sum to ~1e6 ppm
    (integer-division slack bounded by 2·n_src), every weight ≥ the
    α-floor uniform/5 share, and excess is clamped to the cap."""
    from jly_flink_spark.plans import REGISTRY
    from jly_flink_spark.plans.curation_queries import (
        DOREMI_EXCESS_CAP_MILLI,
    )

    rows = (
        REGISTRY["mixture_doremi_weights"]
        .spark_fn(spark, sf_dir)
        .collect()
    )
    assert rows
    n = len(rows)
    total = sum(r["doremi_ppm"] for r in rows)
    assert abs(total - 1_000_000) <= 2 * n, total
    floor = (1_000_000 // n) // 5
    for r in rows:
        assert 0 <= r["excess_milli"] <= DOREMI_EXCESS_CAP_MILLI
        assert r["doremi_ppm"] >= floor - 1, r


def test_recall_at_k_and_hard_negatives_contracts(spark, sf_dir):
    """ann_recall_at_k: 0 ≤ n_hits ≤ k and recall_ppm is exactly
    1e6·n_hits//k; with n_probe=n_list the recall would be 1e6 (the
    brute-force-equality anchor lives in test_ivf_serving). Hard
    negatives: no returned candidate may share the query's label,
    and each query returns exactly k rows ranked 1..k."""
    from pyspark.sql import functions as F

    from jly_flink_spark.io import load_table
    from jly_flink_spark.plans import REGISTRY

    rec = REGISTRY["ann_recall_at_k"].spark_fn(spark, sf_dir).collect()
    assert rec
    for r in rec:
        assert 0 <= r["n_hits"] <= r["k"]
        assert r["recall_ppm"] == 1_000_000 * r["n_hits"] // r["k"]

    hn = REGISTRY["ann_hard_negatives"].spark_fn(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    joined = (
        hn.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("ql"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("cand_id"),
                F.col("label").alias("cl"),
            ),
            "cand_id",
        )
    )
    assert joined.filter(F.col("ql") == F.col("cl")).count() == 0
    per_q = {
        r["query_id"]: sorted(r["rnks"])
        for r in hn.groupBy("query_id")
        .agg(F.collect_list("rnk").alias("rnks"))
        .collect()
    }
    for q, rnks in per_q.items():
        assert rnks == list(range(1, len(rnks) + 1)), (q, rnks)
