"""Streaming corpus-admission gate — the composed ingest path.

The reference job's whole purpose is continuous admission of CDC
records into an analytical store (`StartJob.java`: tail → validate →
route → sink). This module is that shape for the TRAINING-CORPUS
surface: one `foreachBatch` body that runs the batch pipeline
`pipeline_training_corpus_v3`'s admission policy incrementally over
arriving documents, probing the persisted incremental indexes this
repo already maintains (exact-fingerprint ledger, MinHash-LSH band
index, winnowing fingerprint index, dHash band index) plus the static
benchmark decontamination set, and writing admitted state back to all
of them in the same epoch.

Policy stages (the batch pipeline's order, one image stage added):

1. exact dedup     — intra-batch min-doc_id per fingerprint, then
                     drop any fingerprint already in the ledger
2. text near-dup   — MinHash-LSH candidates (intra-batch buckets +
                     index probes), exact-Jaccard ≥ 0.8 verify, drop
                     doc_b of each verified (doc_a < doc_b) pair
3. decontamination — Bloom prefilter + exact trigram verify against
                     the static benchmark shingle set; benchmark ids
                     themselves never admit
3i. image near-dup — dHash Hamming-LSH pairs (intra-batch bands +
                     index probes), drop doc_b (min-id wins) —
                     the stage the text pipeline cannot express
4. quality gate    — frozen fixed-point classifier weights (model
                     state, like IVF centroids), p > 500
5. ExactSubstr     — intra-batch `substring_cut_retention` (exact
                     span mass, = the batch pipeline) AND the
                     incremental winnow-containment probe vs the
                     indexed corpus (cross-batch duplication)
6. per-source cap  — deterministic md5 rank, offset by the admitted
                     ledger's running per-source counts

Batch↔stream parity contract: with EMPTY state and the whole corpus
as one batch, stages 1-6 equal `pipeline_training_corpus_v3` exactly
(stage 3i off; the registered `pipeline_streaming_admission` query is
the hash-checked batch equivalent WITH the image stage). Across
micro-batches the gate is keep-first: already-admitted documents are
never revoked, so a duplicate pair split across batches keeps its
EARLIER member — under doc_id-ordered arrival that is the batch
policy's min-id rule; out-of-order arrival can admit both sides of a
pair (the price every streaming dedup pays; the batch pipeline is the
periodic reconciliation path).

Replay idempotence: every index/ledger probe first anti-joins the
CURRENT batch's doc_ids out of the state it reads, so a foreachBatch
epoch replayed after a mid-epoch failure sees exactly the pre-epoch
state and reproduces its decisions bit-for-bit; the replayed appends
duplicate rows physically, which the probes ignore (distinct-based)
and the next compaction drains — the LSM contract every index shares
through `sources.layout` (`delete_ids` / `read_index` /
`compact_index` with each index's spec).

Scale shape at 100 TB ingest: per micro-batch, every probe is an
equijoin of the (small) batch against an index pruned by sorted-file
min/max statistics (band_key / h / (b, bkey) sort orders at write
time), candidate verification touches only collided pairs, quality
and decontamination are stateless per-row expressions (the Bloom
words and classifier weights are broadcast literals), and the only
global state consulted is the per-source admitted COUNT — a
groupBy over the slim ledger projection. Nothing rescans the corpus.

Reference parity: StartJob.java:63-146 (validate → route → sink on
one stream), SrStreamLoadClient.java:44 (idempotent epoch labels);
the admission policy itself mirrors plans/training_queries.py's
pipeline_training_corpus_v3 (round-9 verified).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import stage
from ..operators import dedup
from ..operators import multimodal as mm
from ..operators.bloom import bloom_probe_expr, build_bloom_words
from ..operators.classifier import QUALITY_MIN_P, with_quality_p
from ..operators.text import fingerprint, tokens, trigram_shingles
from ..sources.layout import (
    compact_index,
    compact_sorted,
    hamming_bands,
    one_value_per_key,
    read_index,
    swap_layout,
)

# admission thresholds — shared with the batch pipeline
MIN_JACCARD = 0.8
BENCH_MAX_DOC = 20
# a doc whose duplicated span mass exceeds half is cut (stage 5 keeps
# retention_ppm >= the batch pipeline's RETENTION_MIN_PPM; the
# cross-batch winnow containment mirrors the same half-mass boundary)
CONTAIN_CUT_PPM = 500_000
WINNOW_MAX_DF = 50

_LEDGER_SCHEMA = (
    "doc_id long, source string, lang string, text string, fp string,"
    " passed2 boolean, passed3 boolean, passed4 boolean,"
    " passed5 boolean, admitted boolean, kn_y bigint"
)
# kn_y: the doc's milli-nat KN log-perplexity (v5 policy, NULL under
# v3 or for unscored docs) — persisted so future batches' σ-gate
# statistics extend over ALL prior quality-survivors without ever
# re-scoring ledger text (the no-corpus-rescan rule).

_AUDIO_IDX_SCHEMA = "doc_id long, afp long, b int, bkey long"
_VIDEO_IDX_SCHEMA = "doc_id long, f int, vh long, b int, bkey long"
_KN_COST_SCHEMA = "w1 string, w2 string, w3 string, nll_micro long"


@dataclass
class AdmissionPaths:
    """Filesystem layout of the gate's persistent state — one root,
    four artifacts. The ledger holds one row per exact-dedup survivor
    with its stage flags (the corpus store + audit trail); the three
    indexes are the probe accelerators maintained by the existing
    LSM append/tombstone/compact contracts."""

    root: str

    @property
    def ledger(self) -> str:
        return os.path.join(self.root, "ledger")

    @property
    def lsh(self) -> str:
        return os.path.join(self.root, "lsh_bands")

    @property
    def winnow(self) -> str:
        return os.path.join(self.root, "winnow_fps")

    @property
    def dhash(self) -> str:
        return os.path.join(self.root, "dhash_bands")

    @property
    def bench(self) -> str:
        return os.path.join(self.root, "bench_shingles")

    @property
    def audio(self) -> str:
        return os.path.join(self.root, "audio_bands")

    @property
    def video(self) -> str:
        return os.path.join(self.root, "video_bands")

    @property
    def kn_cost(self) -> str:
        return os.path.join(self.root, "kn_cost")


@dataclass
class AdmissionState:
    """The gate's state as FRAMES, so the policy is a pure function
    testable without a filesystem: ledger rows (kept1 docs + flags),
    LSH bands of kept1 docs, winnow fingerprints of kept4 docs, dHash
    bands of kept3 docs, the static benchmark shingle set, and its
    Bloom words (broadcast model state)."""

    ledger: DataFrame
    lsh_bands: DataFrame
    winnow_fps: DataFrame
    dhash_bands: DataFrame
    bench_shingles: DataFrame
    bloom_words: list
    # v5-policy state (empty/None under v3): the two extra perceptual
    # band indexes and the FROZEN KN trigram cost table (model state,
    # the classifier-weights discipline one size up — broadcast-able
    # because it is trigram-TYPE-bounded, not corpus-bounded)
    audio_bands: DataFrame | None = None
    video_bands: DataFrame | None = None
    kn_cost: DataFrame | None = None


def empty_state(
    spark,
    bench_docs: DataFrame | None = None,
    kn_cost: DataFrame | None = None,
) -> AdmissionState:
    """State for a cold start: empty ledger/indexes plus the static
    benchmark decontamination set built from ``bench_docs`` (or an
    empty one). ``kn_cost`` freezes the v5 LM gate's cost table
    (None → gate scores nothing and every doc passes it)."""
    ledger = spark.createDataFrame([], _LEDGER_SCHEMA)
    lsh = spark.createDataFrame([], "band_key string, doc_id long")
    win = spark.createDataFrame([], "doc_id long, h long, n_fp long")
    dh = spark.createDataFrame(
        [], "doc_id long, dhash long, b int, bkey long"
    )
    au = spark.createDataFrame([], _AUDIO_IDX_SCHEMA)
    vi = spark.createDataFrame([], _VIDEO_IDX_SCHEMA)
    if bench_docs is not None:
        bench = _bench_shingle_set(bench_docs)
    else:
        bench = spark.createDataFrame([], "shingle string")
    bench = stage(bench, eager=True)
    words = build_bloom_words(bench)
    if kn_cost is None:
        kn_cost = spark.createDataFrame([], _KN_COST_SCHEMA)
    return AdmissionState(
        ledger, lsh, win, dh, bench, words, au, vi, kn_cost
    )


def _bench_shingle_set(bench_docs: DataFrame) -> DataFrame:
    """Distinct trigram shingles of the benchmark — the static
    decontamination reference (model state, built once)."""
    return (
        bench_docs.select(tokens(F.col("text")).alias("ts"))
        .select(F.explode(trigram_shingles(F.col("ts"))).alias("shingle"))
        .distinct()
    )


def init_admission_state(
    spark,
    paths: AdmissionPaths,
    bench_docs: DataFrame,
    kn_cost: DataFrame | None = None,
) -> None:
    """One-time setup: persist the benchmark shingle set, the empty
    ledger, and (v5) the frozen KN cost table. Index directories are
    created lazily by the first append (parquet append on a fresh
    path)."""
    _bench_shingle_set(bench_docs).write.mode("overwrite").parquet(
        paths.bench
    )
    spark.createDataFrame([], _LEDGER_SCHEMA).write.mode(
        "overwrite"
    ).parquet(paths.ledger)
    if kn_cost is not None:
        kn_cost.write.mode("overwrite").parquet(paths.kn_cost)


def load_state(spark, paths: AdmissionPaths) -> AdmissionState:
    """Read the persisted state; every index reads through
    `read_index`, so a pending tombstone stops blocking arrivals
    before the compaction that applies it. Missing index dirs
    (nothing appended yet) load as empty frames."""
    s = empty_state(spark)

    def _read(path, fallback, index=False):
        try:
            if index:
                return read_index(spark, path)
            return spark.read.parquet(path)
        except Exception:  # noqa: BLE001 — fresh path, no files yet
            return fallback

    ledger = _read(paths.ledger, s.ledger)
    if "kn_y" not in ledger.columns:  # pre-round-11 ledger layout
        ledger = ledger.withColumn("kn_y", F.lit(None).cast("bigint"))
    lsh = _read(paths.lsh, s.lsh_bands, index=True)
    win = _read(paths.winnow, s.winnow_fps, index=True)
    dh = _read(paths.dhash, s.dhash_bands, index=True)
    au = _read(paths.audio, s.audio_bands, index=True)
    vi = _read(paths.video, s.video_bands, index=True)
    kn = _read(paths.kn_cost, s.kn_cost)
    bench = stage(_read(paths.bench, s.bench_shingles), eager=True)
    words = build_bloom_words(bench)
    return AdmissionState(
        ledger, lsh, win, dh, bench, words, au, vi, kn
    )


def _audio_tier_losers(kept3: DataFrame, au_idx: DataFrame) -> DataFrame:
    """Audio near-dup losers among ``kept3``: energy-fingerprint
    Hamming-LSH pairs (intra-batch bands + index probes), doc_b of
    each verified (a < b) pair drops — the image stage's rule one
    modality over. Returns a (doc_id) frame (may contain dups; the
    caller's anti-join is duplicate-insensitive)."""
    media = mm.documents_as_audio_media(kept3)
    hashes = (
        mm.audio_fingerprint_frame(media)
        .filter(F.col("afp").isNotNull())
        .transform(stage)
    )
    bands = hamming_bands(hashes, "afp", "doc_id")
    # Band-bucket cap over batch ∪ index rows (the registered audio
    # query's PERCEPTUAL_MAX_BAND_BUCKET rule, ported from the video
    # tier round 12): 14-bit band keys saturate with corpus size.
    # DISTINCT doc_ids — the at-least-once index may hold replayed
    # copies, and probes must ignore physical duplicates.
    allb = (
        bands.select("doc_id", "b", "bkey")
        .unionAll(au_idx.select("doc_id", "b", "bkey"))
        .distinct()
    )
    ok = (
        allb.groupBy("b", "bkey")
        .count()
        .filter(F.col("count") <= mm.PERCEPTUAL_MAX_BAND_BUCKET)
        .select("b", "bkey")
    )
    bands_c = bands.join(ok, ["b", "bkey"], "left_semi")
    x = bands_c.select(F.col("doc_id").alias("doc_a"), "b", "bkey")
    y = bands_c.select(F.col("doc_id").alias("doc_b"), "b", "bkey")
    intra = (
        x.join(y, ["b", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cross = (
        bands_c.join(
            au_idx.select(
                F.col("doc_id").alias("doc_a"), "b", "bkey"
            ).join(ok, ["b", "bkey"], "left_semi"),
            ["b", "bkey"],
        )
        .filter(F.col("doc_a") < F.col("doc_id"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    cand = intra.unionAll(cross).distinct()
    # One afp per doc over batch ∪ index rows BEFORE the verify
    # joins: replayed index rows (same afp) collapse silently;
    # conflicting afp — content re-appended without a tombstone —
    # raises the compaction guard's named cause.
    fp = one_value_per_key(
        hashes.select("doc_id", "afp").unionAll(
            au_idx.select("doc_id", "afp")
        ),
        mm.AUDIO_INDEX.key,
        "afp",
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.join(
            fp.select(
                F.col("doc_id").alias("doc_a"),
                F.col("afp").alias("fa"),
            ),
            "doc_a",
        )
        .join(
            fp.select(
                F.col("doc_id").alias("doc_b"),
                F.col("afp").alias("fb"),
            ),
            "doc_b",
        )
        .filter(ham <= mm.AUDIO_HAM_MAX)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def _video_tier_losers(kept3: DataFrame, vi_idx: DataFrame) -> DataFrame:
    """Video near-dup losers among ``kept3``: TEMPORALLY-ALIGNED
    per-frame dHash bands — candidates must collide at the same
    (frame slot, band, bits); pairs verify by ≥ VIDEO_MIN_CLOSE of
    VIDEO_FRAMES aligned frames within per-frame Hamming
    VIDEO_FRAME_HAM_MAX. The cross-batch close-count reads the index
    rows' own vh values (hashes ride in every band row), never the
    corpus. doc_b of each verified (a < b) pair drops."""
    media = mm.documents_as_video_media(kept3)
    hashes = mm.video_dhash_frames(media).transform(stage)
    bands = hamming_bands(hashes, "vh", "doc_id", "f")
    # Band-bucket cap over batch ∪ index rows (the registered video
    # query's PERCEPTUAL_MAX_BAND_BUCKET rule): 14-bit band keys
    # saturate with corpus size; with an empty index this is exactly
    # the batch twin's cap, so single-batch parity holds. The count
    # is per DISTINCT doc_id — the at-least-once index may hold
    # replayed copies of a band row, and the module contract says
    # probes ignore physical duplicates, so a replayed history must
    # cap exactly like a clean one.
    allb = (
        bands.select("doc_id", "f", "b", "bkey")
        .unionAll(vi_idx.select("doc_id", "f", "b", "bkey"))
        .distinct()
    )
    ok = (
        allb.groupBy("f", "b", "bkey")
        .count()
        .filter(F.col("count") <= mm.PERCEPTUAL_MAX_BAND_BUCKET)
        .select("f", "b", "bkey")
    )
    bands = bands.join(ok, ["f", "b", "bkey"], "left_semi").transform(
        stage
    )
    x = bands.select(F.col("doc_id").alias("doc_a"), "f", "b", "bkey")
    y = bands.select(F.col("doc_id").alias("doc_b"), "f", "b", "bkey")
    intra = (
        x.join(y, ["f", "b", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    cross = (
        bands.join(
            vi_idx.select(
                F.col("doc_id").alias("doc_a"), "f", "b", "bkey"
            ).join(ok, ["f", "b", "bkey"], "left_semi"),
            ["f", "b", "bkey"],
        )
        .filter(F.col("doc_a") < F.col("doc_id"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    cand = intra.unionAll(cross).distinct()
    # Close-count via per-doc frame-hash MAPS (the registered video
    # query's round-11 shape — two broadcast joins + one per-pair
    # aligned-slot expression instead of a |cand|·16-row join):
    # batch side from this batch's hashes, index side from the
    # (distinct) index band rows.
    # One vh per (doc_id, f) BEFORE map_from_entries: replayed rows
    # (same vh) collapse silently; CONFLICTING vh under one frame —
    # content re-appended without a tombstone — raises the compaction
    # guard's named cause instead of Spark's opaque "duplicate map
    # key" error.
    per_frame = one_value_per_key(
        hashes.select("doc_id", "f", "vh").unionAll(
            vi_idx.select("doc_id", "f", "vh")
        ),
        mm.VIDEO_INDEX.key,
        "vh",
    )
    fmap = per_frame.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("f", "vh"))).alias(
            "fm"
        )
    )
    return (
        cand.join(
            fmap.select(
                F.col("doc_id").alias("doc_a"),
                F.col("fm").alias("fma"),
            ),
            "doc_a",
        )
        .join(
            fmap.select(
                F.col("doc_id").alias("doc_b"),
                F.col("fm").alias("fmb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "size(filter(map_keys(fma), k ->"
                " map_contains_key(fmb, k) AND"
                " bit_count(fma[k] ^ fmb[k])"
                f" <= {mm.VIDEO_FRAME_HAM_MAX}))"
            ).alias("n_close"),
        )
        .filter(F.col("n_close") >= mm.VIDEO_MIN_CLOSE)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def admission_decisions(
    spark,
    batch: DataFrame,
    state: AdmissionState,
    weights: dict[str, int],
    source_cap: int | None = None,
    enable_image_gate: bool = True,
    policy: str = "v3",
) -> DataFrame:
    """The pure admission policy: one micro-batch of documents
    (doc_id, source, lang, text) against the given state → the
    decisions frame (one row per exact-dedup survivor of the batch,
    `_LEDGER_SCHEMA` columns). Performs no writes; `admit_batch`
    wraps it with state I/O. The returned frame is STAGED (computed
    once) — callers fan out to the ledger append, the index appends,
    and the admitted projection without re-running the probes.

    ``source_cap``: absolute per-source budget for streaming;
    ``None`` replays the batch pipeline's RELATIVE cap
    max(SOURCE_CAP_MIN, n5 // SOURCE_CAP_DEN) over the running
    stage-5 survivor count — exact in single-batch mode, monotone
    (cap only grows) across batches.

    ``policy``: "v3" (the round-9 gate: text/decon/image/quality/
    ExactSubstr/cap — the pinned `pipeline_streaming_admission`
    semantics, unchanged) or "v5" (round 11 — the ingest path
    tracks the batch frontier): the perceptual near-dup stage runs
    ALL THREE media tiers (image dHash, audio energy aHash, video
    temporally-aligned dHash) over the same decon-survivor pair
    universe, and stage 4b applies pipeline_training_corpus_v5's
    Kneser-Ney σ-gate — batch docs score against the FROZEN
    `state.kn_cost` table (broadcast model state), σ statistics
    extend over prior quality-survivors via the ledger's stored
    `kn_y` scores (never re-scoring ledger text), and docs more
    than 1σ above the mean milli-nat log-perplexity drop; unscored
    docs pass. With empty state and the whole corpus as one batch
    (cost table trained on it), v5 equals the batch pipeline's
    image+audio+video-extended v5 policy exactly — the
    `pipeline_streaming_admission_v5` hash contract.
    """
    from ..plans.curation_queries import SOURCE_CAP_DEN, SOURCE_CAP_MIN
    from ..plans.training_queries import (
        lm_milli_y,
        lm_sigma_drop,
        retention_keep_ids,
        source_cap_rank,
    )

    if policy not in ("v3", "v5"):
        raise ValueError(f"unknown admission policy {policy!r}")
    v5 = policy == "v5"
    if v5 and not enable_image_gate:
        raise ValueError(
            "policy='v5' runs all three media tiers; "
            "enable_image_gate=False only composes with 'v3'"
        )
    batch = batch.select("doc_id", "source", "lang", "text")
    batch_ids = stage(batch.select("doc_id").distinct(), eager=True)

    # Replay idempotence: a replayed epoch's own half-written rows
    # must not influence its decisions — every piece of state the
    # probes read excludes the current batch's doc_ids, restoring
    # exactly the pre-epoch view.
    def _pre_epoch(df):
        return df.join(F.broadcast(batch_ids), "doc_id", "left_anti")

    ledger = _pre_epoch(state.ledger)
    lsh_idx = _pre_epoch(state.lsh_bands)
    win_idx = _pre_epoch(state.winnow_fps)
    dh_idx = _pre_epoch(state.dhash_bands)
    au_idx = _pre_epoch(state.audio_bands) if v5 else None
    vi_idx = _pre_epoch(state.video_bands) if v5 else None

    # Decode-parallelism guard (round-11 straggler fix): AQE
    # rightly coalesces the tiny-BY-BYTES doc shuffles (a few MB)
    # down to one partition, but the survivor frames feed
    # CPU-dense per-doc work — media planting + perceptual decode,
    # winnowing, trigram explode — whose cost AQE cannot see, so
    # the whole gate serialized onto one core (measured: ALL 10×
    # rows in 1 of 2 post-AQE partitions; the round-10 probe's one
    # straggler stage). Each staged fan-out frame is therefore
    # explicitly repartitioned by doc_id to cluster parallelism:
    # a few-MB shuffle buys every downstream map stage the full
    # executor fleet at any scale.
    from ..operators.ranking import resolve_shards

    shards = resolve_shards(batch, None)

    # ---- stage 1: exact dedup (keep min doc_id; ledger keeps first)
    slim = batch.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    winners = slim.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    led_fps = ledger.select("fp").distinct()
    kept1_ids = winners.join(led_fps, "fp", "left_anti").select("doc_id")
    kept1 = (
        batch.join(slim, "doc_id")
        .join(kept1_ids, "doc_id", "left_semi")
        .repartition(shards, "doc_id")
        .transform(stage)
    )

    # ---- stage 2: text near-dup (LSH → exact Jaccard ≥ 0.8).
    # ONE band table serves BOTH candidate sources: the rowwise
    # signature is value-identical to the batch explode/groupBy one
    # (see minhash_signature_rowwise), so the gate used to run the
    # signature pipeline twice over kept1 — once inside
    # minhash_candidate_pairs, once inside the index probe. Built
    # once, staged EAGERLY because the two consumers are concurrent
    # stages of the same job (a lazy cut would let them race the
    # cache population and recompute partitions). The signature
    # tokenizes kept1's cached text INLINE on purpose: it is the
    # expression's only consumer, and an A/B measured the
    # shared-token-array variant (stage the arrays, digest from
    # cache) SLOWER — deserializing cached token arrays costs more
    # than one inline pass over cached text. The Jaccard verify,
    # whose token frame has FOUR consumers, stages its arrays
    # internally (see verify_candidates_jaccard).
    bands1 = stage(
        dedup.minhash_bands(
            dedup.minhash_signature_rowwise(kept1)
        ),
        eager=True,
    )
    intra = dedup.minhash_pairs_from_bands(bands1)
    cross = (
        bands1.join(
            lsh_idx.withColumnRenamed("doc_id", "corpus_doc_id"),
            "band_key",
        )
        # the batch pipeline's asymmetric rule: doc_b of an (a < b)
        # pair drops — the index doc must be the SMALLER id for the
        # batch doc to lose (index docs are kept1 docs, admitted or
        # not, exactly like the batch operator's pair universe)
        .filter(F.col("corpus_doc_id") < F.col("doc_id"))
        .select(
            F.col("corpus_doc_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        .distinct()
    )
    cands = intra.unionAll(cross).distinct()
    # verification needs both sides' text: batch docs + the index
    # docs actually named by a candidate (slim semi-join, no corpus scan)
    idx_docs = ledger.select("doc_id", "text").join(
        cands.select(F.col("doc_a").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    verify_universe = kept1.select("doc_id", "text").unionAll(idx_docs)
    near = dedup.verify_candidates_jaccard(
        verify_universe, cands, min_jaccard=MIN_JACCARD
    )
    # Staged because kept2 is read by TWO actions: the kept3
    # materialization (job 1) and the decisions frame's passed2 flag
    # join (the final eager stage) — without the cut the ENTIRE
    # LSH+verify chain above re-executes in the second job (the ×10
    # probe's twin ~25 s/task whale stages with byte-identical
    # 474 MB band exchanges). The cut caches only the slim loser ids.
    losers2 = stage(
        near.select(F.col("doc_b").alias("doc_id")).distinct()
    )
    kept2 = kept1.join(losers2, "doc_id", "left_anti")

    # ---- stage 3: benchmark decontamination (Bloom prefilter +
    # exact verify; benchmark ids themselves never admit)
    kept2 = kept2.filter(F.col("doc_id") >= BENCH_MAX_DOC)
    sh = kept2.select(
        "doc_id", tokens(F.col("text")).alias("ts")
    ).select(
        "doc_id",
        F.explode(trigram_shingles(F.col("ts"))).alias("shingle"),
    )
    # Bloom has no false negatives, so the exact verify join only
    # sees the prefiltered survivors — the broadcast bench set is
    # touched by a fraction of the shingles
    sh_hit = sh.filter(bloom_probe_expr(state.bloom_words, F.col("shingle")))
    contaminated = (
        sh_hit.join(F.broadcast(state.bench_shingles), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    kept3 = (
        kept2.join(contaminated, "doc_id", "left_anti")
        .repartition(shards, "doc_id")  # media tiers fan out below
        .transform(stage)
    )

    # ---- stage 3i: image near-dup (dHash Hamming-LSH, min-id wins)
    if enable_image_gate:
        media = mm.documents_as_pixel_media(kept3)
        hashes = mm.pixel_dhash_frame(media).filter(
            F.col("dhash").isNotNull()
        )
        bands = hamming_bands(hashes, "dhash", "doc_id").transform(stage)
        x = bands.select(
            F.col("doc_id").alias("doc_a"),
            F.col("dhash").alias("ha"),
            "b",
            "bkey",
        )
        y = bands.select(
            F.col("doc_id").alias("doc_b"),
            F.col("dhash").alias("hb"),
            "b",
            "bkey",
        )
        ham_intra = (
            x.join(y, ["b", "bkey"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "ha", "hb")
            .distinct()
        )
        cross_img = (
            bands.join(
                dh_idx.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("dhash").alias("ha"),
                    "b",
                    "bkey",
                ),
                ["b", "bkey"],
            )
            .filter(F.col("doc_a") < F.col("doc_id"))
            .select(
                "doc_a",
                F.col("doc_id").alias("doc_b"),
                "ha",
                F.col("dhash").alias("hb"),
            )
            .distinct()
        )
        hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        losers_img = (
            ham_intra.unionAll(cross_img)
            .filter(hamming <= mm.DHASH_HAM_MAX)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        media_losers = losers_img
        if v5:
            # audio + video tiers probe the SAME pre-drop pair
            # universe (kept3); the anti-join is duplicate-
            # insensitive so the union needs no extra distinct
            media_losers = media_losers.unionAll(
                _audio_tier_losers(kept3, au_idx)
            ).unionAll(_video_tier_losers(kept3, vi_idx))
        kept3 = kept3.join(
            media_losers, "doc_id", "left_anti"
        ).transform(stage)

    # ---- stage 4: frozen-weights quality gate. The score is a pure
    # per-row projection against literal weights, so the p-filter
    # FUSES into the survivor pass (with_quality_p) instead of
    # scoring a second frame and semi-joining the ids back — one
    # exchange pair fewer per policy tier (r13 verdict task 3;
    # guide §2.4). Bit-identical p (pinned by
    # test_with_quality_p_matches_score_quality).
    kept4 = (
        with_quality_p(kept3, weights)
        .filter(F.col("p") > QUALITY_MIN_P)
        .drop("p")
        .repartition(shards, "doc_id")  # winnow/trigram work below
        .transform(stage)
    )

    # ---- stage 4b (v5): Kneser-Ney σ-gate — score quality
    # survivors against the FROZEN cost table, pool σ statistics
    # with prior quality-survivors' stored scores (ledger kn_y),
    # drop docs > 1σ above the mean — the batch pipeline's σ rule
    # (lm_sigma_drop). Unscored docs pass.
    batch_kn = None
    if v5:
        from ..plans.curation_queries import (
            doc_trigrams_frame,
            kn_score_frame,
        )

        batch_kn = stage(
            kn_score_frame(
                doc_trigrams_frame(kept4), state.kn_cost
            ).select("doc_id", lm_milli_y("kn_logppl_micro")),
            eager=True,
        )
        prior_y = ledger.filter(F.col("kn_y").isNotNull()).select(
            F.col("kn_y").alias("y")
        )
        # Stage the SLIM dropped-id set, not a second full-payload
        # checkpoint of kept4: the post-gate frame's four consumers
        # (retention, winnow containment, kept5, flags) re-run only
        # a broadcast anti-join against staged kept4 — no heavy
        # recompute — and the text column is materialized once
        # instead of twice (r13 verdict task 3: narrow the survivor
        # payload through the staged checkpoints).
        lm_drop = stage(lm_sigma_drop(batch_kn, prior_y))
        # no broadcast hint: the dropped-id set is corpus-bounded in
        # the batch twin — AQE picks broadcast when it actually fits
        kept4 = kept4.join(lm_drop, "doc_id", "left_anti")

    # ---- stage 5: ExactSubstr retention (intra-batch exact) AND
    # winnow containment vs the indexed corpus (cross-batch)
    keep_ret = retention_keep_ids(kept4)
    contain = dedup.winnow_containment_vs_index(
        kept4, win_idx, max_df=WINNOW_MAX_DF
    )
    cut_cross = contain.filter(
        F.col("contain_ppm") > CONTAIN_CUT_PPM
    ).select("doc_id")
    # kept5 is SLIM (doc_id, source): none of its consumers — the n5
    # count, the cap ranking, the passed5/admitted flags — reads
    # text/lang/fp, so the checkpoint carries two narrow columns
    # instead of the full document payload (r13 verdict task 3).
    kept5 = (
        kept4.join(keep_ret, "doc_id", "left_semi")
        .join(cut_cross, "doc_id", "left_anti")
        .select("doc_id", "source")
        .transform(stage)
    )

    # ---- stage 6: per-source cap (md5 rank, offset by the running
    # admitted counts). Counts and n5 are scalar model state over
    # slim ledger projections — the batch pipeline's n5 discipline.
    if source_cap is None:
        # ONE count action, not two: pre-epoch ledger ids and batch
        # kept5 ids are disjoint by construction (the ledger view is
        # anti-joined against the batch), so the union's count equals
        # the old n5_prior + kept5.count() exactly.
        n5 = (
            ledger.filter(F.col("passed5"))
            .select("doc_id")
            .distinct()
            .unionAll(kept5.select("doc_id"))
            .count()
        )
        cap = max(SOURCE_CAP_MIN, n5 // SOURCE_CAP_DEN)
    else:
        cap = int(source_cap)
    prior_counts = (
        ledger.filter(F.col("admitted"))
        .groupBy("source")
        .agg(F.count_distinct("doc_id").alias("n_admitted"))
    )
    ranked = (
        kept5.join(F.broadcast(prior_counts), "source", "left")
        .withColumn(
            "n_admitted", F.coalesce("n_admitted", F.lit(0))
        )
        .withColumn("rnk", source_cap_rank())
    )
    admitted_ids = ranked.filter(
        F.col("n_admitted") + F.col("rnk") <= F.lit(cap)
    ).select("doc_id")

    # ---- decisions frame: every kept1 row with its stage flags
    def _flag(ids_df, name):
        return ids_df.select("doc_id", F.lit(True).alias(name))

    decisions = (
        kept1.select("doc_id", "source", "lang", "text", "fp")
        .join(_flag(kept2.select("doc_id"), "passed2"), "doc_id", "left")
        .join(_flag(kept3.select("doc_id"), "passed3"), "doc_id", "left")
        .join(_flag(kept4.select("doc_id"), "passed4"), "doc_id", "left")
        .join(_flag(kept5.select("doc_id"), "passed5"), "doc_id", "left")
        .join(_flag(admitted_ids, "admitted"), "doc_id", "left")
    )
    # kn_y rides into the ledger for every scored quality survivor
    # (pre-LM-drop universe — LM losers still seed future σ stats)
    if batch_kn is not None:
        decisions = decisions.join(
            batch_kn.select("doc_id", F.col("y").alias("kn_y")),
            "doc_id",
            "left",
        )
    else:
        decisions = decisions.withColumn(
            "kn_y", F.lit(None).cast("bigint")
        )
    decisions = decisions.select(
        "doc_id",
        "source",
        "lang",
        "text",
        "fp",
        *[
            F.coalesce(c, F.lit(False)).alias(c)
            for c in (
                "passed2",
                "passed3",
                "passed4",
                "passed5",
                "admitted",
            )
        ],
        "kn_y",
    )
    return stage(decisions, eager=True)


def admit_batch(
    spark,
    batch: DataFrame,
    paths: AdmissionPaths,
    weights: dict[str, int],
    source_cap: int | None = None,
    enable_image_gate: bool = True,
    policy: str = "v3",
) -> DataFrame:
    """The foreachBatch body: load state, decide, write admitted
    state back to the ledger AND every index in this epoch, return
    the admitted documents. At-least-once: a replay re-appends
    identical rows (decisions are replay-invariant — see
    `admission_decisions`), the probes ignore physical duplicates,
    and the periodic `compact_admission_state` drains them."""
    state = load_state(spark, paths)
    decisions = admission_decisions(
        spark,
        batch,
        state,
        weights,
        source_cap=source_cap,
        enable_image_gate=enable_image_gate,
        policy=policy,
    )

    # write-back, one artifact per stage-reference corpus:
    # ledger ← every kept1 row (flags included)
    decisions.write.mode("append").parquet(paths.ledger)
    # LSH bands ← kept1 docs (stage-2's pair universe)
    dedup.append_to_lsh_index(
        decisions.select("doc_id", "text"), paths.lsh
    )
    # perceptual band indexes ← kept3 docs (the media tiers' pair
    # universe for the next batch: keep-first, losers never index)
    if enable_image_gate:
        kept3_docs = decisions.filter(F.col("passed3")).select(
            "doc_id", "text"
        )
        mm.append_to_dhash_index(
            mm.documents_as_pixel_media(kept3_docs), paths.dhash
        )
        if policy == "v5":
            mm.append_to_audio_index(
                mm.documents_as_audio_media(kept3_docs), paths.audio
            )
            mm.append_to_video_index(
                mm.documents_as_video_media(kept3_docs), paths.video
            )
    # winnow fingerprints ← kept4 docs (stage-5's span universe)
    dedup.append_to_winnow_index(
        decisions.filter(F.col("passed4")).select("doc_id", "text"),
        paths.winnow,
    )
    return decisions.filter(F.col("admitted")).select(
        "doc_id", "source", "lang", "text"
    )


def compact_admission_state(spark, paths: AdmissionPaths) -> None:
    """Maintenance pass over the ledger and every index — the shared
    LSM compaction contract (serialize with appends on one timeline).
    The ledger dedups whole rows: replays append bit-identical rows,
    and one row per kept1 doc is the invariant."""
    for path, spec in (
        (paths.lsh, dedup.LSH_INDEX),
        (paths.winnow, dedup.WINNOW_INDEX),
        (paths.dhash, mm.DHASH_INDEX),
        (paths.audio, mm.AUDIO_INDEX),
        (paths.video, mm.VIDEO_INDEX),
    ):
        # an index no batch has appended to yet (a fresh state, the
        # image gate off, the v3 policy's audio/video) has no files
        if os.path.exists(path):
            compact_index(spark, path, spec)
    tmp = paths.ledger.rstrip("/") + ".compacting"
    compact_sorted(
        spark.read.parquet(paths.ledger).dropDuplicates(["doc_id"]),
        tmp,
        ["doc_id"],
        4_000_000,
    )
    swap_layout(paths.ledger, tmp)


def run_admission_stream(
    spark,
    docs_stream: DataFrame,
    paths: AdmissionPaths,
    weights: dict[str, int],
    checkpoint_dir: str,
    admitted_dir: str,
    source_cap: int | None = None,
    enable_image_gate: bool = True,
    policy: str = "v3",
):
    """Wire the gate onto a streaming frame: each micro-batch runs
    `admit_batch` and lands its admitted documents under
    ``admitted_dir`` (partitioned parquet, append). Returns the
    started StreamingQuery; callers own stop/await. ``policy='v5'``
    runs the full batch-frontier gate (all three media tiers + the
    KN σ-gate) — requires `init_admission_state` to have persisted
    the frozen kn_cost table."""

    def _body(batch_df, epoch_id):
        admitted = admit_batch(
            batch_df.sparkSession,
            batch_df,
            paths,
            weights,
            source_cap=source_cap,
            enable_image_gate=enable_image_gate,
            policy=policy,
        )
        admitted.write.mode("append").parquet(admitted_dir)

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
