"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale design (the 100-TB considerations, per operator):

- Exact dedup: one hash-shuffle on the fingerprint — the minimum
  possible. Never `dropDuplicates()` on the raw text column (shuffles
  full documents); shuffle the 32-byte hash + doc_id, keep the
  canonical representative (min doc_id), semi-join back if full rows
  are needed.
- MinHash LSH: per-doc signatures are a scan (explode tokens → K
  mins via one partial-aggregated groupBy on doc_id). Candidate
  generation shuffles only (band_key, doc_id) pairs — band keys are
  hashes, so the shuffle is uniform by construction; no skew salting
  needed. Verification (exact Jaccard) runs only on candidate pairs.
- SimHash: per-doc 16-bit signature via bit-majority aggregation —
  a single groupBy; near-dup = equal signature (or Hamming≤d via
  banding the signature).
- n-gram Jaccard: shingle inverted index; pairs sharing a shingle
  are co-grouped by the shingle hash. Hot shingles (stopword n-grams)
  are the skew risk — cap or filter document-frequency-heavy shingles
  before the pair join.

All hashes are md5-based so every engine (and the DuckDB oracle)
computes identical values — no engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import ensure_min_parallelism, stage, stage_eager
from ..sources.layout import IndexSpec, read_index, write_index
from .text import fingerprint, normalized_text, tokens

# MinHash parameters: K hashes in B bands of R rows (K = B*R).
# Calibrated for the standard ~0.8-Jaccard near-dup threshold:
# collision threshold s* = (1/B)^(1/R) = (1/4)^(1/6) ≈ 0.79. Fewer
# rows per band (e.g. R=2 → s* ≈ 0.35) floods the candidate stage
# with low-similarity pairs — K cheap per-token hashes are orders of
# magnitude cheaper than expanding those pairs.
MINHASH_K = 24
MINHASH_BANDS = 4
MINHASH_ROWS = 6

# The K hash family is Kirsch–Mitzenmacher double hashing over ONE
# md5 per token: h_i(tok) = (a + i·b) mod 2^56, where a and b are the
# first/second 56-bit halves of md5(tok). One digest instead of K —
# the dominant per-token cost drops K-fold — while (a + i·b) keeps
# the h_i pairwise-independent enough for minhash (the same family
# Bloom filters use). 56 bits so i·b stays inside signed 64-bit for
# i < 64 on every engine.
MINHASH_MOD = 1 << 56


def _km_halves_of_digest(d):
    """(a, b) 56-bit halves of an md5 hex digest Column. The ONLY
    Spark-side definition of the half offsets — `_sql_hex_to_int` is
    its DuckDB mirror; `tests/test_incremental_dedup.py` pins the
    batch/rowwise agreement that depends on them matching."""
    a = F.conv(F.substring(d, 1, 14), 16, 10).cast("bigint")
    b = F.conv(F.substring(d, 17, 14), 16, 10).cast("bigint")
    return a, b


def _km_halves(tok):
    """(a, b) 56-bit halves of md5(tok) as bigint Columns."""
    return _km_halves_of_digest(F.md5(tok))


def _sql_hex_to_int(start: int) -> str:
    """DuckDB fragment: 14 hex chars of column `d` starting at
    1-based `start` → BIGINT (mirror of F.conv; DuckDB has no conv,
    so the digit positional sum is spelled out)."""
    return " + ".join(
        f"(instr('0123456789abcdef', substring(d, {start + j}, 1)) - 1)"
        f" * {16 ** (13 - j)}"
        for j in range(14)
    )


def minhash_sigs_sql(doc_toks_rel: str = "doc_toks") -> str:
    """DuckDB body of the `sigs` CTE — generated from the SAME
    constants as the Spark plan so the two sides cannot drift."""
    mins = ", ".join(
        f"min((a + {i} * b) % {MINHASH_MOD}) AS h{i}"
        for i in range(MINHASH_K)
    )
    return (
        f"SELECT doc_id, {mins} FROM ("
        f"SELECT doc_id, ({_sql_hex_to_int(1)}) AS a, "
        f"({_sql_hex_to_int(17)}) AS b "
        f"FROM (SELECT doc_id, md5(tok) AS d FROM {doc_toks_rel})"
        f") GROUP BY doc_id"
    )


def minhash_bands_sql(sigs_rel: str = "sigs") -> str:
    """DuckDB body of the `bands` CTE (UNION ALL of per-band keys,
    '-'-separated so variable-length decimal values cannot collide)."""
    return " UNION ALL ".join(
        "SELECT doc_id, {key} AS band_key FROM {rel}".format(
            key=" || '-' || ".join(
                [f"'b{b}'"]
                + [
                    f"CAST(h{b * MINHASH_ROWS + r} AS VARCHAR)"
                    for r in range(MINHASH_ROWS)
                ]
            ),
            rel=sigs_rel,
        )
        for b in range(MINHASH_BANDS)
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: one row
    per distinct content with the canonical (min) doc_id and the
    duplicate count."""
    t = F.col(text_col)
    return (
        docs.select(F.col("doc_id"), fingerprint(t).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup_keep_first(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deduplicated corpus: keeps exactly the canonical (min doc_id)
    row per distinct normalized content. Implemented as a semi-join of
    the slim winners frame back to the corpus — the full rows are
    never shuffled."""
    t = F.col(text_col)
    slim = docs.select("doc_id", fingerprint(t).alias("fp"))
    winners = slim.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(winners.select("doc_id"), "doc_id", "left_semi")


def exact_dedup_stream(
    docs_sdf: DataFrame,
    eventtime_col: str,
    delay: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup on the SAME whitespace-normalized
    fingerprint as the batch `exact_dedup_keep_first`: the first
    arrival of each distinct content passes through, later copies
    within the watermark horizon are dropped, and the fingerprint
    state is evicted once the watermark passes (bounded state — the
    reason this is `dropDuplicatesWithinWatermark`, not the unbounded
    `dropDuplicates`). Batch/stream parity is set-level: the stream
    admits exactly one doc per distinct fingerprint (arrival order
    decides WHICH one; the batch operator's min-doc_id canonical pick
    needs totality a stream never has). A copy arriving after its
    original's state was evicted re-admits — size `delay` to the
    ingest pipeline's real dedup horizon; cross-horizon dedup is the
    batch operator's job (or the persisted LSH/fingerprint index)."""
    # collision-safe temp name: an input that already carries an
    # `fp` column must survive the round-trip unclobbered
    fp_col = "__dedup_fp"
    t = F.col(text_col)
    return (
        docs_sdf.withColumn(fp_col, fingerprint(t))
        .withWatermark(eventtime_col, delay)
        .dropDuplicatesWithinWatermark([fp_col])
        .drop(fp_col)
    )


def doc_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, tok) distinct token table — the shared input of the
    set-similarity operators. Fans the scan out first: the downstream
    explode+hash work is per-token CPU, and the partitioning on doc_id
    is reused by every per-doc aggregation that follows."""
    return ensure_min_parallelism(docs, keys=["doc_id"]).select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc MinHash signature: h_i(doc) = min over tokens of
    (a + i·b) mod 2^56 with (a, b) the halves of ONE md5(tok) —
    Kirsch–Mitzenmacher double hashing, so the per-token cost is one
    digest, not K. One groupBy on doc_id (partial min aggregation
    map-side)."""
    toks = doc_tokens(docs, text_col)
    a, b = _km_halves(F.col("tok"))
    mins = [
        F.min((a + F.lit(i) * b) % F.lit(MINHASH_MOD)).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]
    return toks.groupBy("doc_id").agg(*mins)


def minhash_bands(signatures: DataFrame) -> DataFrame:
    """Band keys: '-'-joined R consecutive minhashes per band (the
    separator keeps variable-length decimal values collision-free).

    All B band keys are emitted from ONE pass over the signatures via
    array+explode — a per-band select/union would make Spark recompute
    the whole signature aggregation B times."""
    band_keys = F.array(
        *[
            F.concat_ws(
                "-",
                F.lit(f"b{b}"),
                *[
                    F.col(f"h{b * MINHASH_ROWS + r}").cast("string")
                    for r in range(MINHASH_ROWS)
                ],
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return signatures.select(
        "doc_id", F.explode(band_keys).alias("band_key")
    )


def minhash_signature_rowwise(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-ROW MinHash signature — no explode, no groupBy: md5 each
    distinct token once into an array, then K array_min passes over
    the cheap (a + i·b) arithmetic. Values are IDENTICAL to
    `minhash_signatures` (min over an array ≡ min aggregation over
    the exploded rows; duplicates can't change a min), but the plan
    is completely stateless — which is what a STREAMING frame needs:
    append mode, no aggregation state, no watermark. Token-less docs
    are dropped, matching the batch pipeline (explode emits nothing
    for them)."""
    tok_arr = F.array_distinct(tokens(F.col(text_col)))
    return minhash_signature_from_tokens(
        docs.select("doc_id", tok_arr.alias("ts"))
    )


def minhash_signature_from_tokens(toks: DataFrame) -> DataFrame:
    """Row-wise MinHash signature from a PREPARED (doc_id, ts) frame,
    ts = the DISTINCT token array — for callers that already hold the
    tokenized corpus and share the arrays between the signature and
    the Jaccard verify (`tokens()` is a CodegenFallback higher-order
    chain, so every avoided pass is a full interpreted scan of the
    corpus). Values identical to `minhash_signatures` /
    `minhash_signature_rowwise` on the arrays' source."""
    # Materialize the digest array under ONE alias referenced by all
    # K mins: inlining `transform(ts, md5)` into each of the 24
    # columns would digest every row up to 24 times (higher-order
    # fns are CodegenFallback — no common-subexpression elimination
    # rescues the duplicates, and Catalyst keeps a non-cheap alias
    # referenced 24 times materialized).
    staged = toks.filter(F.size("ts") > 0).select(
        "doc_id", F.transform(F.col("ts"), F.md5).alias("_digests")
    )

    def h_i(i):
        # closure factory, NOT a default arg: F.transform passes the
        # ARRAY INDEX as the second argument to any two-parameter
        # lambda, which would silently replace a `lambda h, i=i` bind
        def expr(h):
            a, b = _km_halves_of_digest(h)
            return (a + F.lit(i) * b) % F.lit(MINHASH_MOD)

        return expr

    sig_cols = [
        F.array_min(F.transform(F.col("_digests"), h_i(i))).alias(
            f"h{i}"
        )
        for i in range(MINHASH_K)
    ]
    return staged.select("doc_id", *sig_cols)


# The LSH index's compaction spec: (band_key, doc_id) rows sorted on
# the probe key (sources.layout owns the append/delete/read/compact
# lifecycle every persisted index shares).
LSH_INDEX = IndexSpec(sort_cols=("band_key",))


def persist_lsh_index(
    docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Persist the corpus's LSH band table (band_key, doc_id) — the
    serving artifact for INCREMENTAL dedup: newly ingested documents
    probe this index instead of re-hashing the whole corpus. Rebuild
    per corpus version; at 100 TB sort by band_key at write time so
    per-file min/max statistics prune the probe join's scan."""
    bands = minhash_bands(minhash_signatures(docs, text_col))
    write_index(bands, path, LSH_INDEX, "overwrite")


def append_to_lsh_index(
    new_docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Index maintenance — the write-back half of incremental dedup:
    after a micro-batch's documents are admitted to the corpus,
    append their bands so FUTURE arrivals dedup against them too.
    Uses the stateless row-wise signature (same values as the batch
    pipeline), so it can run inside a foreachBatch alongside the
    probe. Appends are per-batch atomic in parquet; compact the
    accumulated small files on a cadence with
    `compact_index(spark, path, LSH_INDEX)`."""
    bands = minhash_bands(minhash_signature_rowwise(new_docs, text_col))
    write_index(bands, path, LSH_INDEX)


def stream_near_dup_candidates(
    new_docs: DataFrame,
    index_bands: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Continuous-ingest near-dup detection: each arriving document's
    bands (computed with the stateless row-wise signature) probe the
    persisted corpus index; any shared band emits a candidate pair
    (new doc, corpus doc). Works identically on a streaming frame
    (stream-static join, append mode, zero streaming state) and a
    batch frame. One pair may surface once per shared band —
    downstream verification (`verify_candidates_jaccard`) is
    idempotent, so dedup of candidates is the consumer's choice (a
    watermarked dropDuplicates in streaming, distinct in batch)."""
    bands_new = minhash_bands(
        minhash_signature_rowwise(new_docs, text_col)
    )
    return (
        bands_new.join(
            index_bands.withColumnRenamed("doc_id", "corpus_doc_id"),
            "band_key",
        )
        .filter(F.col("doc_id") != F.col("corpus_doc_id"))
        .select(
            F.col("doc_id").alias("new_doc_id"),
            "corpus_doc_id",
            "band_key",
        )
    )


# Skew guard for degenerate LSH buckets (e.g. empty-text docs all
# hashing identically): a bucket of n docs emits n(n-1)/2 pairs, so one
# pathological key can dominate the whole job. Buckets larger than this
# are near-certain duplicate *groups*, better handled by exact dedup.
MAX_LSH_BUCKET = 10_000


def _expand_bucket_pairs(
    items: DataFrame, key_cols: list[str], member_col: str
) -> DataFrame:
    """Shared LSH bucket machinery (one definition of the 100-TB skew
    story, used by the MinHash AND SimHash-Hamming paths): group
    members per bucket key, drop singleton and over-cap buckets
    (MAX_LSH_BUCKET — an over-full bucket is a giant duplicate group,
    exact dedup's job), and expand exactly the C(n,2) ordered pairs
    via sorted-bucket posexplode + suffix-slice (no n² generate-then-
    filter). The repartition between the two explodes is the skew
    fix: a degenerate bucket of n members otherwise expands entirely
    inside ONE task; spread by (key, a), each task expands one
    suffix. Output columns (a, b); callers rename, verify, and
    distinct (a pair can share several buckets)."""
    buckets = (
        items.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_set(member_col)).alias("members"))
        .filter(
            (F.size("members") > 1)
            & (F.size("members") <= MAX_LSH_BUCKET)
        )
    )
    return (
        buckets.select(
            *key_cols,
            F.posexplode("members").alias("pos", "a"),
            "members",
        )
        .repartition(*key_cols, "a")
        .select(
            "a",
            F.explode(
                F.expr("slice(members, pos + 2, size(members))")
            ).alias("b"),
        )
    )


def minhash_candidate_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band.
    Output: (doc_a, doc_b) with doc_a < doc_b, distinct.

    One shuffle on band_key (uniform by construction — keys are
    hashes), pairs expanded within each bucket by
    `_expand_bucket_pairs`. This beats a bands⋈bands self-join twice
    over: the signature pipeline is computed once, not twice, and the
    bucket is materialized once instead of hash-joined."""
    bands = minhash_bands(minhash_signatures(docs, text_col))
    return minhash_pairs_from_bands(bands)


def minhash_pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Intra-corpus candidate pairs from a PREBUILT band table — for
    callers that already hold the bands (e.g. the admission gate,
    which needs the same band frame for the persisted-index probe and
    would otherwise run the whole signature pipeline twice). Values
    identical to `minhash_candidate_pairs` on the bands' source."""
    return (
        _expand_bucket_pairs(bands, ["band_key"], "doc_id")
        .select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_jaccard: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact token-set Jaccard over pairs sharing ≥1 token.

    `max_shingle_df` drops ubiquitous tokens (document frequency cap)
    before the pair join — the skew guard: a stopword shared by every
    doc would otherwise produce an O(n²) hot key."""
    toks = doc_tokens(docs, text_col)
    df_counts = toks.groupBy("tok").agg(F.count("*").alias("df"))
    rare = toks.join(
        F.broadcast(df_counts.filter(F.col("df") <= max_shingle_df)),
        "tok",
        "left_semi",
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    a = rare.alias("a")
    b = rare.alias("b")
    shared = (
        a.join(b, "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("n_b")
    )
    jac = (
        F.col("n_shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
    )
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _simhash(
    docs: DataFrame, text_col: str, n_hex: int, out_col: str
) -> DataFrame:
    """SimHash of 4·n_hex bits via bit-majority over token md5s — the
    ONE Spark-side definition of the vote/fold arithmetic (the DuckDB
    mirrors in plans/northstar_queries share a builder the same way).

    Uses only md5 + substring + arithmetic (no engine-private hash),
    so an oracle can reproduce it verbatim: hex digit j of md5(tok)
    contributes its 4 bits; each bit votes +1/-1; the signature bit is
    1 iff the vote sum is ≥ 0."""
    toks = doc_tokens(docs, text_col)
    h = F.md5(F.col("tok"))
    digit = lambda j: (  # noqa: E731
        F.instr(
            F.lit("0123456789abcdef"), F.substring(h, j + 1, 1)
        )
        - 1
    )
    votes = []
    for j in range(n_hex):
        d = digit(j)
        bits = [
            (d >= 8).cast("int"),
            ((d % 8) >= 4).cast("int"),
            ((d % 4) >= 2).cast("int"),
            (d % 2),
        ]
        for k, bit in enumerate(bits):
            votes.append(
                F.sum(bit * 2 - 1).alias(f"v{j * 4 + k}")
            )
    voted = toks.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(n_hex * 4):
        bit = (F.col(f"v{i}") >= 0).cast("bigint") * (2**i)
        sig = bit if sig is None else sig + bit
    return voted.select("doc_id", sig.alias(out_col))


def simhash16(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash (4 md5 hex digits) — the grouping-stage width;
    see `_simhash` for the arithmetic."""
    return _simhash(docs, text_col, 4, "simhash")


# Wide-SimHash Hamming search parameters (Manku/Jain/Das Sarma,
# "Detecting Near-Duplicates for Web Crawling", WWW'07): a 60-bit
# signature (15 md5 hex digits x 4 bits — 60 not 64 so the value
# stays positive in signed int64 on every engine) split into 4 bands
# of 15 bits. Pigeonhole: two signatures within Hamming distance
# K_HAMMING=3 differ in at most 3 bands, so they MUST agree exactly
# on at least one 15-bit band — banding finds all such pairs with
# 2^15 bucket values per band (uniform, md5-derived), never an
# all-pairs comparison.
SIMHASH_WIDE_HEX = 15
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
K_HAMMING = 3


def simhash_wide(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash — `simhash16` widened to SIMHASH_WIDE_HEX md5
    hex digits so Hamming-distance banding has real bucket
    cardinality (2^15 values per band; 16-bit signatures would give
    16 and collapse at scale). Same bit-majority arithmetic
    (`_simhash`), exact int64 throughout."""
    return _simhash(docs, text_col, SIMHASH_WIDE_HEX, "sig")


def simhash_hamming_pairs(
    docs: DataFrame, text_col: str = "text", k: int = K_HAMMING
) -> DataFrame:
    """Near-dup pairs within Hamming distance `k` of the 60-bit
    SimHash: (doc_a, doc_b, hamming), doc_a < doc_b, distinct.

    Plan shape (the 100-TB path): one groupBy builds signatures, one
    explode emits 4 (band_idx, band_val) rows per doc carrying the
    signature, one shuffle co-groups each band bucket, and pairs
    expand inside buckets with the same skew guards as the MinHash
    path (MAX_LSH_BUCKET cap — an over-full bucket is a giant
    duplicate group, exact dedup's job; posexplode+suffix-slice for
    C(n,2) expansion spread across tasks). The Hamming verify is
    bit_count(xor) on two int64s — no token re-reading, no second
    pass over the corpus. Signatures ride inside the buckets as
    (doc_id, sig) structs, so the verify needs NO join back to the
    corpus."""
    if k > SIMHASH_BANDS - 1:
        raise ValueError(
            f"simhash_hamming_pairs: k={k} exceeds the banding's "
            f"completeness bound (k <= {SIMHASH_BANDS - 1}): with "
            f"{SIMHASH_BANDS} bands, {SIMHASH_BANDS} differing bits "
            "can touch every band and such a pair would be silently "
            "missed — widen SIMHASH_BANDS instead"
        )
    sigs = simhash_wide(docs, text_col)
    band_vals = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("sig"), b * SIMHASH_BAND_BITS)
                .bitwiseAND((1 << SIMHASH_BAND_BITS) - 1)
                .alias("band_val"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = sigs.select(
        F.struct("doc_id", "sig").alias("ds"),
        F.explode(band_vals).alias("bv"),
    ).select("ds", "bv.band_idx", "bv.band_val")
    pairs = _expand_bucket_pairs(bands, ["band_idx", "band_val"], "ds")
    ham = F.bit_count(
        F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    ).cast("bigint")
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .distinct()
    )


def simhash_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Near-dup groups = identical 16-bit simhash (collision-prone by
    design at 16 bits — it's the grouping stage; verification joins
    exact Jaccard on top)."""
    return (
        simhash16(docs, text_col)
        .groupBy("simhash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    clustering step that turns near-dup PAIRS into duplicate GROUPS
    (each component keeps one canonical representative: the min id).

    Each iteration: every node adopts the minimum label among itself
    and its neighbors; converges in O(graph diameter) rounds (near-dup
    graphs are near-cliques, so typically 2-4). Per round: one hash
    shuffle for the neighbor-min aggregation, one for the label join —
    both on (node, label) pairs only, never on document payloads.
    `io.stage_eager` truncates the lineage so the plan doesn't grow
    exponentially with iterations (the classic iterative-algorithm
    trap on Spark); each round is checkpointed FIRST and the
    convergence count reads from the checkpoint, so the round's plan
    executes exactly once. Raises if the graph has not converged
    within max_iter (diameter > max_iter) — a silently split
    component is a wrong answer, not a degraded one.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Materialize the symmetrized edge list ONCE: it is referenced by
    # two actions per iteration, and without this the whole upstream
    # edge-producing pipeline (e.g. LSH + verification) re-executes
    # every round — the dominant cost for any non-trivial edge source.
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(stage_eager)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(stage_eager)
    )
    converged = False
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("neigh_label"))
        )
        new_labels = (
            labels.join(neigh_min, labels["node"] == neigh_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce("neigh_label", F.col("label")),
                ).alias("label"),
                F.col("label").alias("old_label"),
            )
            .transform(stage_eager)
        )
        changed = new_labels.filter(
            F.col("label") != F.col("old_label")
        ).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


def verify_candidates_jaccard(
    docs: DataFrame,
    candidates: DataFrame,
    min_jaccard: float = 0.8,
    text_col: str = "text",
    toks_arr: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs — stage 2 of the
    standard dedup pipeline (LSH candidates → exact verify → cluster).

    Unlike the all-pairs `jaccard_pairs`, the work here is bounded by
    |candidates| × tokens-per-doc: the quadratic blowup was already
    cut by LSH, so no document-frequency heuristic is needed and the
    Jaccard is computed on the FULL token sets (a DF cap would
    silently change the metric).

    Shape (r6 rewrite — the 13.5× decade fix): the old form exploded
    doc_a's tokens per pair and re-joined on (doc_b, tok), pushing
    Σ_pairs |tokens(a)| ROWS (~1.8 B at 10× sf0.1) through two
    exchanges and a pair-keyed count. Now each doc's distinct-token
    ARRAY joins onto the pair once, a SIZE prefilter drops pairs
    whose set sizes alone bound Jaccard under the threshold
    (J ≤ min(|A|,|B|)/max(|A|,|B|) — the standard length filter of
    the set-similarity-join literature; exact, never lossy), and the
    intersection is one codegen `array_intersect` per surviving
    pair — |candidates| rows through the joins instead of
    |candidates|·|tokens|.

    The token arrays are STAGED: this frame is referenced four times
    below (slim counts + array payloads, each on both pair sides),
    and the tokenize projection sits above the fan-out exchange, so
    without the cut every consumer stage re-tokenizes the whole
    verify universe — measured as the dominant compute stage of the
    admission gate and the canonical-representatives query (the
    reused exchange only dedups the raw-doc shuffle, not the
    projection on top of it).

    ``toks_arr``: a caller-prepared (doc_id, ts) frame with ts the
    DISTINCT token array of every doc a candidate can name — for
    callers that already tokenized the universe (e.g. to build the
    MinHash signatures) and want the verify to reuse those arrays
    instead of tokenizing a second time. The caller owns the
    staging of a provided frame; `docs`/`text_col` are ignored.

    Small-vocabulary fast path (round 14): Jaccard depends only on
    each doc's distinct-token SET, so when the verify universe's
    whole vocabulary fits in a few machine words the sets become
    BITMASKS — ``|A∩B| = Σ bit_count(a_w & b_w)`` — and the per-pair
    cost drops from a hash-based string-array intersection to a
    handful of codegen integer ops, while the pair-join payload
    shrinks from a token array (~hundreds of bytes) to K longs
    (guide §2.3 narrow types / §8 lightweight-proxy shuffles). The
    dictionary probe is ONE bounded action over the already-staged
    token arrays (limit vocab_cap+1); corpora whose vocabulary
    exceeds `spark.jly.verify.bitsetMaxVocab` (default 256, 0
    disables) take the general array path unchanged — the 100 TB
    shape, where the probe costs one cheap pass over arrays that
    were staged anyway. Both paths compute the identical integers
    (|A|, |B|, |A∩B| under an injective token→bit dictionary), so
    the jaccard doubles are bit-identical."""
    spark = candidates.sparkSession
    if toks_arr is None:
        toks_arr = stage(
            ensure_min_parallelism(docs, keys=["doc_id"]).select(
                "doc_id",
                F.array_distinct(tokens(F.col(text_col))).alias("ts"),
            )
        )
    vocab_cap = int(
        spark.conf.get("spark.jly.verify.bitsetMaxVocab", "256")
    )
    if vocab_cap > 0:
        vocab = [
            r["t"]
            for r in toks_arr.select(F.explode("ts").alias("t"))
            .distinct()
            .limit(vocab_cap + 1)
            .collect()
        ]
        if len(vocab) <= vocab_cap:
            return _verify_pairs_bitset(
                toks_arr, candidates, sorted(vocab), min_jaccard
            )
    arr_a = toks_arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ts").alias("ts_a"),
        F.size("ts").alias("n_a"),
    )
    arr_b = toks_arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ts").alias("ts_b"),
        F.size("ts").alias("n_b"),
    )
    # size prefilter first, with only the slim counts attached — the
    # array payloads join after the pair survived it
    sized = (
        candidates.join(arr_a.select("doc_a", "n_a"), "doc_a")
        .join(arr_b.select("doc_b", "n_b"), "doc_b")
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(min_jaccard) * F.greatest("n_a", "n_b")
        )
    )
    n_shared = F.size(F.array_intersect("ts_a", "ts_b"))
    jac = n_shared.cast("double") / (
        F.col("n_a") + F.col("n_b") - n_shared
    ).cast("double")
    return (
        sized.join(arr_a.select("doc_a", "ts_a"), "doc_a")
        .join(arr_b.select("doc_b", "ts_b"), "doc_b")
        .select(
            "doc_a", "doc_b", jac.alias("jaccard"), n_shared.alias("_ns")
        )
        # _ns > 0 keeps the min_jaccard=0 boundary identical to the
        # pre-r6 shared-token inner join (a pair with ZERO overlap is
        # not a verified duplicate at any threshold); redundant for
        # min_jaccard > 0 where jaccard >= threshold implies overlap
        .filter((F.col("jaccard") >= min_jaccard) & (F.col("_ns") > 0))
        .drop("_ns")
    )


def _verify_pairs_bitset(
    toks_arr: DataFrame,
    candidates: DataFrame,
    vocab: list,
    min_jaccard: float,
) -> DataFrame:
    """Bitmask tier of `verify_candidates_jaccard`: every distinct
    token of the (bounded) vocabulary gets one bit of K 64-bit words;
    each doc's token SET becomes K long columns computed scan-local
    from the staged arrays (one map-literal lookup per token, once
    per DOC — never per pair), and per-pair set arithmetic is pure
    whole-stage-codegen integer ops. The size prefilter and the
    payload join collapse into ONE join per pair side (the mask IS
    both the size and the payload), versus two joins each on the
    array path. Exactness: the dictionary is injective, so
    bit_count(m_a & m_b) == |A∩B| and popcounts == set sizes — the
    same integers the array path feeds the jaccard double."""
    n_words = max(1, (len(vocab) + 63) // 64)
    # token → its single-bit contribution, one map literal per word
    # (values precomputed in Python; bit 63 wraps to Long.MIN_VALUE
    # exactly like the JVM's 1L << 63).
    word_maps = []
    for w in range(n_words):
        entries = []
        for i, tok in enumerate(vocab):
            if i // 64 == w:
                bit = i % 64
                val = (1 << bit) if bit < 63 else -(1 << 63)
                entries.extend([F.lit(tok), F.lit(val).cast("long")])
        word_maps.append(F.create_map(*entries))
    zero = F.lit(0).cast("long")

    def _mask(w):
        return F.aggregate(
            F.col("ts"),
            zero,
            lambda acc, t: acc.bitwiseOR(
                F.coalesce(F.element_at(word_maps[w], t), zero)
            ),
        )

    mcols = [f"_m{w}" for w in range(n_words)]
    masks = toks_arr.select(
        "doc_id", *[_mask(w).alias(c) for w, c in enumerate(mcols)]
    )
    m_a = masks.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"{c}a") for c in mcols],
    )
    m_b = masks.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"{c}b") for c in mcols],
    )

    def _popsum(cols):
        out = F.bit_count(cols[0])
        for c in cols[1:]:
            out = out + F.bit_count(c)
        return out

    n_a = _popsum([F.col(f"{c}a") for c in mcols])
    n_b = _popsum([F.col(f"{c}b") for c in mcols])
    n_shared = _popsum(
        [F.col(f"{c}a").bitwiseAND(F.col(f"{c}b")) for c in mcols]
    )
    jac = n_shared.cast("double") / (n_a + n_b - n_shared).cast("double")
    return (
        candidates.join(m_a, "doc_a")
        .join(m_b, "doc_b")
        .filter(
            F.least(n_a, n_b).cast("double")
            >= F.lit(min_jaccard) * F.greatest(n_a, n_b)
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"), n_shared.alias("_ns"))
        .filter((F.col("jaccard") >= min_jaccard) & (F.col("_ns") > 0))
        .drop("_ns")
    )


# ---------------------------------------------------------------------------
# Incremental winnowing index (round 8): the MOSS fingerprint analog
# of the LSH band index above — persist the corpus's winnowing
# fingerprints once, then each ingest micro-batch PROBES the index
# for near-dup candidates and APPENDS its own fingerprints, so new
# arrivals dedup against the whole history without re-fingerprinting
# the corpus.
# ---------------------------------------------------------------------------

WINNOW_K = 3          # tokens per k-gram (= plans' WINNOW_K)
WINNOW_W = 4          # k-grams per window (= plans' WINNOW_W)
# Position tiebreak factor. The descending tiebreak term
# (WINNOW_POS-1 - i) REQUIRES < 2^20 tokens per document: past that
# it goes negative, `fp div WINNOW_POS` recovers the wrong hash and
# the rightmost-min tie rule inverts. 2^20 tokens is ~5 MB of text —
# far beyond any sane training document, but a framework can't rely
# on "sane": `winnow_fingerprints_rowwise` fails LOUDLY (raise_error)
# on an over-cap doc instead of silently emitting corrupt
# fingerprints. The batch window form (plans/northstar_queries.py:
# `text_winnowing_fingerprints` / `dedup_winnow_pairs`) hard-codes
# the same 1048576 factor and shares the cap; widen both together or
# not at all (fingerprint values are hash-pinned across the two
# forms).
WINNOW_POS = 1048576  # 2^20 position tiebreak factor


def winnow_fingerprints_rowwise(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, h) winnowing fingerprints as PURE per-row array
    expressions — no window, no aggregation state — so the same
    values as the batch window pipeline (`text_winnowing_fingerprints`
    / `dedup_winnow_pairs`: min over the w-window of position-
    tiebroken k-gram hashes, rightmost-min rule via the descending
    position term) compute in a streaming append-mode frame. The
    per-doc work is O(m·w) array ops inside whole-stage codegen;
    parity with the window form is pinned in
    tests/test_incremental_dedup.py."""
    k, w, pos = WINNOW_K, WINNOW_W, WINNOW_POS
    ts = tokens(F.col(text_col))
    staged = docs.select("doc_id", ts.alias("_ts")).filter(
        F.size("_ts") >= k + w - 1
    )
    # Cap guard (see WINNOW_POS): over-cap docs would corrupt the
    # position tiebreak; error loudly instead. The when/otherwise
    # keeps raise_error out of the evaluated path for every valid row.
    staged = staged.withColumn(
        "_ts",
        F.when(F.size("_ts") < F.lit(pos), F.col("_ts")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "winnow_fingerprints_rowwise: document "
                    ),
                    F.col("doc_id").cast("string"),
                    F.lit(
                        f" exceeds the {pos - 1}-token winnowing cap"
                        " (position tiebreak would overflow;"
                        " see WINNOW_POS)"
                    ),
                )
            ).cast("array<string>")
        ),
    )
    codes = F.transform(
        F.sequence(F.lit(1), F.size("_ts") - (k - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.array_join(F.slice(F.col("_ts"), i, k), " ")),
                1,
                10,
            ),
            16,
            10,
        ).cast("bigint")
        * pos
        + (F.lit(pos - 1) - i),
    )
    fps = F.transform(
        F.sequence(F.lit(w), F.size("_ts") - (k - 1)),
        lambda j: F.array_min(F.slice(F.col("_codes"), j - w + 1, w)),
    )
    return (
        staged.withColumn("_codes", codes)
        .select(
            "doc_id",
            F.explode(F.array_distinct(fps)).alias("_fp"),
        )
        .select(
            "doc_id", F.expr(f"_fp div {pos}").alias("h")
        )
        .distinct()
    )


# The winnowing index's compaction spec: (doc_id, h, n_fp) rows
# sorted on h; n_fp is one value per doc (a changed re-append without
# a tombstone raises at compaction).
WINNOW_INDEX = IndexSpec(sort_cols=("h",), value_col="n_fp")


def _winnow_index_rows(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, h, n_fp) rows — n_fp (the doc's selected-set size) is
    denormalized onto every row so probe-time containment needs no
    second index read."""
    fp = winnow_fingerprints_rowwise(docs, text_col)
    sizes = fp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fp")
    )
    return fp.join(sizes, "doc_id")


def persist_winnow_index(
    docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Persist the corpus's fingerprint table (h, doc_id, n_fp),
    sorted by h at write time for per-file min/max pruning of the
    probe join's scan."""
    write_index(
        _winnow_index_rows(docs, text_col), path, WINNOW_INDEX, "overwrite"
    )


def append_to_winnow_index(
    new_docs: DataFrame, path: str, text_col: str = "text"
) -> None:
    """Index maintenance: append an admitted micro-batch's
    fingerprints so FUTURE arrivals dedup against them (the
    write-back half; runs inside foreachBatch beside the probe, like
    `append_to_lsh_index`). Compact the accumulated small files on a
    cadence with `compact_index(spark, path, WINNOW_INDEX)`.

    At-least-once safety: a foreachBatch replay after a mid-append
    failure re-appends the SAME (doc_id, h, n_fp) rows. The probe is
    duplicate-insensitive by construction (`probe_winnow_index`
    counts distinct hashes and docs, never raw rows), and compaction
    drops the physical duplicates — so a checkpoint-recovered stream
    cannot corrupt containment scores, it only carries redundant
    bytes until the next compaction.

    Tombstone-before-reappend contract: re-appending a doc_id whose
    TEXT changed (not a bit-identical replay) requires `delete_ids`
    + `compact_index` first — otherwise old and new fingerprints
    coexist under one doc_id and compaction fails loudly on the
    conflicting n_fp (it cannot tell which set is current). Note the
    guard sees only n_fp: a changed text that happens to select the
    SAME number of fingerprints slips past it, so the contract is on
    the caller, not merely on the guard."""
    write_index(_winnow_index_rows(new_docs, text_col), path, WINNOW_INDEX)


def probe_winnow_index(
    spark,
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    max_df: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidates of a new batch against the INDEXED corpus:
    (new_doc_id, index_doc_id, n_shared, containment_ppm) — the
    incremental form of `dedup_winnow_pairs`' candidate generator.
    The df cap is enforced on the INDEX side (fingerprints indexed in
    more than ``max_df`` docs are boilerplate and convey no pair
    information); the batch side is a micro-batch, bounded by
    construction. Containment is against the smaller selected set,
    exact ppm."""
    fp = winnow_fingerprints_rowwise(new_docs, text_col)
    nsz = fp.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    probe = fp.join(nsz, "doc_id").select(
        F.col("doc_id").alias("new_doc_id"), "h", "n_new"
    )
    idx = read_index(spark, path)
    # Both aggregates count DISTINCT, not raw rows, so physically
    # duplicated index rows (an at-least-once foreachBatch replay of
    # `append_to_winnow_index` before compaction) cannot inflate df
    # or n_shared — same values either way, since (doc_id, h) is
    # unique in a clean index.
    ok = (
        idx.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("h")
    )
    capped = idx.join(ok, "h").select(
        "h", F.col("doc_id").alias("index_doc_id"), "n_fp"
    )
    return (
        probe.join(capped, "h")
        .filter(F.col("new_doc_id") != F.col("index_doc_id"))
        .groupBy("new_doc_id", "index_doc_id", "n_new", "n_fp")
        .agg(F.count_distinct("h").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "new_doc_id",
            "index_doc_id",
            "n_shared",
            F.expr("n_shared * 1000000 div least(n_new, n_fp)").alias(
                "containment_ppm"
            ),
        )
    )


def winnow_containment_vs_index(
    new_docs: DataFrame,
    idx: DataFrame,
    text_col: str = "text",
    max_df: int = 50,
) -> DataFrame:
    """Per-new-doc aggregate substring-duplication signal against an
    index FRAME: (doc_id, n_fp_new, n_fp_hit, contain_ppm) where
    contain_ppm = fraction (ppm) of the new doc's winnow fingerprints
    already present ANYWHERE in the (df-capped) index — the
    incremental stand-in for `substring_cut_retention`'s duplicated-
    span-mass when the partner docs live in the corpus index rather
    than the same frame. Per-pair attribution (who it duplicates) is
    `probe_winnow_index`'s job; this one answers the ADMISSION
    question "how much of this doc is already in the corpus".

    Takes the index as a DataFrame so callers can pre-filter it
    (e.g. the admission gate anti-joins the current batch's own
    doc_ids out, which makes an at-least-once epoch replay see
    exactly the pre-epoch state). All aggregates are DISTINCT-based,
    so replay-duplicated index rows cannot inflate the signal.
    Token-less docs (no fingerprints) are absent from the output —
    callers decide their fate, mirroring `substring_cut_retention`'s
    ≥1-token contract."""
    fp = winnow_fingerprints_rowwise(new_docs, text_col)
    ok = (
        idx.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("h")
    )
    # ONE pass over the fingerprint frame (round 14): `fp` is the
    # expensive interpreted winnowing chain, and the old
    # totals-branch/hits-branch shape was two consumers of an
    # unstaged frame — the whole fingerprint computation executed
    # twice (the r13 cross-action-recompute pattern, inside one
    # plan). A left join against the (h-unique) df-capped index keys
    # preserves the row count and marks hits, so totals and hits
    # fall out of a single groupBy: n_fp_new = count(*) (fp is
    # globally (doc_id, h)-distinct by construction), n_fp_hit =
    # count of matched rows — the same integers as the old
    # count_distinct pair.
    marked = fp.join(ok.withColumn("_hit", F.lit(1)), "h", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_fp_new"),
            F.count("_hit").cast("bigint").alias("n_fp_hit"),
        )
        .withColumn(
            "contain_ppm",
            F.expr("n_fp_hit * 1000000 div greatest(n_fp_new, 1)")
            .cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# ExactSubstr retention (round 9): the reusable form of the
# substring-cut pass — shared by the standalone audit query and the
# v3 corpus pipeline's retention gate.
# ---------------------------------------------------------------------------
SUBSTR_CUT_K = 12  # minimum duplicated span, in tokens


def substring_cut_retention(
    docs: DataFrame, text_col: str = "text", k: int = SUBSTR_CUT_K
) -> DataFrame:
    """(doc_id, n_tokens, n_cut_tokens, retention_ppm) for every doc
    with >= 1 token: tokens covered by ANY maximal span >= k that
    appears verbatim in >= 2 DISTINCT docs of THIS frame (Lee et al.
    2022's ExactSubstr cut, measured). Shingle-df buckets + per-doc
    gaps-and-islands + a distinct-position rollup — never corpus²;
    the shingle table is staged once for its two readers."""
    from pyspark.sql import Window

    from .text import tokens as _tokens

    toks = docs.select(
        "doc_id", _tokens(F.col(text_col)).alias("ts")
    ).transform(stage)
    sh = (
        toks.filter(F.size("ts") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (k - 1)),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.col("ts"), i, k), " ")
                    ),
                )
            ).alias("p0", "h"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("i"), "h")
        .transform(stage)
    )
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("h")
    )
    hits = sh.join(dup, "h").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    spans = (
        hits.withColumn("grp", F.col("i") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("i").alias("s"), (F.max("i") + (k - 1)).alias("e")
        )
    )
    cut = (
        spans.select(
            "doc_id",
            F.explode(F.sequence(F.col("s"), F.col("e"))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("p").cast("bigint").alias("n_cut"))
    )
    docs_n = toks.select(
        "doc_id", F.size("ts").cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") >= 1)
    return docs_n.join(cut, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_cut"), F.lit(0))
        .cast("bigint")
        .alias("n_cut_tokens"),
        F.expr(
            "(n_tokens - coalesce(n_cut, 0)) * 1000000 div n_tokens"
        )
        .cast("bigint")
        .alias("retention_ppm"),
    )


def substring_retention_sql(src: str, k: int = SUBSTR_CUT_K) -> str:
    """DuckDB CTE block mirroring `substring_cut_retention` over the
    CTE/table `src` (must expose doc_id and text). Ends with
    `sretention(doc_id, n_tokens, n_cut_tokens, retention_ppm)`."""
    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    return f"""stoks AS MATERIALIZED (
  SELECT doc_id, {toks} AS ts FROM {src}
),
ssh AS MATERIALIZED (
  SELECT doc_id, i,
         md5(array_to_string(ts[i:i+{k - 1}], ' ')) AS h
  FROM stoks,
       unnest(generate_series(1, len(ts) - {k - 1})) AS g(i)
  WHERE len(ts) >= {k}
),
sdup AS (
  SELECT h FROM ssh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
shits AS (SELECT s.doc_id, s.i FROM ssh s JOIN sdup USING (h)),
sruns AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM shits
),
sspans AS (
  SELECT doc_id, min(i) AS s, max(i) + {k - 1} AS e
  FROM sruns GROUP BY doc_id, grp
),
scut AS (
  SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS n_cut
  FROM (SELECT doc_id, unnest(generate_series(s, e)) AS p
        FROM sspans)
  GROUP BY doc_id
),
sretention AS (
  SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
         coalesce(c.n_cut, 0) AS n_cut_tokens,
         CAST((len(t.ts) - coalesce(c.n_cut, 0)) * 1000000
              // len(t.ts) AS BIGINT) AS retention_ppm
  FROM stoks t LEFT JOIN scut c USING (doc_id)
  WHERE len(t.ts) >= 1
)"""


# ---------------------------------------------------------------------
# PPJoin-style EXACT-threshold set-similarity join (prefix + length
# filters; Xiao et al. 2008) — the exact companion to the LSH/SimHash
# candidate generators: zero false negatives BY THEOREM, not by
# banding probability
# ---------------------------------------------------------------------
PPJOIN_T_NUM = 7  # Jaccard threshold t = 7/10, kept as an exact ratio
PPJOIN_T_DEN = 10


def ppjoin_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """All pairs with EXACT shingle-set Jaccard ≥ t via prefix
    filtering: order every doc's 3-gram shingles by ASCENDING global
    document frequency (rare first), keep each doc's first
    m − ⌈t·m⌉ + 1 shingles as its prefix, and generate candidates
    only from prefix∩prefix — the prefix-filter theorem guarantees
    any pair with J ≥ t shares a prefix shingle, so the verified
    output is COMPLETE (the guarantee MinHash-LSH trades away for
    speed). The length filter (5·min ≥ 4·max generalized to
    den·min ≥ num·max) prunes size-incompatible candidates before
    the exact intersection count.

    Output: (doc_a, doc_b, m_a, m_b, inter, jacc_ppm), doc_a < doc_b.

    Scale shape: the rare-first order is the skew guard — prefixes
    hold the LEAST shared shingles, so prefix-bucket sizes are
    bounded by rare-shingle df (boilerplate n-grams never enter a
    prefix unless a doc is almost all boilerplate); candidate
    verification joins the slim candidate list back to the shingle
    table (never all-pairs); per-doc ranking windows partition by
    doc_id (corpus-parallel). Threshold arithmetic is exact
    integers end to end: ⌈t·m⌉ = (num·m + den − 1) // den, the
    verify is den·inter ≥ num·union, and jacc_ppm divides two
    exact BIGINTs."""
    from .text import tokens as _tokens
    from .text import trigram_shingles

    num, den = PPJOIN_T_NUM, PPJOIN_T_DEN
    # Fan the RAW text out before the tokenize+shingle explode (the
    # per-row cost otherwise runs at the scan's split count — ×10
    # probe: 2-task 5-6 s/task stages), and explode_OUTER so
    # InferFiltersFromGenerate can't push the whole shingle chain
    # into the parquet scan filter (a full second evaluation); the
    # isNotNull above the Generate restores exactly explode's rows.
    from ..io import ensure_min_parallelism

    sh = (
        ensure_min_parallelism(
            docs.select("doc_id", text_col), keys=["doc_id"]
        )
        .select("doc_id", _tokens(F.col(text_col)).alias("ts"))
        .select(
            "doc_id",
            F.explode_outer(trigram_shingles(F.col("ts"))).alias(
                "shingle"
            ),
        )
        .filter(F.col("shingle").isNotNull())
        .transform(stage)
    )
    dfc = sh.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("df")
    )
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_size = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfc, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w_rank).alias("rn"),
            F.count("*").over(w_size).cast("bigint").alias("m"),
        )
    )
    # prefix length L = m - ceil(t*m) + 1 (exact integer ceil)
    prefix_len = (
        F.col("m")
        - F.expr(f"({num} * m + {den} - 1) div {den}")
        + F.lit(1)
    )
    pre = ranked.filter(F.col("rn") <= prefix_len).select(
        "doc_id", "shingle", "m"
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.expr(
                f"least(a.m, b.m) * {den} >= greatest(a.m, b.m) * {num}"
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.m").alias("m_a"),
            F.col("b.m").alias("m_b"),
        )
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(x, "doc_a")
        .join(y, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "m_a", "m_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    return inter.filter(
        F.expr(f"inter * {den} >= (m_a + m_b - inter) * {num}")
    ).select(
        "doc_a",
        "doc_b",
        "m_a",
        "m_b",
        "inter",
        F.expr("CAST(inter * 1000000 div (m_a + m_b - inter) AS BIGINT)")
        .alias("jacc_ppm"),
    )
