"""Unigram-LM tokenizer (Kudo 2018, the SentencePiece `unigram`
model) — the EM-trained companion of the BPE trainer in `bpe.py`:
instead of greedy bottom-up merges, a piece VOCABULARY with unigram
costs is fit by hard-EM rounds (Viterbi E-step → count M-step), and
tokenization is the Viterbi segmentation itself.

Declarative fixed-point shape, like the BPE merges / classifier GD /
K-means rounds: UNI_ROUNDS unrolled EM rounds, each fully inside the
DataFrame plan and value-hash oracle-checkable.

Scale shape (the merge learner's argument in `subword.py`, verbatim):
- The corpus is touched ONCE — one map-side-combined word-count
  aggregation to the (word, cnt) vocabulary; seeding and every EM
  round operate on |V| rows regardless of corpus size (SentencePiece
  trains exactly so: on word frequencies, never the raw stream).
- Per round, the piece table folds into ONE 1-row broadcast map
  (map_from_entries over ≤ UNI_SEED_MULTI + |chars| rows — bounded
  model state, the classifier-weights discipline); the Viterbi DP is
  a pure per-row fold (zero shuffle), and the count M-step is one
  piece-keyed combine.
- Tokenize/apply segments each DISTINCT word once and joins the
  result back onto documents — apply cost is |distinct words| DPs,
  not |corpus tokens|.

Bit-exactness: counts are exact integers; piece costs are the
quantized-ln trick the link-prediction family uses —
round((ln(total + V) − ln(cnt + 1)) · 1e6) as BIGINT (add-1
smoothing keeps every seeded piece finite, so the piece SET is fixed
across rounds; only costs move). The DP state packs (cost, n_pieces)
into one bigint (cost_micro · 1024 + n_pieces — lexicographic
"cheapest, then fewest pieces"), and exact ties break on the
chr(1)-joined piece string, identical byte order on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import stage

UNI_MAX_PIECE = 4      # max piece length in characters
UNI_SEED_MULTI = 48    # multi-char seed pieces kept (top by count)
UNI_ROUNDS = 2         # unrolled hard-EM rounds
UNI_LOG_QUANT = 10**6  # ln scale (the adamic-adar quantized-ln trick)
UNI_ENC = 1024         # (cost, n_pieces) packing base; paths < 1024 pieces
# unseeded substrings cost "infinity": any path through one is worse
# than every real path (word ≤ ~64 chars · max real cost ~ covers
# 64 · 2^40 « 1e15; sums stay far from int64)
UNI_INF_ENC = 10**15


def _word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) — the one corpus pass everything else reuses."""
    from .text import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def seed_pieces(vocab: DataFrame) -> DataFrame:
    """(piece, cnt) seed vocabulary: ALL single characters (so every
    word stays segmentable) plus the UNI_SEED_MULTI most frequent
    substrings of length 2..UNI_MAX_PIECE, occurrence-weighted by
    word count — the SentencePiece seed heuristic with a fixed size
    instead of its later pruning schedule (the piece set stays fixed
    across rounds; add-1 smoothing keeps zero-count pieces alive)."""
    subs = F.expr(
        "flatten(transform(sequence(1, length(word)), i ->"
        " transform(sequence(1, least("
        f"{UNI_MAX_PIECE}, length(word) - i + 1)), l ->"
        " substring(word, i, l))))"
    )
    occ = (
        vocab.select("cnt", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    ).transform(stage)
    chars = occ.filter(F.length("piece") == 1)
    multi = (
        occ.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(UNI_SEED_MULTI)
    )
    return chars.unionAll(multi)


def cost_micro_expr(cnt_col, total_col, v_col):
    """Quantized smoothed unigram cost: round((ln(total + V) −
    ln(cnt + 1)) · 1e6) — the ONE formula both engines replicate
    byte-for-byte (subtract-then-round, never round twice)."""
    return F.expr(
        f"CAST(round((ln(CAST({total_col} + {v_col} AS DOUBLE))"
        f" - ln(CAST({cnt_col} + 1 AS DOUBLE))) * {UNI_LOG_QUANT})"
        " AS BIGINT)"
    )


def _cost_map(pieces: DataFrame) -> DataFrame:
    """1-row (cm map<piece, enc>) frame: enc = cost_micro·1024 + 1 —
    adding a piece to a path adds its cost and one to the piece
    count in a single bigint addition. Broadcast model state."""
    tot = pieces.agg(
        F.sum("cnt").alias("_t"), F.count("*").alias("_v")
    )
    enc = (
        cost_micro_expr("cnt", "_t", "_v") * F.lit(UNI_ENC) + F.lit(1)
    ).alias("enc")
    return (
        pieces.crossJoin(F.broadcast(tot))
        .select("piece", enc)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "enc"))
            ).alias("cm")
        )
    )


def viterbi_struct(word, cm):
    """struct(c bigint, ps array<string>) — the Viterbi segmentation
    of ``word`` under the ``cm`` cost map: c = best packed
    (cost·1024 + n_pieces), ps = its pieces. One per-row fold over
    positions; candidates per position bounded by UNI_MAX_PIECE."""
    empty = F.array().cast("array<string>")
    far = F.struct(
        F.lit(UNI_INF_ENC * 100).cast("bigint").alias("c"),
        empty.alias("ps"),
    )

    def step(acc, j):
        def cand(i):
            piece = F.substr(word, i.cast("int"), (j - i + 1).cast("int"))
            prev = F.element_at(acc, i.cast("int"))
            return F.struct(
                (
                    prev.getField("c")
                    + F.coalesce(
                        F.element_at(cm, piece),
                        F.lit(UNI_INF_ENC).cast("bigint"),
                    )
                ).alias("c"),
                F.concat(prev.getField("ps"), F.array(piece)).alias(
                    "ps"
                ),
            )

        cands = F.transform(
            F.sequence(
                F.greatest(
                    F.lit(1).cast("bigint"),
                    j - F.lit(UNI_MAX_PIECE - 1).cast("bigint"),
                ),
                j,
            ),
            cand,
        )
        best = F.aggregate(
            cands,
            far,
            lambda b, y: F.when(
                (y.getField("c") < b.getField("c"))
                | (
                    (y.getField("c") == b.getField("c"))
                    & (
                        F.array_join(y.getField("ps"), "\x01")
                        < F.array_join(b.getField("ps"), "\x01")
                    )
                ),
                y,
            ).otherwise(b),
        )
        return F.concat(acc, F.array(best))

    init = F.array(
        F.struct(F.lit(0).cast("bigint").alias("c"), empty.alias("ps"))
    )
    arr = F.aggregate(
        F.sequence(F.lit(1).cast("bigint"), F.length(word).cast("bigint")),
        init,
        step,
    )
    return F.element_at(arr, -1)


def unigram_train_pieces(
    docs: DataFrame, rounds: int = UNI_ROUNDS, text_col: str = "text"
) -> DataFrame:
    """(piece, cnt, cost_micro): the trained unigram vocabulary after
    ``rounds`` hard-EM rounds — cnt is the final Viterbi count (word-
    count weighted), cost_micro the smoothed quantized cost the apply
    path freezes. The piece SET is the seed set (no pruning); counts
    and costs move per round."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    vocab = _word_vocab(docs, text_col).transform(stage)
    pieces = seed_pieces(vocab).transform(stage)
    for _ in range(rounds):
        cm = _cost_map(pieces)
        seg = vocab.crossJoin(F.broadcast(cm)).select(
            "cnt",
            viterbi_struct(F.col("word"), F.col("cm"))
            .getField("ps")
            .alias("ps"),
        )
        counts = (
            seg.select("cnt", F.explode("ps").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        )
        # fixed piece set: zero-count pieces survive via the left
        # join (add-1 smoothing keeps their cost finite)
        pieces = (
            pieces.select("piece")
            .join(counts, "piece", "left")
            .select(
                "piece",
                F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
            )
            .transform(stage)
        )
    tot = pieces.agg(F.sum("cnt").alias("_t"), F.count("*").alias("_v"))
    return pieces.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        cost_micro_expr("cnt", "_t", "_v").alias("cost_micro"),
    )


def unigram_tokenize_stats(
    docs: DataFrame, rounds: int = UNI_ROUNDS, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_uni_tokens, nll_micro): segment every
    document with the trained unigram LM — per-doc piece count and
    total quantized negative log-likelihood (the LM's own quality
    signal). Each DISTINCT word is segmented once (the DP output
    joins back onto the exploded corpus); token-less docs drop,
    matching the training vocabulary and the BPE twin."""
    from .text import tokens

    trained = unigram_train_pieces(docs, rounds, text_col)
    cm = trained.select(
        "piece",
        (F.col("cost_micro") * F.lit(UNI_ENC) + F.lit(1)).alias("enc"),
    ).agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "enc"))
        ).alias("cm")
    )
    vocab = _word_vocab(docs, text_col).select("word").transform(stage)
    seg = vocab.crossJoin(F.broadcast(cm)).select(
        "word",
        viterbi_struct(F.col("word"), F.col("cm"))
        .getField("c")
        .alias("c"),
    )
    per_word = seg.select(
        "word",
        F.expr(f"c div {UNI_ENC}").alias("w_nll"),
        (F.col("c") % F.lit(UNI_ENC)).alias("w_pieces"),
    )
    docw = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("word")
    )
    return (
        docw.join(per_word, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ws_tokens"),
            F.sum("w_pieces").cast("bigint").alias("n_uni_tokens"),
            F.sum("w_nll").cast("bigint").alias("nll_micro"),
        )
    )
