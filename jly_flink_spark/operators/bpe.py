"""BPE tokenizer TRAINING: learn the merge table itself, not just
apply one (text_token_bpe in plans/ tokenizes with a fixed regex —
this operator learns data-driven merges, the Sennrich et al. 2016
subword algorithm every modern LLM tokenizer descends from).

BPE is the frequency member of the merge learner in
operators/subword.py (scale shape and bit-exactness argument there):
a word starts as its characters, a merge concatenates the pair
(concat(a, b) = a iff b = '', so a merge never cascades), and the
winner is the most frequent adjacent pair, (count DESC, a, b). The
score needs no symbol counts, so a round shuffles only the pair
counts and the 1-row winner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .subword import (
    MergeScheme,
    extract_merges,
    pieces_expr,
    tokenize_projection,
    train_merges,
)

BPE_ROUNDS = 8

BPE = MergeScheme(
    rounds=BPE_ROUNDS,
    symbol=lambda c, i: c,
    symbol_sql="{c}",
    merged=F.concat,
    merged_sql="{a} || {b}",
)


def bpe_train_merges(
    docs: DataFrame, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """(round, merge_a, merge_b, pair_count): the learned merge table."""
    return train_merges(docs, BPE, rounds)


def bpe_tokenize_expr(words, merges: list[tuple[str, str]]):
    """bigint Column: BPE token count of a word-array column under
    the frozen rank-ordered merge list."""
    return pieces_expr(BPE, words, merges)


def _tokenize_projection(
    docs: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens) per token-bearing doc —
    the projection batch and stream share."""
    return tokenize_projection(docs, BPE, merges, "n_bpe_tokens")


def bpe_tokenize_stats(
    docs: DataFrame, rounds: int = BPE_ROUNDS
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens): tokenize the corpus with
    a merge table trained on it — the train→serve pair in one query.
    The train phase runs the unrolled rounds; the learned merges
    freeze into the per-row tokenize expression, so the apply scan
    is single-pass with zero shuffle."""
    merges = extract_merges(bpe_train_merges(docs, rounds=rounds))
    return _tokenize_projection(docs, merges)


def serve_bpe_stream(
    docs_sdf: DataFrame,
    merges: list[tuple[str, str]],
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming tokenize: count BPE tokens of arriving documents
    against the offline-trained merge table — how an ingest pipeline
    budgets token counts before batching/packing. The SAME stateless
    projection as the batch path (bit-identical counts), so recovery
    is plain source-offset replay. Returns the StreamingQuery."""
    return (
        _tokenize_projection(docs_sdf, merges)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
