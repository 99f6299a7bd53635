"""WordPiece tokenizer TRAINING + APPLY (Schuster & Nakajima 2012),
the likelihood-scored member of the tokenizer trio next to BPE
(operators/bpe.py, frequency-scored merges) and the unigram LM
(operators/unigram.py, EM-pruned vocabulary) — the BERT-family
tokenizer: merge the adjacent pair maximizing

    score(a, b) = count(ab) / (count(a) · count(b))

i.e. the pair whose merge most increases corpus likelihood under a
unigram model, not merely the most frequent pair.

WordPiece is a scheme of the merge learner in operators/subword.py
(scale shape and bit-exactness argument there):
- Continuation symbols carry the canonical '##' prefix, so a word
  starts as its bare first character plus '##'-marked characters,
  keeping word-initial vs continuation pieces distinct end to end.
- Merging a + '##x' yields a || x: the right part is always a
  continuation symbol, so the marker is structurally present and the
  stripped part is non-empty (no cascade within a pass).
- The score quantizes as round((ln c_ab − ln c_a − ln c_b)·1e6) —
  ONE expression string evaluated by both engines (identical IEEE
  order, micro-round absorbing last-ulp libm noise, the trigram-LM
  discipline) — with (score DESC, a, b) tie-breaks. It needs the
  weighted symbol counts, so each round shuffles a symbol-count
  aggregate beside the pair counts.
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

WP_ROUNDS = 6

# score(a,b) in integer micro-log-units — shared verbatim with the
# DuckDB oracle (columns pair_count / ca / cb must be in scope)
WP_SCORE_SQL = (
    "CAST(round((ln(CAST(pair_count AS DOUBLE))"
    " - ln(CAST(ca AS DOUBLE)) - ln(CAST(cb AS DOUBLE)))"
    " * 1000000) AS BIGINT)"
)

WORDPIECE = MergeScheme(
    rounds=WP_ROUNDS,
    symbol=lambda c, i: F.when(i == 1, c).otherwise(
        F.concat(F.lit("##"), c)
    ),
    symbol_sql="CASE WHEN {i} = 1 THEN {c} ELSE '##' || {c} END",
    merged=lambda a, b: F.concat(a, F.substr(b, F.lit(3))),
    merged_sql="{a} || {b}[3:]",
    score_sql=WP_SCORE_SQL,
)


def wordpiece_train_merges(
    docs: DataFrame, rounds: int = WP_ROUNDS
) -> DataFrame:
    """(round, merge_a, merge_b, pair_count, score_micro): the
    learned merge table."""
    return train_merges(docs, WORDPIECE, rounds)


def wordpiece_pieces_expr(words, merges: list[tuple[str, str]]):
    """bigint Column: WordPiece piece count of a word-array column
    under the frozen rank-ordered merge list."""
    return pieces_expr(WORDPIECE, words, merges)


def wordpiece_tokenize_stats(
    docs: DataFrame, rounds: int = WP_ROUNDS
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_wp_pieces): tokenize the corpus with a
    merge table trained on it — the train→serve pair in one query.
    Continuation pieces are n_wp_pieces − n_ws_tokens by the '##'
    invariant (every non-initial piece carries the marker)."""
    merges = extract_merges(wordpiece_train_merges(docs, rounds=rounds))
    return tokenize_projection(docs, WORDPIECE, merges, "n_wp_pieces")
