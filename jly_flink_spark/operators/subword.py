"""The greedy subword merge learner shared by BPE (operators/bpe.py)
and WordPiece (operators/wordpiece.py): train a rank-ordered merge
table on a corpus, then apply it per word.

The two tokenizers differ in three things only, which a frozen
`MergeScheme` fixes once for each: the initial symbols of a word,
the token two adjacent symbols merge into, and the score that picks
each round's winning pair. Everything else — the round loop, the
greedy fold, the merge-table collect and the per-word apply — is
written once here.

Declarative fixed-point shape, like the classifier GD epochs and the
K-means rounds: `scheme.rounds` unrolled merge rounds, each fully
inside the DataFrame plan and value-hash oracle-checkable.

Scale shape (the 100-TB argument — the reason training is feasible
at corpus scale at all):
- The corpus is touched ONCE: a single map-side-combined word-count
  aggregation down to the (word, cnt) vocabulary
  (`unigram._word_vocab`). Every merge round thereafter operates on
  the VOCAB table — |V| rows regardless of corpus size (this is also
  how reference implementations train: on word frequencies, never on
  the raw stream).
- Per round, the only shuffles are the (a, b) pair-count partials
  (map-side combined, bounded by distinct adjacent pairs per
  partition), the symbol-count partials when the score needs them
  (broadcast into the score join, so the plan and its job count are
  fixed at plan time), and a 1-row sort-limit for the winning pair.
  The merge rewrite is a per-row greedy fold over the symbol array —
  zero shuffle, broadcast of the single winner row.
- The symbol-state frame is staged (io.stage) per round, keeping the
  lazy plan linear in rounds (the K-means/classifier lesson: a
  twice-referenced round frame doubles the subtree per round).
- Apply freezes the collected merge table into a pure per-row
  expression (nested higher-order functions, zero shuffle, no model
  join).

Bit-exactness: counts are exact integers; the winner breaks ties by
(score DESC, a, b) string order, where the score is one SQL string
both engines evaluate; the greedy left-to-right merge is a fold both
engines express identically (Spark `aggregate` with an empty init +
null-safe `get`; DuckDB `list_reduce` over singleton-wrapped symbols,
whose first-element init is equivalent). A merged token never
string-equals its own left part (the right part it appends is never
empty), so a single pass can never cascade — the fold and the oracle
agree on every corpus. The DuckDB side of every scheme part lives on
the scheme too; `plans/training_queries.py` assembles the oracles
from it.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import stage

_PAIR_EXPR = (
    "CASE WHEN size(syms) >= 2 THEN transform(sequence(1, size(syms)-1),"
    " i -> struct(element_at(syms, i) AS a, element_at(syms, i+1) AS b))"
    " ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
)


@dataclass(frozen=True)
class MergeScheme:
    """One member of the merge-learner family, each part in a Spark
    Column form and a DuckDB SQL form (`str.format` templates)."""

    rounds: int
    # initial symbol of character `c` at 1-based position `i`
    symbol: Callable[[Column, Column], Column]
    symbol_sql: str  # fields {c}, {i}
    # the token adjacent symbols `a`, `b` merge into
    merged: Callable[[Column, Column], Column]
    merged_sql: str  # fields {a}, {b}
    # winner score over pair_count and the symbol counts ca / cb, one
    # string for both engines, emitted as score_micro; None ranks by
    # pair_count alone and builds no symbol-count frame
    score_sql: Optional[str] = None

    @property
    def merge_cols(self) -> tuple[str, ...]:
        """The merge table's value columns; the winner maximizes the
        last one."""
        if self.score_sql is None:
            return ("pair_count",)
        return ("pair_count", "score_micro")


def initial_symbols(scheme: MergeScheme, word: Column) -> Column:
    """array<string> Column: the word split into the scheme's
    initial symbols."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: scheme.symbol(F.substr(word, i, F.lit(1)), i),
    )


def _merge_fold(syms: Column, ta: Column, tb: Column, merged: Column):
    """Greedy left-to-right merge of adjacent (ta, tb) in the symbol
    array into `merged`: one pass, merged tokens don't re-combine
    within the pass. `F.get` (0-based, NULL out of range) keeps the
    empty-accumulator probe ANSI-safe."""

    def step(acc, s):
        return F.when(
            (F.get(acc, F.size(acc) - 1) == ta) & (s == tb),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def train_merges(
    docs: DataFrame, scheme: MergeScheme, rounds: int
) -> DataFrame:
    """(round, merge_a, merge_b, pair_count[, score_micro]): the
    learned merge table — round r's best-scoring adjacent symbol pair
    over the whole vocabulary (weighted by word count) after applying
    rounds 1..r-1. An exhausted vocabulary ends the table early."""
    from .unigram import _word_vocab

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    st = (
        _word_vocab(docs)
        .select("cnt", initial_symbols(scheme, F.col("word")).alias("syms"))
        .transform(stage)
    )
    rank = scheme.merge_cols[-1]

    merge_rows = []
    for r in range(1, rounds + 1):
        pc = (
            st.select("cnt", F.explode(F.expr(_PAIR_EXPR)).alias("p"))
            .select("cnt", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        )
        if scheme.score_sql is not None:
            sc = (
                st.select("cnt", F.explode("syms").alias("sym"))
                .groupBy("sym")
                .agg(F.sum("cnt").cast("bigint").alias("c"))
            )

            # broadcast at plan time: the symbol table is
            # vocabulary-sized, and a join strategy left to AQE's
            # run-time re-planning varies the job count between
            # identical runs
            def side(sym, c):
                return F.broadcast(
                    sc.select(F.col("sym").alias(sym), F.col("c").alias(c))
                )

            pc = (
                pc.join(side("a", "ca"), "a")
                .join(side("b", "cb"), "b")
                .select(
                    "a",
                    "b",
                    "pair_count",
                    F.expr(scheme.score_sql).alias(rank),
                )
            )
        top1 = (
            pc.orderBy(F.col(rank).desc(), "a", "b").limit(1).transform(stage)
        )
        merge_rows.append(
            top1.select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("a").alias("merge_a"),
                F.col("b").alias("merge_b"),
                *scheme.merge_cols,
            )
        )
        winner = top1.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
        ta, tb = F.col("ta"), F.col("tb")
        st = (
            st.crossJoin(F.broadcast(winner))
            .select(
                "cnt",
                _merge_fold(
                    F.col("syms"), ta, tb, scheme.merged(ta, tb)
                ).alias("syms"),
            )
            .transform(stage)
        )
    return reduce(DataFrame.unionAll, merge_rows)


def extract_merges(merges_df: DataFrame) -> list[tuple[str, str]]:
    """Collect the learned merge table as driver model state — the
    train-offline/serve-online boundary (like classifier weights and
    K-means centroids): the (a, b) pairs in rank order."""
    rows = sorted(merges_df.collect(), key=lambda r: r["round"])
    return [(r["merge_a"], r["merge_b"]) for r in rows]


def pieces_expr(
    scheme: MergeScheme, words: Column, merges: list[tuple[str, str]]
) -> Column:
    """bigint Column: token count of a word-array column under the
    frozen rank-ordered merge list — each word splits to the scheme's
    initial symbols, each merge applies as one greedy fold in rank
    order, counts sum across words."""

    def word_pieces(w):
        syms = initial_symbols(scheme, w)
        for a, b in merges:
            ta, tb = F.lit(a), F.lit(b)
            syms = _merge_fold(syms, ta, tb, scheme.merged(ta, tb))
        return F.size(syms)

    return F.aggregate(
        F.transform(words, word_pieces),
        F.lit(0).cast("bigint"),
        lambda acc, n: acc + n,
    )


def tokenize_projection(
    docs: DataFrame,
    scheme: MergeScheme,
    merges: list[tuple[str, str]],
    out_col: str,
) -> DataFrame:
    """The stateless scoring projection shared by batch and stream:
    (doc_id, n_ws_tokens, <out_col>) per token-bearing doc — documents
    with no tokens drop, like the training vocabulary drops them."""
    from .text import tokens

    toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("ws")
    ).filter(F.size("ws") > 0)
    return toks.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.size("ws").cast("bigint").alias("n_ws_tokens"),
        pieces_expr(scheme, F.col("ws"), merges).alias(out_col),
    )
