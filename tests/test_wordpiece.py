"""WordPiece training/apply (operators/wordpiece.py): parity with a
pure-Python reference, likelihood-vs-frequency winner divergence from
BPE, '##' marker semantics, tie-breaks, and exhaustion."""

import math
from collections import Counter

import pytest

from jly_flink_spark.operators.wordpiece import (
    wordpiece_tokenize_stats,
    wordpiece_train_merges,
)

from .oracle_harness import _frame_to_rows, duckdb_connect

SF = "/root/testdata/sf0.001"


def _init_syms(word: str) -> list[str]:
    return [word[0]] + ["##" + c for c in word[1:]]


def _merged(a: str, b: str) -> str:
    return a + b[2:]


def _ref_wordpiece(word_counts: dict[str, int], rounds: int):
    """Reference trainer: (round, a, b, pair_count, score_micro)."""
    st = [(_init_syms(w), c) for w, c in word_counts.items()]
    merges = []
    for r in range(1, rounds + 1):
        pc: Counter = Counter()
        sc: Counter = Counter()
        for syms, c in st:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
            for s in syms:
                sc[s] += c
        if not pc:
            break
        scored = {
            (a, b): round(
                (math.log(n) - math.log(sc[a]) - math.log(sc[b])) * 1e6
            )
            for (a, b), n in pc.items()
        }
        (a, b) = sorted(
            scored, key=lambda ab: (-scored[ab], ab[0], ab[1])
        )[0]
        merges.append((r, a, b, pc[(a, b)], scored[(a, b)]))
        nxt = []
        for syms, c in st:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = _merged(a, b)
                else:
                    out.append(s)
            nxt.append((out, c))
        st = nxt
    return merges


def _ref_apply(word: str, merges) -> list[str]:
    syms = _init_syms(word)
    for _, a, b, _, _ in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = _merged(a, b)
            else:
                out.append(s)
        syms = out
    return syms


def _wc(texts):
    wc: Counter = Counter()
    for t in texts:
        wc.update(w for w in t.lower().split(" ") if w)
    return dict(wc)


def _run(spark, texts, rounds):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = wordpiece_train_merges(docs, rounds=rounds).collect()
    return sorted(
        (
            r["round"],
            r["merge_a"],
            r["merge_b"],
            r["pair_count"],
            r["score_micro"],
        )
        for r in rows
    )


TEXTS = [
    "low lower lowest newer newest wider wide",
    "low low lower newer new news",
    "the the the them theme these",
]


def test_wordpiece_matches_reference(spark):
    got = _run(spark, TEXTS, 6)
    want = _ref_wordpiece(_wc(TEXTS), 6)
    assert got == want
    # every right part must be a continuation symbol
    assert all(b.startswith("##") for _, _, b, _, _ in want), want


def test_wordpiece_prefers_likelihood_over_frequency(spark):
    """The defining divergence from BPE: ('x','##y') occurs 3 times
    but both symbols are common (diluted score); ('q','##z') occurs
    twice between two RARE symbols and must win round 1 on
    likelihood, though BPE's frequency rule would pick the former."""
    texts = ["xy xy xy xw xv yy qz qz"]
    wc = _wc(texts)
    pc: Counter = Counter()
    for w, c in wc.items():
        syms = _init_syms(w)
        for i in range(len(syms) - 1):
            pc[(syms[i], syms[i + 1])] += c
    assert pc[("x", "##y")] > pc[("q", "##z")]  # fixture sanity
    got = _run(spark, texts, 1)
    assert got[0][1:3] == ("q", "##z"), got


def test_wordpiece_tiebreak_is_lexicographic(spark):
    # two pairs, identical counts everywhere → identical scores →
    # the lexicographically smaller pair must win
    got = _run(spark, ["ab cd ab cd"], 1)
    assert (got[0][1], got[0][2]) == ("a", "##b")


def test_wordpiece_exhausts_gracefully(spark):
    got = _run(spark, ["ab ab ab"], 4)
    assert len(got) == 1 and (got[0][1], got[0][2]) == ("a", "##b")


def test_wordpiece_tokenize_matches_reference_apply(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_wp_pieces"])
        for r in wordpiece_tokenize_stats(docs, rounds=6).collect()
    }
    merges = _ref_wordpiece(_wc(TEXTS), 6)
    for i, t in enumerate(TEXTS):
        ws = [w for w in t.lower().split(" ") if w]
        pieces = sum(len(_ref_apply(w, merges)) for w in ws)
        assert rows[i] == (len(ws), pieces)
        # piece counts bounded: between 1 and len(word) per word
        assert rows[i][1] <= sum(len(w) for w in ws)
        assert rows[i][1] >= len(ws)


@pytest.mark.parametrize(
    "name",
    [
        "wordpiece_train_merges",
        "wordpiece_tokenize_corpus",
        "bpe_train_merges",
        "bpe_tokenize_corpus",
    ],
)
def test_registered_oracle_fits_a_memory_cap(spark, name):
    """The unrolled merge-learner oracles run under a 2 GB DuckDB cap
    and agree with the Spark side. With every st{r}/sc{r} reference
    inlined, the WordPiece plan grows ~3^rounds and runs out of
    memory; the BPE plan grows ~2^rounds."""
    from jly_flink_spark.plans import REGISTRY

    spec = REGISTRY[name]
    con = duckdb_connect(SF)
    try:
        con.execute("SET memory_limit = '2GB'")
        con.execute("SET threads = 4")
        oracle = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    spark_side = spec.spark_fn(spark, SF).toPandas()
    cols = sorted(spark_side.columns)
    assert sorted(oracle.columns) == cols
    want, _ = _frame_to_rows(spark_side, cols)
    got, _ = _frame_to_rows(oracle, cols)
    assert got == want and len(want) > 0
