"""Text analysis operators over a document corpus: tokenization,
quality scoring, language identification, fingerprinting.

All pure `pyspark.sql.functions` column expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path. At 100 TB these
run as a single scan with no shuffle (per-row derivations), so
throughput is bounded by parquet decode, not by the operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic. Deliberately small and deterministic.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "des"),
    "es": ("el", "los", "las", "es", "una", "que", "por", "con"),
}

STOPWORDS_EN = LANG_MARKERS["en"] + ("a", "an", "for", "on", "with", "as")


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (empty tokens
    filtered). The shared token definition for all text operators —
    mirrored in oracles as string_split(lower(text), ' ')."""
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Number of tokens under the shared definition, computed WITHOUT
    materializing the token array: non-empty segments between single
    spaces are exactly the maximal runs of non-space characters, so
    regexp_count('[^ ]+') gives the same number with one regex scan
    and no per-row array allocation (lowercasing can't change it)."""
    return F.regexp_count(text, F.lit(r"[^ ]+"))


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()-]", ""))
    return punct.cast("double") / F.greatest(F.length(text), F.lit(1))


def digit_ratio(text: Column) -> Column:
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return digits.cast("double") / F.greatest(F.length(text), F.lit(1))


def stopword_count(text: Column, stopwords=STOPWORDS_EN) -> Column:
    """Number of tokens that are (English) stopwords."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(sw, t)))


def quality_score(text: Column) -> Column:
    """Heuristic quality score in [0, 1]: rewards mid-length docs and
    healthy stopword presence, penalizes punctuation/digit soup.
    Deterministic arithmetic only (portable to any SQL engine)."""
    n_tok = token_count(text)
    length_ok = F.when((n_tok >= 5) & (n_tok <= 5000), 1.0).otherwise(0.3)
    sw_ratio = stopword_count(text).cast("double") / F.greatest(
        n_tok, F.lit(1)
    )
    sw_ok = F.when((sw_ratio >= 0.05) & (sw_ratio <= 0.6), 1.0).otherwise(0.5)
    noise = punct_ratio(text) + digit_ratio(text)
    noise_ok = F.when(noise < 0.2, 1.0).otherwise(0.4)
    return (0.4 * length_ok + 0.3 * sw_ok + 0.3 * noise_ok).alias("quality")


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-token counts (the n-gram-ish heuristic)."""
    toks = tokens(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(text: Column) -> Column:
    """argmax over language marker counts; 'und' (undetermined) when
    no marker hits. Ties break by fixed language order en>de>fr>es
    (strictly-greater comparison chain — same on any engine)."""
    scores = lang_scores(text)
    langs = list(LANG_MARKERS)
    best = F.lit("und")
    best_score = F.lit(0)
    # Fold left: first language with a strictly greater score wins.
    for lang in langs:
        s = scores[lang]
        take = s > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return best


def normalized_text(text: Column) -> Column:
    """Normalization for fingerprinting: lowercase, collapse all
    whitespace runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.
    (The exact-dedup key; a content-defined rolling hash would slot in
    here for shift-robust chunk fingerprints.)"""
    return F.md5(normalized_text(text))


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document statistics + quality + language + print."""
    from ..io import ensure_min_parallelism

    t = F.col(text_col)
    docs = ensure_min_parallelism(docs)
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        char_count(t).alias("n_chars_computed"),
        punct_ratio(t).alias("punct_ratio"),
        digit_ratio(t).alias("digit_ratio"),
        stopword_count(t).alias("n_stopwords"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def doc_shingles(docs):
    """(doc_id, shingle) exploded per-doc-distinct token 3-grams —
    the shingle stream the contamination family probes."""
    from pyspark.sql import functions as F

    return docs.select(
        "doc_id", tokens(F.col("text")).alias("ts")
    ).select(
        "doc_id",
        F.explode(trigram_shingles(F.col("ts"))).alias("shingle"),
    )


def trigram_shingles(ts: Column) -> Column:
    """Distinct token 3-gram shingles of a TOKEN-ARRAY column (empty
    if < 3 tokens). Takes the materialized array, not the raw text:
    an inline tokens(text) here would re-run the split+filter for
    every element_at reference in the lambda — O(tokens²·len) per
    row. Project tokens(text) into a column first. SQL mirror:
    list_transform(generate_series(1, len(ts)-2),
    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])."""
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ts) - 2, F.lit(0))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(ts, i),
            F.element_at(ts, i + 1),
            F.element_at(ts, i + 2),
        ),
    )
    return F.when(F.size(ts) >= 3, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )


def trigram_all(ts: Column) -> Column:
    """ALL token 3-grams (with multiplicity) of a token-array column —
    repetition analysis needs the counts that the distinct shingle set
    throws away. Empty if < 3 tokens; same caller contract as
    `trigram_shingles` (pass a materialized array column)."""
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ts) - 2, F.lit(0))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(ts, i),
            F.element_at(ts, i + 1),
            F.element_at(ts, i + 2),
        ),
    )
    return F.when(F.size(ts) >= 3, tri).otherwise(
        F.array().cast("array<string>")
    )
