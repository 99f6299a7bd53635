"""North-star training-data-pipeline queries (BASELINE.json): dedup,
similarity search, text analysis, multimodal — each backed by the
operators package and (where deterministic) a DuckDB oracle.

The oracle SQL for the hash-based operators (minhash/simhash/
fingerprints) is *generated from the same parameters* as the Spark
plans, so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table, stage
from ..operators import dedup, multimodal, similarity, text
from ..sources.layout import HAMMING_BAND_BITS, HAMMING_N_BANDS, hamming_bands
from .registry import register

# ---------------------------------------------------------------------------
# Shared oracle fragments (kept in lockstep with operators/text.py)
# ---------------------------------------------------------------------------

# tokens(text) mirror: non-empty whitespace tokens of lower(text)
_TOKS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_FP = f"md5({_NORM})"

_SW = ", ".join(f"'{w}'" for w in text.STOPWORDS_EN)

_LANG_COUNTS = {
    lang: (
        "len(list_filter({toks}, t -> list_contains([{ws}], t)))".format(
            toks=_TOKS, ws=", ".join(f"'{w}'" for w in ws)
        )
    )
    for lang, ws in text.LANG_MARKERS.items()
}

# argmax with the same fold order as operators/text.py::lang_id
_LANG_PRED = f"""
CASE
  WHEN {_LANG_COUNTS['es']} > greatest({_LANG_COUNTS['en']}, {_LANG_COUNTS['de']}, {_LANG_COUNTS['fr']}, 0) THEN 'es'
  WHEN {_LANG_COUNTS['fr']} > greatest({_LANG_COUNTS['en']}, {_LANG_COUNTS['de']}, 0) THEN 'fr'
  WHEN {_LANG_COUNTS['de']} > greatest({_LANG_COUNTS['en']}, 0) THEN 'de'
  WHEN {_LANG_COUNTS['en']} > 0 THEN 'en'
  ELSE 'und'
END
"""

_PUNCT_RE = "[^.,;:!?''\"()-]"  # doubled quote for SQL literal
_N_TOK = f"len({_TOKS})"
_N_SW = f"len(list_filter({_TOKS}, t -> list_contains([{_SW}], t)))"
_PUNCT_RATIO = (
    f"CAST(length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS DOUBLE)"
    " / greatest(length(text), 1)"
)
_DIGIT_RATIO = (
    "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)"
    " / greatest(length(text), 1)"
)
# NB: e0-suffixed literals force DOUBLE in DuckDB (bare 0.4 parses as
# DECIMAL there, changing the arithmetic and the rendered scale).
_QUALITY = f"""
0.4e0 * (CASE WHEN {_N_TOK} >= 5 AND {_N_TOK} <= 5000 THEN 1.0e0 ELSE 0.3e0 END)
+ 0.3e0 * (CASE WHEN (CAST({_N_SW} AS DOUBLE) / greatest({_N_TOK}, 1)) >= 0.05
               AND (CAST({_N_SW} AS DOUBLE) / greatest({_N_TOK}, 1)) <= 0.6
          THEN 1.0e0 ELSE 0.5e0 END)
+ 0.3e0 * (CASE WHEN ({_PUNCT_RATIO} + {_DIGIT_RATIO}) < 0.2 THEN 1.0e0 ELSE 0.4e0 END)
"""

# distinct (doc_id, tok) pairs — mirror of dedup.doc_tokens
_DOC_TOKS_CTE = f"""
doc_toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
)
"""


def _minhash_oracle() -> str:
    return f"""
WITH {_DOC_TOKS_CTE},
sigs AS ({dedup.minhash_sigs_sql()}),
bands AS ({dedup.minhash_bands_sql()})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band_key)
WHERE a.doc_id < b.doc_id
"""


def _simhash_sig_sql(n_hex: int) -> tuple[str, str]:
    """(votes, sig) SQL fragments of the 4·n_hex-bit SimHash — the
    ONE DuckDB-side definition of the vote/fold arithmetic, mirroring
    `dedup._simhash` and shared by both simhash oracles."""
    digit = (
        "(instr('0123456789abcdef', substring(md5(tok), {j}, 1)) - 1)"
    )
    votes = []
    for j in range(n_hex):
        d = digit.format(j=j + 1)
        bits = [
            f"(CASE WHEN {d} >= 8 THEN 1 ELSE 0 END)",
            f"(CASE WHEN ({d} % 8) >= 4 THEN 1 ELSE 0 END)",
            f"(CASE WHEN ({d} % 4) >= 2 THEN 1 ELSE 0 END)",
            f"({d} % 2)",
        ]
        for kk, bit in enumerate(bits):
            votes.append(f"sum({bit} * 2 - 1) AS v{j * 4 + kk}")
    sig = " + ".join(
        f"CAST(v{i} >= 0 AS BIGINT) * {2**i}" for i in range(n_hex * 4)
    )
    return ", ".join(votes), sig


def _simhash_oracle() -> str:
    votes, sig = _simhash_sig_sql(4)
    return f"""
WITH {_DOC_TOKS_CTE},
voted AS (SELECT doc_id, {votes} FROM doc_toks GROUP BY doc_id),
sigs AS (SELECT doc_id, {sig} AS simhash FROM voted)
SELECT simhash, min(doc_id) AS canonical_doc_id, count(*) AS n_docs
FROM sigs GROUP BY simhash HAVING count(*) > 1
"""


_QUANT = similarity.QUANT
_ANN_QUERY_IDS = [0, 1, 2, 3, 4]
_ANN_K = 5


def _ann_oracle() -> str:
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    qprod = (
        f"CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE) * {_QUANT})"
        " AS BIGINT)"
    )
    nprod = (
        f"CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {_QUANT})"
        " AS BIGINT)"
    )
    return f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN ({ids})),
prods AS (
  SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
         unnest(q.embedding) AS qx, unnest(e.embedding) AS ex
  FROM q, embeddings e
  WHERE e.vec_id <> q.vec_id
),
dots AS (
  SELECT query_id, cand_id, sum({qprod}) AS qdot
  FROM prods GROUP BY query_id, cand_id
),
norms AS (
  SELECT vec_id, sum({nprod}) AS qn
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
scored AS (
  -- qn > 0 on BOTH sides mirrors the engine's zero-quantized-norm
  -- drop (similarity.drop_zero_norm): cosine is undefined there, and
  -- keeping such rows would shift row_number ranks vs the Spark plan.
  SELECT d.query_id, d.cand_id,
         CAST(d.qdot AS DOUBLE)
           / (sqrt(CAST(nq.qn AS DOUBLE)) * sqrt(CAST(nc.qn AS DOUBLE))) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
  WHERE nq.qn > 0 AND nc.qn > 0
)
SELECT query_id, cand_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""


# ---------------------------------------------------------------------------
# Queries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    oracle=f"""
SELECT {_FP} AS fp, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
    tags=("northstar", "dedup"),
    doc="Exact dedup groups: md5 fingerprint of normalized text, "
    "canonical representative = min doc_id. One slim hash shuffle.",
)
def dedup_exact_groups(spark, sf_dir):
    return dedup.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_corpus",
    oracle=f"""
SELECT doc_id, text, lang, source, n_chars
FROM documents
WHERE doc_id IN (
  SELECT min(doc_id) FROM documents GROUP BY {_FP}
)
""",
    tags=("northstar", "dedup"),
    doc="Deduplicated corpus via semi-join of canonical winners — "
    "full rows never shuffle.",
)
def dedup_exact_corpus(spark, sf_dir):
    return dedup.exact_dedup_keep_first(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "dedup_minhash_candidates",
    oracle=_minhash_oracle(),
    tags=("northstar", "dedup", "minhash"),
    doc=f"MinHash+LSH near-dup candidate pairs (K={dedup.MINHASH_K}, "
    f"{dedup.MINHASH_BANDS} bands × {dedup.MINHASH_ROWS}); md5-based "
    "so the oracle reproduces signatures exactly.",
)
def dedup_minhash_candidates(spark, sf_dir):
    return dedup.minhash_candidate_pairs(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "dedup_simhash_groups",
    oracle=_simhash_oracle(),
    tags=("northstar", "dedup", "simhash"),
    doc="SimHash-16 near-dup groups via bit-majority voting "
    "(md5-derived bits, engine-portable arithmetic).",
)
def dedup_simhash_groups(spark, sf_dir):
    return dedup.simhash_dup_groups(load_table(spark, sf_dir, "documents"))


def _simhash_hamming_oracle() -> str:
    """DuckDB mirror of `dedup.simhash_hamming_pairs`: 60-bit simhash
    (15 md5 hex digits), 4×15-bit banding, bucket-size cap, Hamming
    verify via bit_count(xor) — bit-identical to the Spark plan."""
    votes, sig = _simhash_sig_sql(dedup.SIMHASH_WIDE_HEX)
    mask = (1 << dedup.SIMHASH_BAND_BITS) - 1
    return f"""
WITH {_DOC_TOKS_CTE},
voted AS (SELECT doc_id, {votes} FROM doc_toks GROUP BY doc_id),
sigs AS (SELECT doc_id, {sig} AS sig FROM voted),
bands AS (
  SELECT doc_id, sig, t.b AS band_idx,
         (sig >> ({dedup.SIMHASH_BAND_BITS} * t.b)) & {mask} AS band_val
  FROM sigs, range({dedup.SIMHASH_BANDS}) t(b)
),
buckets AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY 1, 2
  HAVING count(*) > 1 AND count(*) <= {dedup.MAX_LSH_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id
JOIN buckets k ON k.band_idx = a.band_idx AND k.band_val = a.band_val
WHERE bit_count(xor(a.sig, b.sig)) <= {dedup.K_HAMMING}
"""


@register(
    "dedup_simhash_hamming",
    oracle=_simhash_hamming_oracle(),
    tags=("northstar", "dedup", "simhash"),
    doc="Manku-style near-dup pairs within Hamming distance 3 of a "
    "60-bit SimHash: 4×15-bit banding (pigeonhole-complete for k=3), "
    "bucket-capped pair expansion, bit_count(xor) verify — the "
    "web-scale dedup shape, never an all-pairs comparison.",
)
def dedup_simhash_hamming(spark, sf_dir):
    return dedup.simhash_hamming_pairs(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
WITH {_DOC_TOKS_CTE},
df AS (SELECT tok, count(*) AS dfreq FROM doc_toks GROUP BY tok),
rare AS (SELECT d.doc_id, d.tok FROM doc_toks d
         JOIN df ON df.tok = d.tok AND df.dfreq <= 1000),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM doc_toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b,
       CAST(s.n_shared AS DOUBLE)
         / CAST(sa.n_tok + sb.n_tok - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
WHERE CAST(s.n_shared AS DOUBLE)
      / CAST(sa.n_tok + sb.n_tok - s.n_shared AS DOUBLE) >= 0.5
""",
    tags=("northstar", "dedup", "jaccard"),
    doc="Exact n-gram(1) Jaccard over pairs sharing tokens, with a "
    "document-frequency cap as the skew guard.",
)
def dedup_jaccard_pairs(spark, sf_dir):
    return dedup.jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        min_jaccard=0.5,
        max_shingle_df=1000,
    )


def _ppjoin_oracle() -> str:
    num, den = dedup.PPJOIN_T_NUM, dedup.PPJOIN_T_DEN
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ts) - 2),
                  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
             AS shingle
    FROM toks WHERE len(ts) >= 3)
),
dfc AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1
),
ranked AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df, s.shingle) AS rn,
         CAST(count(*) OVER (PARTITION BY s.doc_id) AS BIGINT) AS m
  FROM sh s JOIN dfc d USING (shingle)
),
pre AS (
  SELECT doc_id, shingle, m FROM ranked
  WHERE rn <= m - ({num} * m + {den} - 1) // {den} + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.m AS m_a, b.m AS m_b
  FROM pre a
  JOIN pre b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE least(a.m, b.m) * {den} >= greatest(a.m, b.m) * {num}
),
inter AS (
  SELECT c.doc_a, c.doc_b, c.m_a, c.m_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, m_a, m_b, inter,
       CAST(inter * 1000000 // (m_a + m_b - inter) AS BIGINT)
         AS jacc_ppm
FROM inter
WHERE inter * {den} >= (m_a + m_b - inter) * {num}
"""


@register(
    "dedup_ppjoin_pairs",
    oracle=_ppjoin_oracle(),
    tags=("northstar", "dedup", "jaccard", "join"),
    doc="EXACT-threshold set-similarity self-join via prefix "
    "filtering (PPJoin-style, Xiao et al. 2008): every pair with "
    "shingle-set Jaccard ≥ 0.7 — COMPLETE by the prefix-filter "
    "theorem (any qualifying pair must share a shingle in the "
    "rare-first m−⌈t·m⌉+1 prefixes), the zero-false-negative "
    "guarantee MinHash-LSH trades away; completeness pinned against "
    "brute force in tests/test_operators.py. The rare-first global "
    "order doubles as the skew guard (prefixes hold the least-shared "
    "shingles, so boilerplate n-grams never seed candidate buckets); "
    "the length filter prunes size-incompatible candidates before "
    "the exact intersection count. Threshold arithmetic is exact "
    "integers end to end (⌈t·m⌉ = (7m+9)//10; verify 10·inter ≥ "
    "7·union), so the whole join value-hashes.",
)
def dedup_ppjoin_pairs(spark, sf_dir):
    return dedup.ppjoin_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "text_stats",
    oracle=f"""
SELECT doc_id,
       {_N_TOK} AS n_tokens,
       length(text) AS n_chars_computed,
       {_PUNCT_RATIO} AS punct_ratio,
       {_DIGIT_RATIO} AS digit_ratio,
       {_N_SW} AS n_stopwords,
       {_QUALITY} AS quality,
       {_LANG_PRED} AS lang_pred,
       {_FP} AS fingerprint
FROM documents
""",
    tags=("northstar", "text", "headline"),
    doc="One-pass per-document text analysis: token/char counts, "
    "punctuation+digit ratios, stopword counts, quality score, "
    "language-ID heuristic, fingerprint. Pure codegen'd expressions.",
)
def text_stats(spark, sf_dir):
    return text.text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_lang_breakdown",
    oracle=f"""
SELECT {_LANG_PRED} AS lang_pred, lang AS lang_true, count(*) AS n
FROM documents
GROUP BY 1, 2
""",
    tags=("northstar", "text"),
    doc="Language-ID confusion view: predicted × labelled language.",
)
def text_lang_breakdown(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            text.lang_id(F.col("text")).alias("lang_pred"),
            F.col("lang").alias("lang_true"),
        )
        .groupBy("lang_pred", "lang_true")
        .agg(F.count("*").alias("n"))
    )


@register(
    "ann_cosine_topk",
    oracle=_ann_oracle(),
    tags=("northstar", "similarity", "headline"),
    doc="Exact brute-force cosine top-k for a query set (broadcast "
    "queries × streamed corpus; quantized-exact dot products).",
)
def ann_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk_bruteforce(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=_ANN_QUERY_IDS,
        k=_ANN_K,
    )


def int8_code_ctes(
    src: str = "embeddings",
    key: str = "vec_id",
    vec: str = "embedding",
    prefix: str = "",
) -> str:
    """Symmetric per-vector int8 absmax codes, v → floor(v·127/scale),
    over `src`'s `vec` column as two CTEs — `{prefix}q` (key, scale,
    vec), then `{prefix}codes` (key, code) — with no leading WITH and
    no trailing comma: the ONE SQL spelling of the quantizer that
    `similarity._int8_codes_np` computes on the Spark side, the same
    formula the `embedding_quantize_int8` audit checks."""
    return f"""{prefix}q AS (
  SELECT {key},
         greatest(list_max(list_transform({vec},
                  v -> abs(CAST(v AS DOUBLE)))), 1e-12) AS scale,
         {vec}
  FROM {src}
),
{prefix}codes AS (
  SELECT {key},
         list_transform({vec}, v ->
           CAST(floor(CAST(v AS DOUBLE) * 127.0 / scale) AS BIGINT))
           AS code
  FROM {prefix}q
)"""


def _int8_adc_ctes() -> str:
    """The DuckDB int8 ADC scan as a CTE chain — q → codes → norms →
    dots → scored (every query × every other vector, cosine_q8) —
    shared by the ADC and MMR oracles. Exact integer dots/norms after
    the one quantizer, so bit-identical on both engines."""
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""{int8_code_ctes()},
norms AS MATERIALIZED (
  SELECT vec_id, CAST(list_sum(list_transform(code, v -> v * v)) AS BIGINT) AS qn
  FROM codes
),
prods AS (
  SELECT cq.vec_id AS query_id, cc.vec_id AS cand_id,
         unnest(cq.code) AS qa, unnest(cc.code) AS qb
  FROM codes cq, codes cc
  WHERE cq.vec_id IN ({ids}) AND cc.vec_id <> cq.vec_id
),
dots AS (
  SELECT query_id, cand_id, CAST(sum(qa * qb) AS BIGINT) AS qdot
  FROM prods GROUP BY query_id, cand_id
),
scored AS (
  -- qn > 0 on BOTH sides mirrors the engine's all-zero-codes drop
  -- (cosine undefined on a zero integer norm).
  SELECT d.query_id, d.cand_id,
         CAST(d.qdot AS DOUBLE)
           / (sqrt(CAST(nq.qn AS DOUBLE)) * sqrt(CAST(nc.qn AS DOUBLE)))
           AS cosine_q8
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
  WHERE nq.qn > 0 AND nc.qn > 0
)"""


def _int8_adc_oracle() -> str:
    """DuckDB mirror of the int8 ADC path: the shared ADC scan, then
    each query's top-k."""
    return f"""
WITH {_int8_adc_ctes()}
SELECT query_id, cand_id, cosine_q8, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_q8 DESC, cand_id) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""


@register(
    "ann_cosine_int8_adc",
    oracle=_int8_adc_oracle(),
    tags=("northstar", "similarity", "quantization"),
    doc="Approximate cosine top-k over int8-quantized codes (FAISS "
    "SQ8/ADC serving pattern): symmetric absmax quantization (the "
    "same formula `embedding_quantize_int8` audits), then exact "
    "integer dot products against broadcast query codes. The 4x "
    "scan-I/O cut a brute-force serving tier takes at corpus scale; "
    "codes are materialized at ingest in production, recomputed "
    "inline here only because the test corpus ships floats.",
)
def ann_cosine_int8_adc(spark, sf_dir):
    return similarity.cosine_topk_int8(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=_ANN_QUERY_IDS,
        k=_ANN_K,
    )


def _mmr_oracle(n_candidates: int = 20, k: int = 8) -> str:
    """Unrolled greedy MMR over the int8-ADC candidate chain: the
    shared ADC scan (`_int8_adc_ctes`: q → codes → norms → dots →
    scored) feeds a top-n_candidates CTE, pairwise candidate sims
    reuse the same codes, then k unrolled selection rounds — round t
    anti-joins the running pick set, takes max sim to it, and argmaxes
    7·rel − 3·maxsim with (score DESC, cand_id) ties. MATERIALIZED
    marks on the shared CTEs keep DuckDB from re-inlining them into
    every round (the iterative-oracle discipline)."""
    rounds = []
    for t in range(2, k + 1):
        prev = f"selu{t - 1}"
        rounds.append(f"""ms{t} AS (
  SELECT c.query_id, c.cand_id, c.rel, max(s.sim) AS maxsim
  FROM mmr_cands c
  JOIN {prev} p ON p.query_id = c.query_id
  JOIN mmr_sims s ON s.query_id = c.query_id
   AND s.aid = p.cand_id AND s.bid = c.cand_id
  WHERE NOT EXISTS (SELECT 1 FROM {prev} q
                    WHERE q.query_id = c.query_id
                      AND q.cand_id = c.cand_id)
  GROUP BY 1, 2, 3
),
pick{t} AS (
  SELECT query_id, cand_id, CAST({t} AS BIGINT) AS pick, rel,
         CAST(7 * rel - 3 * maxsim AS BIGINT) AS mmr_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY 7 * rel - 3 * maxsim DESC, cand_id) AS r
        FROM ms{t})
  WHERE r = 1
),
selu{t} AS MATERIALIZED (
  SELECT * FROM selu{t - 1} UNION ALL SELECT * FROM pick{t}
)""")
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH {_int8_adc_ctes()},
mmr_cands AS MATERIALIZED (
  SELECT query_id, cand_id,
         CAST(round(cosine_q8 * 1000000) AS BIGINT) AS rel
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cosine_q8 DESC, cand_id) AS rnk
        FROM scored)
  WHERE rnk <= {n_candidates}
),
pprod AS (
  SELECT a.query_id, a.cand_id AS aid, b.cand_id AS bid,
         unnest(ca.code) AS xa, unnest(cb.code) AS xb
  FROM mmr_cands a
  JOIN mmr_cands b ON b.query_id = a.query_id
                  AND b.cand_id <> a.cand_id
  JOIN codes ca ON ca.vec_id = a.cand_id
  JOIN codes cb ON cb.vec_id = b.cand_id
),
pd AS (
  SELECT query_id, aid, bid, CAST(sum(xa * xb) AS BIGINT) AS qd
  FROM pprod GROUP BY 1, 2, 3
),
mmr_sims AS MATERIALIZED (
  SELECT p.query_id, p.aid, p.bid,
         CAST(round(CAST(p.qd AS DOUBLE)
           / (sqrt(CAST(na.qn AS DOUBLE)) * sqrt(CAST(nb.qn AS DOUBLE)))
           * 1000000) AS BIGINT) AS sim
  FROM pd p
  JOIN norms na ON na.vec_id = p.aid
  JOIN norms nb ON nb.vec_id = p.bid
),
selu1 AS MATERIALIZED (
  SELECT query_id, cand_id, CAST(1 AS BIGINT) AS pick, rel,
         CAST(7 * rel AS BIGINT) AS mmr_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rel DESC, cand_id) AS r
        FROM mmr_cands)
  WHERE r = 1
),
{rounds_sql}
SELECT query_id, cand_id, pick, rel AS rel_micro, mmr_score
FROM selu{k}
"""


@register(
    "ann_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("northstar", "similarity", "ranking", "eval"),
    doc="Maximal Marginal Relevance diversity re-rank (Carbonell & "
    "Goldstein 1998) of the int8-ADC top-20: greedily pick 8, each "
    "round maximizing λ·rel − (1−λ)·max-sim-to-picked (λ=0.7) — the "
    "redundancy-aware selection a retrieval-augmented or "
    "dedup-aware training-batch builder runs on top of the "
    "similarity index (near-identical candidates waste the batch; "
    "MMR trades a little relevance for coverage). Exact: relevance "
    "and pairwise sims are micro-quantized int8 cosines (integer "
    "dots/norms, the round(·1e6) discipline), the greedy argmax is "
    "integer arithmetic with (score DESC, cand_id) ties, so the "
    "picked SETS value-hash across engines; the oracle unrolls all "
    "8 rounds as CTEs. Scale shape: candidate generation is the "
    "serving tier (broadcast queries × streamed corpus); the MMR "
    "stage touches only |queries|·20 candidate rows and their "
    "pairwise sims — request-batch state, never corpus-scale — with "
    "a lineage cut per greedy round.",
)
def ann_mmr_rerank(spark, sf_dir):
    return similarity.mmr_rerank_int8(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=_ANN_QUERY_IDS,
    )


def _lsh_oracle(n_planes: int = 6) -> str:
    """Exact DuckDB mirror of the LSH path: the hyperplanes are
    md5-derived and the sign sums are quantized int64 (see
    similarity._hyperplane_sign), so bucket ids — and therefore the
    approximate result itself — are bit-identical across engines.
    This turns an 'approximate ⇒ rows-only' entry into a value-hash
    check of the whole bucketing + same-bucket scoring machinery."""
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    comp = (
        "(CAST(strpos('0123456789abcdef', substring(md5('plane' || "
        "CAST(p AS VARCHAR) || '#' || CAST(j - 1 AS VARCHAR)), 1, 1)) "
        "- 1 AS DOUBLE) - 7.5)"
    )
    qprod = (
        f"CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE) * {_QUANT})"
        " AS BIGINT)"
    )
    nprod = (
        f"CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {_QUANT})"
        " AS BIGINT)"
    )
    return f"""
WITH plane_sums AS (
  SELECT vec_id, p,
         sum(CAST(floor(CAST(x AS DOUBLE) * {comp} * {_QUANT}) AS BIGINT))
           AS psum
  FROM (
    SELECT vec_id,
           unnest(embedding) AS x,
           unnest(generate_series(1, len(embedding))) AS j
    FROM embeddings
  )
  CROSS JOIN (SELECT unnest(range(0, {n_planes})) AS p) planes
  GROUP BY vec_id, p
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN psum >= 0 THEN (CAST(1 AS BIGINT) << p)
                  ELSE 0 END) AS bucket
  FROM plane_sums GROUP BY vec_id
),
norms AS (
  SELECT vec_id, sum({nprod}) AS qn
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
q AS (
  SELECT e.vec_id, e.embedding, b.bucket
  FROM embeddings e JOIN buckets b USING (vec_id)
  JOIN norms n USING (vec_id)
  WHERE e.vec_id IN ({ids}) AND n.qn > 0
),
cands AS (
  SELECT e.vec_id, e.embedding, b.bucket
  FROM embeddings e JOIN buckets b USING (vec_id)
  JOIN norms n USING (vec_id)
  WHERE n.qn > 0
),
prods AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         unnest(q.embedding) AS qx, unnest(c.embedding) AS ex
  FROM q JOIN cands c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
dots AS (
  SELECT query_id, cand_id, sum({qprod}) AS qdot
  FROM prods GROUP BY query_id, cand_id
),
scored AS (
  SELECT d.query_id, d.cand_id,
         CAST(d.qdot AS DOUBLE)
           / (sqrt(CAST(nq.qn AS DOUBLE)) * sqrt(CAST(nc.qn AS DOUBLE)))
           AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
)
SELECT query_id, cand_id, cosine, rnk FROM (
  SELECT query_id, cand_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id)
              AS INTEGER) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""


@register(
    "ann_cosine_lsh",
    oracle=_lsh_oracle(),
    tags=("northstar", "similarity", "approx"),
    doc="LSH-bucketed approximate cosine top-k (random-hyperplane "
    "signs from md5-derived deterministic planes) — the 100-TB scale "
    "path. Approximate w.r.t. the EXACT top-k (recall<1), but fully "
    "deterministic: quantized sign sums make bucket ids bit-identical "
    "across engines, so the whole bucketed pipeline is value-hash "
    "checked against a DuckDB mirror (same upgrade pattern as "
    "ann_cosine_ivf_exact). The oracle also mirrors the engine's "
    "zero-quantized-norm drop (qn > 0), so both sides agree even on "
    "corpora with degenerate vectors.",
)
def ann_cosine_lsh(spark, sf_dir):
    return similarity.cosine_topk_lsh(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=_ANN_QUERY_IDS,
        k=_ANN_K,
    )


_IVF_INT8_N_LIST = 16
_IVF_INT8_N_PROBE = 4
_IVF_INT8_LAYOUT_CACHE: dict[str, tuple[str, list]] = {}
_IVF_PQ_LAYOUT_CACHE: dict[str, tuple] = {}


def ivf_refined_cents_sql(
    n_list: int, final: str = "cents", idcol: str = "cid"
) -> str:
    """CTE block that REPLAYS `similarity.build_ivf_centroids(...,
    refine=True)` in DuckDB: seed centroids (the n_list smallest
    vec_ids), quantized-cosine assignment of the whole corpus to the
    seeds (the `_assign_udf` expression: argmax of
    qd/(√vq·√cqn), ties → lowest id), then ONE fixed-point Lloyd
    step — per (list, dim) `sum(floor(x·2^20)) // n` (truncating
    division on both engines) divided back by 2^20, a dyadic
    rational that is exact in double. Empty lists fall back to the
    seed value quantized through the same floor/scale. The block
    ends with `{final}({idcol}, cvec)`, the drop-in replacement for
    the old seed-centroid CTE, so the serving oracles downstream
    are textually unchanged. Round-9: this is what lets the
    REGISTERED pruned serving queries ship the refined (Lloyd-mean)
    coarse quantizer — the configuration whose recall round 8
    measured — and stay value-hash-checked."""
    from ..operators.similarity import REFINE_SCALE

    s = REFINE_SCALE
    p = f"{final}_"
    return f"""{p}seed AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS {idcol},
         embedding AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_list})
),
{p}snorm AS (
  SELECT {idcol},
         greatest(CAST(sum(CAST(floor(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT), 1) AS cqn
  FROM (SELECT {idcol}, unnest(cvec) AS c FROM {p}seed) GROUP BY {idcol}
),
{p}svnorm AS (
  SELECT vec_id,
         greatest(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT), 1) AS vq
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
{p}sdots AS (
  SELECT vec_id, {idcol},
         CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(cc AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT) AS qd
  FROM (SELECT e.vec_id, c.{idcol}, unnest(e.embedding) AS x,
               unnest(c.cvec) AS cc
        FROM embeddings e CROSS JOIN {p}seed c)
  GROUP BY vec_id, {idcol}
),
{p}sasg AS (
  -- assignment to SEEDS: same argmax/tie rule as serving assignment
  SELECT vec_id, {idcol} FROM (
    SELECT d.vec_id, d.{idcol},
           row_number() OVER (PARTITION BY d.vec_id
             ORDER BY CAST(d.qd AS DOUBLE)
               / (sqrt(CAST(v.vq AS DOUBLE)) * sqrt(CAST(n.cqn AS DOUBLE)))
               DESC, d.{idcol}) AS rn
    FROM {p}sdots d JOIN {p}svnorm v USING (vec_id)
    JOIN {p}snorm n USING ({idcol})
  ) WHERE rn = 1
),
{p}rsums AS (
  -- fixed-point Lloyd partial sums: sum(floor(x*2^20)) per (list, dim)
  SELECT a.{idcol}, f.dim, CAST(sum(f.val) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS cnt
  FROM {p}sasg a JOIN (
    SELECT vec_id, CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {s}) AS BIGINT) AS val
    FROM embeddings) f USING (vec_id)
  GROUP BY a.{idcol}, f.dim
),
{p}rflat AS (
  -- truncating integer mean back to a dyadic double; empty lists
  -- keep the seed, quantized through the same floor/scale
  SELECT s0.{idcol}, s0.dim,
         CAST(coalesce(r.s // r.cnt, s0.cval0) AS DOUBLE) / {s} AS c
  FROM (SELECT {idcol}, CAST(unnest(range(len(cvec))) AS BIGINT) AS dim,
               CAST(floor(CAST(unnest(cvec) AS DOUBLE) * {s}) AS BIGINT)
                 AS cval0
        FROM {p}seed) s0
  LEFT JOIN {p}rsums r USING ({idcol}, dim)
),
{final} AS (
  SELECT {idcol}, list(c ORDER BY dim) AS cvec FROM {p}rflat
  GROUP BY {idcol}
)"""


def ivf_assign_probe_ctes(n_list: int, n_probe: int) -> str:
    """The refined-centroid → quantized coarse assignment → n_probe
    probe-selection chain as a reusable CTE fragment (no leading
    WITH, no trailing comma) — relations cents, cnorm, vnorm, cprod,
    cdots, cent_cos, assign, probes. Shared by the int8 AND float
    pruned-IVF oracles: ONE SQL definition of the serving path's
    pruning arithmetic, mirroring `_assign_udf` /
    `_select_probe_lists` expression-for-expression (quantized
    centroid cosine, vq guarded at 1, ties → lowest cid)."""
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    return f"""{ivf_refined_cents_sql(n_list, final="cents", idcol="cid")},
cnorm AS (
  -- centroid quantized norm², guarded at 1 (mirrors _centroid_state)
  SELECT cid,
         greatest(CAST(sum(CAST(floor(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT), 1) AS cqn
  FROM (SELECT cid, unnest(cvec) AS c FROM cents) GROUP BY cid
),
vnorm AS (
  -- vector quantized norm², guarded at 1 (mirrors _assign_udf /
  -- _probe_frame_int8's max(vq, 1))
  SELECT vec_id,
         greatest(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT), 1) AS vq
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
cprod AS (
  SELECT e.vec_id, c.cid, unnest(e.embedding) AS x, unnest(c.cvec) AS cc
  FROM embeddings e CROSS JOIN cents c
),
cdots AS (
  SELECT vec_id, cid,
         CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(cc AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT) AS qd
  FROM cprod GROUP BY vec_id, cid
),
cent_cos AS (
  SELECT d.vec_id, d.cid,
         CAST(d.qd AS DOUBLE)
           / (sqrt(CAST(v.vq AS DOUBLE)) * sqrt(CAST(n.cqn AS DOUBLE)))
           AS ccos
  FROM cdots d JOIN vnorm v USING (vec_id) JOIN cnorm n ON n.cid = d.cid
),
assign AS (
  -- coarse assignment: argmax centroid cosine, ties → lowest cid
  SELECT vec_id, cid AS list_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM cent_cos
  ) WHERE rn = 1
),
probes AS (
  -- each query's n_probe nearest lists, same ordering rule
  SELECT vec_id AS query_id, cid AS list_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM cent_cos WHERE vec_id IN ({ids})
  ) WHERE rn <= {n_probe}
)"""


def _ivf_int8_oracle(
    n_list: int = _IVF_INT8_N_LIST, n_probe: int = _IVF_INT8_N_PROBE
) -> str:
    """Full DuckDB mirror of the PRUNED IVF-SQ8 serving path —
    REFINED coarse centroids (seed + one fixed-point Lloyd step,
    replayed by `ivf_refined_cents_sql`), quantized coarse
    assignment, n_probe probe selection, and exact-integer int8
    scoring are ALL reproduced expression-for-expression, so even
    with n_probe < n_list (real partition pruning) the result
    value-hashes across engines. Until round 9 the Lloyd step was
    absent here (float means are fold-order-dependent); the
    fixed-point refinement made it replayable, so the registered
    query now serves the production quantizer instead of the seed
    floor."""
    return f"""
WITH {ivf_assign_probe_ctes(n_list, n_probe)},
{int8_code_ctes()},
qnorm8 AS (
  SELECT vec_id, CAST(list_sum(list_transform(code, v -> v * v)) AS BIGINT) AS qn8
  FROM codes
),
pairs AS (
  -- candidates = vectors assigned to a probed list, self excluded
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probes p
  JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
pprod AS (
  SELECT pr.query_id, pr.cand_id, unnest(cq.code) AS qa, unnest(cc.code) AS qb
  FROM pairs pr
  JOIN codes cq ON cq.vec_id = pr.query_id
  JOIN codes cc ON cc.vec_id = pr.cand_id
),
dots AS (
  SELECT query_id, cand_id, CAST(sum(qa * qb) AS BIGINT) AS qdot
  FROM pprod GROUP BY query_id, cand_id
),
scored AS (
  -- qn8 > 0 on BOTH sides mirrors the layout's build-time drop and
  -- the probe frame's query-side drop (zero integer norm).
  SELECT d.query_id, d.cand_id,
         CAST(d.qdot AS DOUBLE)
           / (sqrt(CAST(nq.qn8 AS DOUBLE)) * sqrt(CAST(nc.qn8 AS DOUBLE)))
           AS cosine_q8
  FROM dots d
  JOIN qnorm8 nq ON nq.vec_id = d.query_id
  JOIN qnorm8 nc ON nc.vec_id = d.cand_id
  WHERE nq.qn8 > 0 AND nc.qn8 > 0
)
SELECT query_id, cand_id, cosine_q8, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_q8 DESC, cand_id) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""


def _ivf_float_oracle(n_list: int = 16, n_probe: int = 4) -> str:
    """Full DuckDB mirror of the PRUNED IVF-Flat serving path
    (`ann_cosine_ivf`, round-11 — verdict task 5: retire the last
    approximate-tier rows-only check). Shares the ONE
    assignment/probe-selection fragment with the int8 oracle
    (`ivf_assign_probe_ctes`), then scores probed pairs with the
    exact quantized-float cosine (`_float_cos_score`'s arithmetic:
    Σfloor(qx·ex·QUANT) / (√qn_q·√qn_c), zero-norm vectors dropped
    on both sides — `drop_zero_norm` / `_probe_frame` parity). With
    the pruning itself replayed in SQL, n_probe < n_list no longer
    forces a rows-only contract: recall<1 vs brute force is a
    PROPERTY of the algorithm both engines now reproduce
    identically."""
    return f"""
WITH {ivf_assign_probe_ctes(n_list, n_probe)},
qn AS (
  -- true quantized norm² (UNguarded — scoring uses the real value;
  -- the guard-at-1 applies only to assignment arithmetic above)
  SELECT vec_id,
         CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT) AS qn
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
pairs AS (
  -- candidates = vectors assigned to a probed list, self excluded
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probes p
  JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
pprod AS (
  SELECT pr.query_id, pr.cand_id,
         unnest(eq.embedding) AS qx, unnest(ec.embedding) AS ex
  FROM pairs pr
  JOIN embeddings eq ON eq.vec_id = pr.query_id
  JOIN embeddings ec ON ec.vec_id = pr.cand_id
),
dots AS (
  SELECT query_id, cand_id,
         CAST(sum(CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT) AS qdot
  FROM pprod GROUP BY query_id, cand_id
),
scored AS (
  SELECT d.query_id, d.cand_id,
         CAST(d.qdot AS DOUBLE)
           / (sqrt(CAST(nq.qn AS DOUBLE)) * sqrt(CAST(nc.qn AS DOUBLE)))
           AS cosine
  FROM dots d
  JOIN qn nq ON nq.vec_id = d.query_id
  JOIN qn nc ON nc.vec_id = d.cand_id
  WHERE nq.qn > 0 AND nc.qn > 0
)
SELECT query_id, cand_id, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rnk
  FROM scored
) WHERE rnk <= {_ANN_K}
"""


_IVF_INDEX_CACHE: dict[str, list] = {}


@register(
    "ann_cosine_ivf",
    oracle=_ivf_float_oracle(),
    tags=("northstar", "similarity", "approx"),
    doc="IVF(-Flat) approximate cosine top-k: deterministic seed "
    "centroids + one distributed Lloyd step, coarse-quantizer "
    "assignment, n_probe-pruned probing. With n_probe == n_list it "
    "equals brute force exactly (tested); at n_probe < n_list it is "
    "the (n_probe/n_list)-cost scale path. Index (centroids) built "
    "once per corpus and memoized — the build/serve split.",
)
def ann_cosine_ivf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # The index is deterministic model state per corpus: build once,
    # serve every query batch (rebuilding per query would charge the
    # one-time build cost to every probe).
    cents = _IVF_INDEX_CACHE.get(sf_dir)
    if cents is None:
        cents = similarity.build_ivf_centroids(emb)
        _IVF_INDEX_CACHE[sf_dir] = cents
    return similarity.cosine_topk_ivf(
        emb,
        query_ids=_ANN_QUERY_IDS,
        k=_ANN_K,
        centroids=cents,
    )


@register(
    "ann_cosine_ivf_exact",
    oracle=_ann_oracle(),
    tags=("northstar", "similarity"),
    doc="IVF with n_probe == n_list: every list probed, so the result "
    "equals brute force EXACTLY and the whole IVF machinery "
    "(assignment UDF, probe selection, per-list scoring) is "
    "value-hash-checked against the brute-force oracle — the "
    "correctness anchor for the pruned ann_cosine_ivf variant.",
)
def ann_cosine_ivf_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _IVF_INDEX_CACHE.get(sf_dir)
    if cents is None:
        cents = similarity.build_ivf_centroids(emb)
        _IVF_INDEX_CACHE[sf_dir] = cents
    return similarity.cosine_topk_ivf(
        emb,
        query_ids=_ANN_QUERY_IDS,
        k=_ANN_K,
        n_list=16,
        n_probe=16,
        centroids=cents,
    )


@register(
    "ann_cosine_ivf_int8",
    oracle=_ivf_int8_oracle(),
    tags=("northstar", "similarity", "quantization", "approx"),
    doc="PRUNED IVF-SQ8 serving (FAISS IVFx,SQ8): int8 codes persisted "
    "inside the partition-pruned IVF layout, so a request batch reads "
    "~n_probe/n_list of a corpus that is itself 4x smaller than "
    "float32 — the scale-out answer to ann_cosine_int8_adc's "
    "O(corpus) scan (the round-4 watch item). Round 9: serves "
    "REFINED coarse centroids (seed + one FIXED-POINT Lloyd step — "
    "integer partial sums, truncating mean, dyadic result), the "
    "production quantizer configuration, while staying FULLY "
    "value-hash checked: the oracle mirrors seed build, Lloyd "
    "refinement, coarse assignment, probe selection, and int8 "
    "scoring expression-for-expression. Probed-pair scores are "
    "bit-identical to the flat ADC tier (symmetric code-vs-code "
    "distance; tests/test_ivf_int8.py).",
)
def ann_cosine_ivf_int8(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    # Index + layout are deterministic per corpus: build once per
    # sf_dir and serve every request batch from the persisted layout
    # (the build/serve split every ANN system has). The path is a
    # STABLE function of sf_dir — each new process overwrites the
    # previous process's layout instead of leaking a fresh mkdtemp
    # copy of the quantized corpus per run.
    ent = _IVF_INT8_LAYOUT_CACHE.get(sf_dir)
    if ent is None:
        cents = similarity.build_ivf_centroids(
            emb, n_list=_IVF_INT8_N_LIST, refine=True
        )
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"jly_ivf_int8_{tag}", "corpus"
        )
        similarity.persist_ivf_int8(emb, path, cents)
        ent = (path, cents)
        _IVF_INT8_LAYOUT_CACHE[sf_dir] = ent
    path, cents = ent
    queries = emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS))
    return similarity.serve_ann_topk_int8(
        spark, queries, path, cents, k=_ANN_K, n_probe=_IVF_INT8_N_PROBE
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
SELECT label, count(*) AS n_vecs, min(norm) AS min_norm, max(norm) AS max_norm
FROM (
  SELECT label, vec_id,
         sqrt(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT)) AS DOUBLE) / {_QUANT}) AS norm
  FROM (SELECT label, vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY label, vec_id
)
GROUP BY label
""",
    tags=("northstar", "similarity"),
    doc="Per-label embedding norm stats (quantized-exact norms).",
)
def embedding_norm_stats(spark, sf_dir):
    return similarity.embedding_norm_stats(
        load_table(spark, sf_dir, "embeddings")
    )


@register(
    "text_repetition_buckets",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
tri AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ts) - 2),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS tg
  FROM toks WHERE len(ts) >= 3
),
cnt AS (SELECT doc_id, tg, count(*) AS c FROM tri GROUP BY doc_id, tg),
per_doc AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS ratio
  FROM cnt GROUP BY doc_id
)
SELECT CAST(least(floor(ratio * 10), 9) AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM per_doc GROUP BY 1
""",
    tags=("northstar", "text", "quality"),
    doc="Gopher-style repetition score: per document, the share of "
    "trigram occurrences taken by the single most-frequent trigram "
    "(boilerplate/looping-text detector), bucketed ×10 into a "
    "histogram. Counts aggregate BEFORE any wide op, so the explode "
    "never shuffles raw trigram rows across stages.",
)
def text_repetition_buckets(spark, sf_dir):
    from ..io import ensure_min_parallelism
    from ..operators.text import tokens, trigram_all

    docs = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("ts")
    ).filter(F.size("ts") >= 3)
    tri = toks.select(
        "doc_id", F.explode(trigram_all(F.col("ts"))).alias("tg")
    )
    cnt = tri.groupBy("doc_id", "tg").agg(F.count("*").alias("c"))
    per_doc = cnt.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("ratio")
    )
    return (
        per_doc.select(
            F.least(F.floor(F.col("ratio") * 10), F.lit(9))
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "embedding_quantize_int8",
    oracle="""
WITH scaled AS (
  SELECT label,
         greatest(list_max(list_transform(embedding,
                  v -> abs(CAST(v AS DOUBLE)))), 1e-12) AS scale,
         embedding
  FROM embeddings
),
errs AS (
  SELECT label,
         CAST(list_sum(list_transform(embedding, v ->
           CAST(floor(
             (CAST(v AS DOUBLE)
              - floor(CAST(v AS DOUBLE) * 127.0 / scale) * scale / 127.0)
             * (CAST(v AS DOUBLE)
              - floor(CAST(v AS DOUBLE) * 127.0 / scale) * scale / 127.0)
             * 1000000000000.0) AS BIGINT))) AS BIGINT) AS q_err
  FROM scaled
)
SELECT label, count(*) AS n_vecs, CAST(sum(q_err) AS BIGINT) AS total_qerr
FROM errs GROUP BY label
""",
    tags=("northstar", "embedding", "quantization"),
    doc="Int8 embedding quantization audit: symmetric per-vector "
    "absmax scaling (v → floor(v·127/scale)), reconstruction error "
    "accumulated as quantized integers (floor(err²·1e12)) so the "
    "total is fold-order-independent and engine-exact. The storage "
    "4× cut every embedding corpus takes at scale, with its error "
    "accounted for rather than assumed.",
)
def embedding_quantize_int8(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    absmax = F.aggregate(
        x,
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )
    scale = F.greatest(absmax, F.lit(1e-12))

    def err2(v):
        vd = v.cast("double")
        deq = F.floor(vd * 127.0 / scale) * scale / 127.0
        return F.floor((vd - deq) * (vd - deq) * F.lit(1e12)).cast(
            "bigint"
        )

    q_err = F.aggregate(
        F.transform(x, err2),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        emb.select("label", q_err.alias("q_err"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("q_err").cast("bigint").alias("total_qerr"),
        )
    )


# Planted-corpus arithmetic shared by the two header-decode oracles:
# mirrors operators/multimodal._planted_fields + plant_payload (one
# definition per engine; a drift in either breaks the value hash).
_MEDIA_PLANTED = """
WITH planted AS (
  SELECT doc_id,
         doc_id % 3 AS fmt,
         doc_id // 3 AS k,
         (doc_id % 37 = 0) AS malformed,
         octet_length(encode(text)) AS n
  FROM documents
),
expected AS (
  SELECT doc_id,
         CASE fmt WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                  ELSE 'wav' END AS media_type,
         CAST(CASE WHEN malformed THEN 6
              WHEN fmt = 0 THEN 57 + n
              WHEN fmt = 1 THEN 32 + 3 * (CASE WHEN k % 2 = 0
                                          THEN 1 ELSE 3 END) + n
              ELSE 44 + n END AS BIGINT) AS n_bytes,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 0 THEN 1 + (doc_id * 7) % 4096
              WHEN fmt = 1 THEN 1 + (doc_id * 11) % 60000
              ELSE NULL END AS INT) AS width,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 0 THEN 1 + (doc_id * 13) % 4096
              WHEN fmt = 1 THEN 1 + (doc_id * 17) % 60000
              ELSE NULL END AS INT) AS height,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 0 THEN ([1, 3, 4])[CAST(k % 3 AS INT) + 1]
              WHEN fmt = 1 THEN CASE WHEN k % 2 = 0 THEN 1 ELSE 3 END
              ELSE 1 + k % 2 END AS INT) AS channels,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 2 THEN 8000 * (1 + k % 5)
              ELSE NULL END AS INT) AS sample_rate
  FROM planted
)
"""


@register(
    "multimodal_media_stats",
    oracle=_MEDIA_PLANTED
    + """
SELECT media_type, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(min(n_bytes) AS BIGINT) AS min_bytes,
       CAST(max(n_bytes) AS BIGINT) AS max_bytes
FROM expected GROUP BY media_type
""",
    tags=("northstar", "multimodal"),
    doc="Binary media column stats over the encoded corpus — "
    "metadata-only aggregation on (media_type, n_bytes); the binary "
    "payload column is pruned out of the pipeline entirely.",
)
def multimodal_media_stats(spark, sf_dir):
    media = multimodal.documents_as_encoded_media(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.media_stats(media)


@register(
    "multimodal_extract_features",
    oracle=_MEDIA_PLANTED
    + """
SELECT doc_id, media_type, n_bytes, width, height, channels,
       sample_rate
FROM expected
""",
    tags=("northstar", "multimodal", "pandas_udf"),
    doc="REAL binary media decode, value-checked per row: one "
    "mapInPandas pass plants a structurally-valid PNG/JPEG/WAV per "
    "document (header fields derived from doc_id, utf-8 text as "
    "body, every 37th payload truncated mid-signature), a second "
    "Arrow-batched pass parses the containers back — PNG IHDR "
    "width/height/color-type, JPEG SOF0 marker-segment walk, WAV "
    "RIFF fmt-chunk channels/sample-rate — with malformed payloads "
    "becoming typed NULL rows, never task kills. The oracle "
    "recomputes the planted fields arithmetically, so any byte the "
    "encoder or parser gets wrong breaks the hash. Only the "
    "pixel/sample plane stays stubbed (no media libs in this "
    "container); the container codecs are genuine "
    "(operators/multimodal.py: encode_png/parse_png, encode_jpeg/"
    "parse_jpeg, encode_wav/parse_wav).",
)
def multimodal_extract_features(spark, sf_dir):
    media = multimodal.documents_as_encoded_media(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.extract_media_headers(media)


@register(
    "multimodal_decode_stats",
    oracle=_MEDIA_PLANTED
    + """
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(CASE WHEN width IS NULL AND sample_rate IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(width) AS BIGINT) AS sum_width,
       CAST(sum(height) AS BIGINT) AS sum_height,
       CAST(sum(channels) AS BIGINT) AS sum_channels,
       CAST(sum(sample_rate) AS BIGINT) AS sum_sample_rate
FROM expected GROUP BY media_type
""",
    tags=("northstar", "multimodal", "pandas_udf"),
    doc="Decode-health rollup over the real container parse "
    "(multimodal_extract_features' pipeline): per format, media "
    "count, MALFORMED count (the truncated payloads both engines "
    "plant deterministically — the garbage-rate monitor a media "
    "crawl runs continuously), byte totals and parsed-field sums. "
    "Value-hash-checked against the planted arithmetic, so the "
    "malformed-payload path (truncated header → typed NULLs, no "
    "task kill) is itself oracle-verified.",
)
def multimodal_decode_stats(spark, sf_dir):
    media = multimodal.documents_as_encoded_media(
        load_table(spark, sf_dir, "documents")
    )
    feats = multimodal.extract_media_headers(media)
    return feats.groupBy("media_type").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum(
            (
                F.col("width").isNull() & F.col("sample_rate").isNull()
            ).cast("int")
        ).cast("bigint").alias("n_malformed"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("channels").cast("bigint").alias("sum_channels"),
        F.sum("sample_rate").cast("bigint").alias("sum_sample_rate"),
    )


@register(
    "multimodal_frame_counts",
    oracle=_MEDIA_PLANTED
    + """
SELECT e.media_type,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(CASE WHEN e.media_type = 'wav' AND e.width IS NULL
                          AND e.sample_rate IS NOT NULL
                          AND p.n > 0
                     THEN (p.n - 1) // 32 + 1 ELSE 0 END) AS BIGINT)
         AS n_frames
FROM expected e JOIN planted p USING (doc_id)
GROUP BY e.media_type
""",
    tags=("northstar", "multimodal", "pandas_udf"),
    doc="Sample-window extraction (1→N fan-out via mapInPandas) over "
    "the REAL WAV payloads: the sampler walks the RIFF chunk chain "
    "to the data section (`wav_data_range` — genuine container "
    "navigation, same parser family as the header decode) and emits "
    "one 16-byte window per 32-byte stride of actual PCM bytes; "
    "malformed/truncated payloads and non-audio formats contribute "
    "zero frames instead of failing. Per format: media count and "
    "total sampled windows, value-checked against the planted "
    "arithmetic (data length = the utf-8 body the encoder wrapped), "
    "so the whole navigate→slice→fan-out path is hash-verified "
    "including the garbage-routing branch.",
)
def multimodal_frame_counts(spark, sf_dir):
    media = multimodal.documents_as_encoded_media(
        load_table(spark, sf_dir, "documents")
    )
    frames = multimodal.frame_sample(media)
    frame_counts = frames.groupBy("media_type").agg(
        F.count("*").alias("n_frames")
    )
    media_counts = media.groupBy("media_type").agg(
        F.count("*").alias("n_media")
    )
    return (
        media_counts.join(frame_counts, "media_type", "left")
        .select(
            "media_type",
            F.col("n_media").cast("bigint").alias("n_media"),
            F.coalesce(F.col("n_frames"), F.lit(0))
            .cast("bigint")
            .alias("n_frames"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (top-k terms per document)
# ---------------------------------------------------------------------------
TFIDF_TOPK = 5

_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), idf AS (
  SELECT term,
         CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                    * 1e6) AS BIGINT) AS idf_micro
  FROM df, n
), scored AS (
  SELECT t.doc_id, t.term, t.tf * i.idf_micro AS score_micro,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf * i.idf_micro DESC, t.term)
           AS rnk
  FROM tf t JOIN idf i USING (term)
)
SELECT doc_id, term, CAST(rnk AS BIGINT) AS rnk, score_micro
FROM scored WHERE rnk <= {TFIDF_TOPK}
"""


@register(
    "text_tfidf_topk",
    oracle=_TFIDF_ORACLE,
    tags=("northstar", "text", "ranking"),
    doc="TF-IDF keyword extraction: the top-5 highest-scoring terms "
    "per document, score = tf · round(ln(N/df)·1e6) — the idf "
    "quantizes to integer micro-nats per DISTINCT df value (a few "
    "dozen ln() calls total, following the unigram-LM determinism "
    "precedent), so every score is an exact BIGINT product and ties "
    "break on the term string. Scale shape: (doc, term) counts "
    "map-side combine before their exchange; the vocabulary idf "
    "table is broadcast back onto them; the per-doc top-k compiles "
    "to WindowGroupLimit so each partition keeps only k candidates "
    "per document before the rank shuffle.",
)
def text_tfidf_topk(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    idf = df.crossJoin(F.broadcast(n)).select(
        "term",
        F.round(
            F.log(
                F.col("n_docs").cast("double") / F.col("df").cast("double")
            )
            * 1e6
        )
        .cast("bigint")
        .alias("idf_micro"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= TFIDF_TOPK)
        .select("doc_id", "term", "rnk", "score_micro")
    )


# ---------------------------------------------------------------------------
# Embedding covariance matrix (exact integer, partition GEMM)
# ---------------------------------------------------------------------------
COV_Q = 10_000  # component quantization; n·q̄² must stay in int64 —
# safe to corpora of ~5e5 vectors at this Q (bound in the docstring)

_COV_ORACLE = f"""
WITH qs AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * {COV_Q}) AS BIGINT))
           AS ql
  FROM embeddings
), flat AS (
  SELECT vec_id, i, ql[i] AS q
  FROM qs, unnest(generate_series(1, len(ql))) AS t(i)
), sx AS (
  SELECT i, CAST(sum(q) AS BIGINT) AS s FROM flat GROUP BY i
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
), sxy AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS p
  FROM flat a JOIN flat b
    ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
)
SELECT CAST(x.i AS INT) AS i, CAST(x.j AS INT) AS j,
       n.n * x.p - si.s * sj.s AS cov_q
FROM sxy x
JOIN sx si ON si.i = x.i
JOIN sx sj ON sj.i = x.j
CROSS JOIN n
"""


@register(
    "embedding_covariance_matrix",
    oracle=_COV_ORACLE,
    tags=("northstar", "embedding", "linalg", "pandas_udf"),
    doc="Exact integer covariance matrix of the embedding corpus "
    "(upper triangle, 1-based dims): components quantize to 1e4 "
    "fixed-point and the scaled covariance is the division-free "
    "n·Σxy − Σx·Σy — pure BIGINT, so the d² matrix value-hashes "
    "bit-exactly (int64-safe to ~5e5 vectors at this Q; beyond "
    "that, re-quantize or widen to decimal). Scale shape: ONE "
    "corpus scan through an Arrow-batched mapInPandas GEMM — each "
    "partition emits its d×d int64 Qᵀ Q partial plus column sums "
    "(O(partitions·d²) rows total, zero corpus shuffle), and the "
    "final (i, j) rollup moves model-state only. The same "
    "X-never-shuffles pattern as the per-label centroids, upgraded "
    "to the full second-moment matrix — the input PCA, whitening, "
    "and Mahalanobis outlier scoring all start from.",
)
def embedding_covariance_matrix(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from ..io import ensure_min_parallelism

    emb = ensure_min_parallelism(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
    )

    def gemm_parts(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            if mat.ndim != 2:
                raise ValueError(
                    "ragged embedding input in covariance GEMM"
                )
            q = np.floor(mat * COV_Q).astype(np.int64)
            d = q.shape[1]
            m = q.T @ q
            iu, ju = np.triu_indices(d)
            sx = q.sum(axis=0, dtype=np.int64)
            yield pd.DataFrame(
                {
                    # products (1-based i<=j), column sums (j=-1),
                    # and the batch row count (i=j=-1) share one
                    # output stream — a single corpus scan
                    "i": np.concatenate(
                        [iu + 1, np.arange(1, d + 1), [-1]]
                    ).astype(np.int32),
                    "j": np.concatenate(
                        [ju + 1, np.full(d, -1), [-1]]
                    ).astype(np.int32),
                    "v": np.concatenate(
                        [m[iu, ju], sx, [len(pdf)]]
                    ).astype(np.int64),
                }
            )

    parts = emb.mapInPandas(gemm_parts, schema="i int, j int, v long")
    parts = parts.transform(stage)
    sxy = (
        parts.filter(F.col("j") >= 0)
        .groupBy("i", "j")
        .agg(F.sum("v").cast("bigint").alias("p"))
    )
    sx = (
        parts.filter((F.col("j") == -1) & (F.col("i") >= 0))
        .groupBy("i")
        .agg(F.sum("v").cast("bigint").alias("s"))
    )
    n = parts.filter(F.col("i") == -1).agg(
        F.sum("v").cast("bigint").alias("n")
    )
    si = sx.select(F.col("i").alias("_si"), F.col("s").alias("s_i"))
    sj = sx.select(F.col("i").alias("_sj"), F.col("s").alias("s_j"))
    return (
        sxy.join(F.broadcast(si), F.col("i") == F.col("_si"))
        .join(F.broadcast(sj), F.col("j") == F.col("_sj"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                F.col("n") * F.col("p") - F.col("s_i") * F.col("s_j")
            ).alias("cov_q"),
        )
    )


# ---------------------------------------------------------------------------
# PCA top eigenvector (fixed-point power iteration over the d×d
# covariance — model-state iterations, corpus touched once)
# ---------------------------------------------------------------------------
PCA_ITERS = 6
PCA_W = 1_000_000  # fixed-point scale of the iterated vector


def _tdiv(a: str, b: str) -> str:
    """DuckDB fragment: integer division matching Spark's `div`.
    Both engines TRUNCATE toward zero (probed: -7//2 = -3 in DuckDB,
    -7 div 2 = -3 in Spark), so the operator maps verbatim."""
    return f"(({a}) // ({b}))"


def _pca_oracle() -> str:
    cov_body = _COV_ORACLE.strip()
    # Re-use the covariance query verbatim as a prefix CTE.
    assert cov_body.startswith("WITH ")
    prefix = cov_body[len("WITH "):]
    head, _, tail = prefix.rpartition(")\nSELECT")
    final_select = "SELECT" + tail  # the covariance SELECT list
    sql = f"""
WITH {head}), covf AS MATERIALIZED (
  {final_select}
), covfull AS (
  SELECT i, j, cov_q FROM covf
  UNION ALL
  SELECT j AS i, i AS j, cov_q FROM covf WHERE i <> j
), mc AS (
  SELECT greatest(max(abs(cov_q)) // {PCA_W}, 1) AS dv FROM covfull
), c AS MATERIALIZED (
  SELECT i, j, {_tdiv('cov_q', 'dv')} AS c FROM covfull, mc
), w0 AS (
  SELECT DISTINCT i, CAST({PCA_W} AS BIGINT) AS w FROM c
)"""
    for t in range(1, PCA_ITERS + 1):
        sql += f""", u{t} AS MATERIALIZED (
  SELECT c.i, CAST(sum(c.c * w.w) AS BIGINT) AS u
  FROM c JOIN w{t - 1} w ON w.i = c.j GROUP BY c.i
), m{t} AS (
  SELECT greatest(max(abs(u)) // {PCA_W}, 1) AS dv FROM u{t}
), w{t} AS (
  SELECT i, {_tdiv('u', 'dv')} AS w FROM u{t}, m{t}
)"""
    sql += f"""
SELECT CAST(i AS INT) AS i, CAST(w AS BIGINT) AS w_q FROM w{PCA_ITERS}
"""
    return sql


@register(
    "embedding_pca_power",
    oracle=_pca_oracle(),
    tags=("northstar", "embedding", "linalg", "iterative"),
    doc="Top principal direction of the embedding corpus by "
    f"fixed-point power iteration: {PCA_ITERS} unrolled w ← C·w "
    "steps over the exact integer covariance matrix, renormalizing "
    "to 1e6 fixed-point via truncating division each step (Spark "
    "div ≡ the oracle's emulated trunc-div, so every iterate is "
    "bit-identical cross-engine — the PageRank/GD discipline "
    "applied to spectral methods). Scale shape: the corpus is "
    "touched EXACTLY once (the covariance GEMM pass); every "
    "iteration is O(d²) model-state — 4 096-row joins against the "
    "broadcast 64-row vector — so iteration cost is independent of "
    "corpus size, the only shape that survives 100 TB for an "
    "iterative spectral solver.",
)
def embedding_pca_power(spark, sf_dir):
    cov = embedding_covariance_matrix(spark, sf_dir)
    covfull = cov.unionByName(
        cov.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov_q"
        )
    )
    mc = covfull.agg(
        F.greatest(
            F.expr(f"max(abs(cov_q)) div {PCA_W}"), F.lit(1)
        ).alias("dv")
    )
    c = (
        covfull.crossJoin(F.broadcast(mc))
        .select("i", "j", F.expr("cov_q div dv").alias("c"))
        .transform(stage)
    )
    w = c.select("i").distinct().select(
        "i", F.lit(PCA_W).cast("bigint").alias("w")
    )
    for _ in range(PCA_ITERS):
        u = (
            c.join(
                F.broadcast(
                    w.select(F.col("i").alias("j"), F.col("w"))
                ),
                "j",
            )
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("w")).cast("bigint").alias("u"))
            # u feeds BOTH the norm aggregate and the next iterate —
            # checkpoint so each iteration's plan is O(1), not a
            # doubling chain (the pagerank_fixed discipline)
            .transform(stage)
        )
        m = u.agg(
            F.greatest(
                F.expr(f"max(abs(u)) div {PCA_W}"), F.lit(1)
            ).alias("dv")
        )
        w = u.crossJoin(F.broadcast(m)).select(
            "i", F.expr("u div dv").alias("w")
        )
    return w.select("i", F.col("w").cast("bigint").alias("w_q"))


# ---------------------------------------------------------------------------
# LSH candidate quality (precision/recall vs exact Jaccard truth)
# ---------------------------------------------------------------------------

def _lsh_eval_oracle() -> str:
    return f"""
WITH {_DOC_TOKS_CTE},
sigs AS ({dedup.minhash_sigs_sql()}),
bands AS ({dedup.minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
df AS (SELECT tok, count(*) AS dfreq FROM doc_toks GROUP BY tok),
rare AS (SELECT d.doc_id, d.tok FROM doc_toks d
         JOIN df ON df.tok = d.tok AND df.dfreq <= 1000),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM doc_toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT s.doc_a, s.doc_b
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE CAST(s.n_shared AS DOUBLE)
        / CAST(sa.n_tok + sb.n_tok - s.n_shared AS DOUBLE) >= 0.5
),
j AS (
  SELECT coalesce(c.doc_a, t.doc_a) AS doc_a,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand,
         CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_true
  FROM cand c
  FULL OUTER JOIN truth t
    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
), agg AS (
  SELECT CAST(sum(is_cand * is_true) AS BIGINT) AS tp,
         CAST(sum(is_cand * (1 - is_true)) AS BIGINT) AS fp,
         CAST(sum((1 - is_cand) * is_true) AS BIGINT) AS fn
  FROM j
)
SELECT tp, fp, fn,
       (tp * 1000000) // greatest(tp + fp, 1) AS precision_ppm,
       (tp * 1000000) // greatest(tp + fn, 1) AS recall_ppm
FROM agg
"""


@register(
    "dedup_lsh_eval_metrics",
    oracle=_lsh_eval_oracle(),
    tags=("northstar", "dedup", "minhash", "evaluation"),
    doc="Candidate-quality evaluation of the MinHash-LSH pipeline: "
    "LSH band-bucket pairs scored against the exact-Jaccard(>=0.5) "
    "truth set (same df-capped pair space as dedup_jaccard_pairs) — "
    "tp/fp/fn plus precision/recall in exact ppm floor division. "
    "The eval-as-a-query pattern every dedup rollout needs before "
    "trusting a banding config at scale: both pair sets are the "
    "already-verified plans, composed by a slim full-outer join on "
    "(doc_a, doc_b) — no new corpus pass, every exchanged row a "
    "pair of longs.",
)
def dedup_lsh_eval_metrics(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_candidate_pairs(docs)
    truth = dedup.jaccard_pairs(
        docs, min_jaccard=0.5, max_shingle_df=1000
    ).select("doc_a", "doc_b")
    c = cand.select(
        "doc_a", "doc_b", F.lit(1).alias("is_cand")
    )
    t = truth.select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    j = c.join(t, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("is_cand"), F.lit(0)).alias("is_cand"),
        F.coalesce(F.col("is_true"), F.lit(0)).alias("is_true"),
    )
    agg = j.agg(
        F.sum(F.col("is_cand") * F.col("is_true"))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.col("is_cand") * (1 - F.col("is_true")))
        .cast("bigint")
        .alias("fp"),
        F.sum((1 - F.col("is_cand")) * F.col("is_true"))
        .cast("bigint")
        .alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        F.expr(
            "(tp * 1000000) div greatest(tp + fp, 1)"
        ).alias("precision_ppm"),
        F.expr(
            "(tp * 1000000) div greatest(tp + fn, 1)"
        ).alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# PMI collocations (pointwise mutual information of adjacent bigrams)
# ---------------------------------------------------------------------------
PMI_MIN_COUNT = 5  # bigram support floor (PMI is noise below this)

# q(ln x) := round(ln(x)·1e6) per DISTINCT integer count — the
# unigram-LM determinism discipline: only ~10² ln() calls are ever
# hashed (min .5-boundary margin measured 3.8e-3 micro-nats at sf0.1,
# vs ~1e-9 1-ulp libm noise), and the PMI itself is a sum of those
# integers: q(c_ab) − q(N_bi) − q(c_a) − q(c_b) + 2·q(N_uni).
_PMI_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), bi AS (
  SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                i -> [ts[i], ts[i+1]])) AS pair
  FROM t WHERE len(ts) >= 2
), cb AS (
  SELECT pair[1] AS tok_a, pair[2] AS tok_b,
         CAST(count(*) AS BIGINT) AS c_ab
  FROM bi GROUP BY 1, 2
), cu AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(ts) AS tok FROM t) GROUP BY tok
), tot AS (
  SELECT CAST(sum(c_ab) AS BIGINT) AS n_bi,
         (SELECT CAST(sum(c) AS BIGINT) FROM cu) AS n_uni
  FROM cb
), q AS (
  SELECT c_ab AS x,
         CAST(round(ln(CAST(c_ab AS DOUBLE)) * 1e6) AS BIGINT) AS q
  FROM (SELECT DISTINCT c_ab FROM cb)
  UNION
  SELECT c, CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)
  FROM (SELECT DISTINCT c FROM cu)
  UNION
  SELECT n_bi, CAST(round(ln(CAST(n_bi AS DOUBLE)) * 1e6) AS BIGINT)
  FROM tot
  UNION
  SELECT n_uni, CAST(round(ln(CAST(n_uni AS DOUBLE)) * 1e6) AS BIGINT)
  FROM tot
)
SELECT b.tok_a, b.tok_b, b.c_ab,
       qab.q - qbi.q - qa.q - qb.q + 2 * qu.q AS pmi_micro
FROM cb b
JOIN cu ca ON ca.tok = b.tok_a
JOIN cu cbk ON cbk.tok = b.tok_b
JOIN q qab ON qab.x = b.c_ab
JOIN q qa ON qa.x = ca.c
JOIN q qb ON qb.x = cbk.c
CROSS JOIN tot
JOIN q qbi ON qbi.x = tot.n_bi
JOIN q qu ON qu.x = tot.n_uni
WHERE b.c_ab >= {PMI_MIN_COUNT}
"""


@register(
    "text_pmi_collocations",
    oracle=_PMI_ORACLE,
    tags=("northstar", "text", "statistics"),
    doc="PMI collocations: pointwise mutual information of adjacent "
    "token bigrams, ln-quantized to integer micro-nats per DISTINCT "
    "count value so the score is a pure BIGINT sum (the unigram-LM "
    "determinism discipline; support floor c_ab >= 5). Scale shape: "
    "bigram and unigram counts map-side combine to vocabulary-sized "
    "tables before any exchange; the count→micro-nat codebook and "
    "the unigram table ride back as broadcasts — the corpus text "
    "shuffles nowhere, and every joined row is vocabulary-volume, "
    "not corpus-volume.",
)
def text_pmi_collocations(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ts = text.tokens(F.col("text"))
    t = docs.select(ts.alias("ts")).filter(F.size("ts") >= 2)
    pairs = t.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("ts"), 1, F.size("ts") - 1).alias("a"),
                F.slice(F.col("ts"), 2, F.size("ts") - 1).alias("b"),
            )
        ).alias("p")
    ).select(
        F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b")
    )
    # Both count tables feed the totals, the codebook, AND the final
    # join — checkpoint so the corpus scans run once, not once per
    # broadcast branch (the pagerank_fixed discipline).
    cb = (
        pairs.groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .transform(stage)
    )
    cu = (
        docs.select(F.explode(ts).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(stage)
    )
    tot = (
        cb.agg(F.sum("c_ab").cast("bigint").alias("n_bi"))
        .crossJoin(cu.agg(F.sum("c").cast("bigint").alias("n_uni")))
        .transform(stage)
    )
    qln = F.round(F.log(F.col("x").cast("double")) * 1e6).cast("bigint")
    q = (
        cb.select(F.col("c_ab").alias("x"))
        .union(cu.select(F.col("c").alias("x")))
        .union(tot.select(F.col("n_bi").alias("x")))
        .union(tot.select(F.col("n_uni").alias("x")))
        .distinct()
        .select("x", qln.alias("q"))
        .transform(stage)
    )
    ca = cu.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cbk = cu.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    qab = q.select(F.col("x").alias("c_ab"), F.col("q").alias("q_ab"))
    qa = q.select(F.col("x").alias("c_a"), F.col("q").alias("q_a"))
    qb = q.select(F.col("x").alias("c_b"), F.col("q").alias("q_b"))
    qbi = q.select(F.col("x").alias("n_bi"), F.col("q").alias("q_bi"))
    qu = q.select(F.col("x").alias("n_uni"), F.col("q").alias("q_u"))
    return (
        cb.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cbk), "tok_b")
        .join(F.broadcast(qab), "c_ab")
        .join(F.broadcast(qa), "c_a")
        .join(F.broadcast(qb), "c_b")
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(qbi), "n_bi")
        .join(F.broadcast(qu), "n_uni")
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            (
                F.col("q_ab")
                - F.col("q_bi")
                - F.col("q_a")
                - F.col("q_b")
                + 2 * F.col("q_u")
            ).alias("pmi_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Mahalanobis (diagonal) outlier scores over embeddings
# ---------------------------------------------------------------------------
MAHAL_SC = 100  # per-dim score scale; (n·q)²·SC must stay in int64 —
# safe to ~5e4 vectors at COV_Q=1e4 (the covariance bound tightened
# by the squared factor); beyond that, rescale COV_Q down
MAHAL_TOPK = 10

_MAHAL_ORACLE = f"""
WITH qs AS (
  SELECT vec_id, label,
         list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * {COV_Q}) AS BIGINT))
           AS ql
  FROM embeddings
), flat AS (
  SELECT vec_id, i, ql[i] AS q
  FROM qs, unnest(generate_series(1, len(ql))) AS t(i)
), stats AS (
  SELECT i,
         CAST(sum(q) AS BIGINT) AS sx,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) * CAST(sum(q * q) AS BIGINT)
           - CAST(sum(q) AS BIGINT) * CAST(sum(q) AS BIGINT) AS v2
  FROM flat GROUP BY i
), scored AS (
  SELECT f.vec_id,
         CAST(sum(((s.n * f.q - s.sx) * (s.n * f.q - s.sx)
                   * {MAHAL_SC}) // greatest(s.v2, 1)) AS BIGINT)
           AS score_c
  FROM flat f JOIN stats s ON s.i = f.i
  GROUP BY f.vec_id
)
SELECT q.vec_id, q.label, s.score_c
FROM scored s JOIN qs q ON q.vec_id = s.vec_id
ORDER BY s.score_c DESC, q.vec_id
LIMIT {MAHAL_TOPK}
"""


@register(
    "embedding_mahalanobis_outliers",
    oracle=_MAHAL_ORACLE,
    tags=("northstar", "embedding", "statistics", "quality"),
    doc="Diagonal-Mahalanobis outlier sweep: each vector's score is "
    "Σ_i (x_i − μ_i)²/σ²_i in exact integer arithmetic — the "
    "division-free forms n·q−Σq and n·Σq²−(Σq)² make every term a "
    "BIGINT ratio, so the top-10 ranking value-hashes bit-exactly "
    "(int64-safe to ~5e4 vectors at this quantization; documented). "
    "Complements the per-label centroid outliers with the "
    "variance-normalized global view that catches off-manifold "
    "vectors in low-variance dimensions. Scale shape: one slim "
    "(vec, dim, q) explode with map-side combine for the d-row "
    "stats AND the per-vector fold; the stats ride back as a "
    "broadcast; the top-10 compiles to TakeOrderedAndProject "
    "(per-partition heads, never a global sort).",
)
def embedding_mahalanobis_outliers(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * COV_Q).cast("bigint"),
        ).alias("ql"),
    ).transform(stage)
    flat = qs.select(
        "vec_id", F.posexplode(F.col("ql")).alias("i0", "q")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "q")
    stats = flat.groupBy("i").agg(
        F.sum("q").cast("bigint").alias("sx"),
        F.count("*").cast("bigint").alias("n"),
        (
            F.count("*").cast("bigint")
            * F.sum(F.col("q") * F.col("q")).cast("bigint")
            - F.sum("q").cast("bigint") * F.sum("q").cast("bigint")
        ).alias("v2"),
    )
    scored = (
        flat.join(F.broadcast(stats), "i")
        .select(
            "vec_id",
            F.expr(
                f"((n * q - sx) * (n * q - sx) * {MAHAL_SC})"
                " div greatest(v2, 1)"
            ).alias("term"),
        )
        .groupBy("vec_id")
        .agg(F.sum("term").cast("bigint").alias("score_c"))
    )
    return (
        scored.join(qs.select("vec_id", "label"), "vec_id")
        .orderBy(F.col("score_c").desc(), F.col("vec_id"))
        .limit(MAHAL_TOPK)
        .select("vec_id", "label", "score_c")
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy (signature-agreement vs exact Jaccard)
# ---------------------------------------------------------------------------

def _minhash_accuracy_oracle() -> str:
    k = dedup.MINHASH_K
    eq = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    return f"""
WITH {_DOC_TOKS_CTE},
sigs AS ({dedup.minhash_sigs_sql()}),
bands AS ({dedup.minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
tsets AS (
  SELECT doc_id, list_distinct({_TOKS}) AS ts FROM documents
),
shared AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(a.ts, b.ts)) AS n_shared,
         len(a.ts) AS na, len(b.ts) AS nb
  FROM cand c
  JOIN tsets a ON a.doc_id = c.doc_a
  JOIN tsets b ON b.doc_id = c.doc_b
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ({eq}) * 1000000 // {k} AS est_ppm
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
),
j AS (
  SELECT e.est_ppm,
         (s.n_shared * 1000000) // (s.na + s.nb - s.n_shared)
           AS exact_ppm
  FROM est e
  JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
)
SELECT CAST(least(abs(est_ppm - exact_ppm) // 100000, 9) AS BIGINT)
         AS err_decile,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1
"""


@register(
    "dedup_minhash_estimate_accuracy",
    oracle=_minhash_accuracy_oracle(),
    tags=("northstar", "dedup", "minhash", "evaluation"),
    doc="MinHash estimator accuracy: for every LSH candidate pair, "
    "the signature-agreement Jaccard estimate (matching components "
    f"/ {dedup.MINHASH_K}, exact ppm) against the true token-set "
    "Jaccard, rolled into an absolute-error decile histogram — the "
    "second eval-as-a-query next to the banding precision/recall, "
    "answering 'is K big enough' the way that one answers 'are the "
    "bands right'. All integer arithmetic; the exact side joins "
    "token sets only for the candidate pairs (never all-pairs), so "
    "the verification cost is candidate-bounded exactly like the "
    "production verify step.",
)
def dedup_minhash_estimate_accuracy(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    k = dedup.MINHASH_K
    sigs = dedup.minhash_signatures(docs).transform(stage)
    cand = dedup.minhash_candidate_pairs(docs)
    # Exact side per candidate pair via array_intersect on the token
    # SETS — the r6 verify-rewrite discipline: per-pair O(|a|+|b|)
    # work, never an exploded token join (which hit ~1e9 rows at 10×
    # in the pipeline before its rewrite).
    tsets = docs.select(
        "doc_id",
        F.array_distinct(text.tokens(F.col("text"))).alias("ts"),
    ).transform(stage)
    ta = tsets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("tsa"))
    tb = tsets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tsb"))
    shared = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("tsa", "tsb")).alias("n_shared"),
            F.size("tsa").alias("na"),
            F.size("tsb").alias("nb"),
        )
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)],
    )
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(k)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_eq * 1000000).cast("bigint").alias("eq6"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"eq6 div {k}").alias("est_ppm"),
        )
    )
    j = est.join(shared, ["doc_a", "doc_b"]).select(
        "est_ppm",
        F.expr(
            "(n_shared * 1000000) div (na + nb - n_shared)"
        ).alias("exact_ppm"),
    )
    return (
        j.select(
            F.least(
                F.expr("abs(est_ppm - exact_ppm) div 100000"), F.lit(9)
            )
            .cast("bigint")
            .alias("err_decile")
        )
        .groupBy("err_decile")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth (first-occurrence curve)
# ---------------------------------------------------------------------------
HEAPS_CHECKPOINTS = 10  # report vocab at corpus-prefix deciles

_HEAPS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), firsts AS (
  SELECT tok, CAST(min(doc_id) AS BIGINT) AS first_doc FROM t
  GROUP BY tok
), toksum AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM t
  GROUP BY doc_id
), ids AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY doc_id) AS rn,
         count(*) OVER () AS n_docs
  FROM (SELECT DISTINCT doc_id FROM documents)
), cps AS (
  SELECT doc_id AS cp_doc, CAST(rn AS BIGINT) AS n_docs_prefix
  FROM ids
  WHERE rn % greatest(n_docs // {HEAPS_CHECKPOINTS}, 1) = 0
     OR rn = n_docs
)
SELECT c.n_docs_prefix,
       CAST((SELECT count(*) FROM firsts f
             WHERE f.first_doc <= c.cp_doc) AS BIGINT) AS vocab_size,
       CAST((SELECT coalesce(sum(s.n_tok), 0) FROM toksum s
             WHERE s.doc_id <= c.cp_doc) AS BIGINT) AS tokens_cum
FROM cps c
"""


@register(
    "text_vocab_growth",
    oracle=_HEAPS_ORACLE,
    tags=("northstar", "text", "statistics"),
    doc="Heaps-law vocabulary growth: distinct-vocabulary size and "
    "cumulative token count at corpus-prefix decile checkpoints "
    "(prefix order = doc_id). The trick that makes a running "
    "distinct count distributable: a token joins the vocabulary at "
    "its FIRST document (min doc_id), so vocab(n) is a count of "
    "first-occurrences ≤ n — two map-side-combined aggregations "
    "and a ≤10-row checkpoint probe, no sequential scan, no "
    "global running distinct state. Checkpoint selection ranks the "
    "distinct doc_ids with the SHARDED rank operator "
    "(operators/ranking.py::global_rank_analytics — range "
    "partition, per-shard row_number, broadcast offsets; g_total "
    "carries count(*) OVER () for free) — no partition-less "
    "window: |docs| IS the corpus, and a single-task row_number "
    "over every document is the canonical 100-TB stall. The curve "
    "every tokenizer budget and dedup-health review starts from.",
)
def text_vocab_growth(spark, sf_dir):
    from ..operators.ranking import global_rank_analytics

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    firsts = t.groupBy("tok").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    toksum = t.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    # The distinct-id frame fans out into the sharded pass's three
    # branches (boundary aggregate, offsets, output): materialize it
    # ONCE instead of re-running the distinct per branch.
    ids = docs.select("doc_id").distinct().transform(stage)
    ids = global_rank_analytics(
        ids,
        "doc_id",
        with_total=True,
        row_number_only=True,
    ).select(
        "doc_id",
        F.col("g_row_number").alias("rn"),
        F.col("g_total").alias("n_docs"),
    )
    cps = ids.filter(
        (
            F.col("rn")
            % F.greatest(
                F.expr(f"n_docs div {HEAPS_CHECKPOINTS}"), F.lit(1)
            )
            == 0
        )
        | (F.col("rn") == F.col("n_docs"))
    ).select(
        F.col("doc_id").alias("cp_doc"),
        F.col("rn").cast("bigint").alias("n_docs_prefix"),
    )
    # The 10-row checkpoint table broadcasts; the vocabulary-sized
    # and doc-sized tables STREAM through the theta join and
    # partial-aggregate map-side down to <=10 rows each — never the
    # other way around (a vocab broadcast dies at web scale).
    vocab = (
        firsts.join(
            F.broadcast(cps), F.col("first_doc") <= F.col("cp_doc")
        )
        .groupBy("cp_doc", "n_docs_prefix")
        .agg(F.count("*").cast("bigint").alias("vocab_size"))
    )
    toks = (
        toksum.join(
            F.broadcast(cps), F.col("doc_id") <= F.col("cp_doc")
        )
        .groupBy("cp_doc", "n_docs_prefix")
        .agg(F.sum("n_tok").cast("bigint").alias("tokens_cum"))
    )
    return vocab.join(toks, ["cp_doc", "n_docs_prefix"]).select(
        "n_docs_prefix", "vocab_size", "tokens_cum"
    )


# ---------------------------------------------------------------------------
# Source distribution drift (KL divergence from the corpus unigram mix)
# ---------------------------------------------------------------------------
KL_BUCKETS = 256  # hashed-unigram feature space (as DSIR)


def _kl_oracle() -> str:
    from ..operators.dedup import _sql_hex_to_int

    b = KL_BUCKETS
    return f"""
WITH tok AS (
  SELECT source,
         ({_sql_hex_to_int(1)}) % {b} AS bucket
  FROM (SELECT source, md5(unnest({_TOKS})) AS d FROM documents)
), sc AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, bucket
), ns AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sc GROUP BY source
), cb AS (
  SELECT bucket, CAST(sum(c) AS BIGINT) AS cb FROM sc GROUP BY bucket
), nt AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM sc
), q AS (
  SELECT x, CAST(round(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS q
  FROM (
    SELECT DISTINCT c AS x FROM sc
    UNION SELECT DISTINCT n_s FROM ns
    UNION SELECT DISTINCT cb FROM cb
    UNION SELECT n FROM nt
  )
)
SELECT s.source, ns.n_s AS n_tokens,
       CAST(sum(s.c * (qc.q - qns.q - qcb.q + qn.q)) AS BIGINT)
         // ns.n_s AS kl_micro
FROM sc s
JOIN ns ON ns.source = s.source
JOIN cb ON cb.bucket = s.bucket
CROSS JOIN nt
JOIN q qc ON qc.x = s.c
JOIN q qns ON qns.x = ns.n_s
JOIN q qcb ON qcb.x = cb.cb
JOIN q qn ON qn.x = nt.n
GROUP BY s.source, ns.n_s
"""


@register(
    "text_kl_source_drift",
    oracle=_kl_oracle(),
    tags=("northstar", "text", "statistics", "mixture"),
    doc="Per-source distribution drift: KL divergence of each "
    "source's hashed-unigram distribution from the corpus mixture, "
    "in integer micro-nats — KL(P_s‖P) decomposes into per-distinct-"
    "count ln codebook entries (the unigram-LM discipline; source "
    "support is a subset of corpus support, so no smoothing term is "
    "needed) and every sum after quantization is exact BIGINT. The "
    "contamination/drift monitor a mixture pipeline runs per "
    "ingest: a source whose KL jumps changed its content mix. "
    "Scale shape: one token pass map-side combines to "
    "|sources|·256 rows; the codebook and marginals are broadcast "
    "model-state.",
)
def text_kl_source_drift(spark, sf_dir):
    b = KL_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    occ = tok.select(
        "source",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 14), 16, 10)
            .cast("bigint")
            % b
        ).alias("bucket"),
    )
    sc = (
        occ.groupBy("source", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(stage)
    )
    ns = sc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    cb = sc.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("cb")
    )
    nt = sc.agg(F.sum("c").cast("bigint").alias("n"))
    q = (
        sc.select(F.col("c").alias("x"))
        .union(ns.select(F.col("n_s").alias("x")))
        .union(cb.select(F.col("cb").alias("x")))
        .union(nt.select(F.col("n").alias("x")))
        .distinct()
        .select(
            "x",
            F.round(F.log(F.col("x").cast("double")) * 1e6)
            .cast("bigint")
            .alias("q"),
        )
        .transform(stage)
    )
    qc = q.select(F.col("x").alias("c"), F.col("q").alias("q_c"))
    qns = q.select(F.col("x").alias("n_s"), F.col("q").alias("q_ns"))
    qcb = q.select(F.col("x").alias("cb"), F.col("q").alias("q_cb"))
    qn = q.select(F.col("x").alias("n"), F.col("q").alias("q_n"))
    return (
        sc.join(F.broadcast(ns), "source")
        .join(F.broadcast(cb), "bucket")
        .crossJoin(F.broadcast(nt))
        .join(F.broadcast(qc), "c")
        .join(F.broadcast(qns), "n_s")
        .join(F.broadcast(qcb), "cb")
        .join(F.broadcast(qn), "n")
        .select(
            "source",
            "n_s",
            (
                F.col("c")
                * (
                    F.col("q_c")
                    - F.col("q_ns")
                    - F.col("q_cb")
                    + F.col("q_n")
                )
            ).alias("term"),
        )
        .groupBy("source", "n_s")
        .agg(F.sum("term").cast("bigint").alias("sum_t"))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.expr("sum_t div n_s").alias("kl_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup: one document inside another)
# ---------------------------------------------------------------------------
CONTAIN_MIN_PPM = 900_000  # flag when >= 90% of the smaller side is
# contained in the other


def _containment_oracle() -> str:
    return f"""
WITH {_DOC_TOKS_CTE},
sigs AS ({dedup.minhash_sigs_sql()}),
bands AS ({dedup.minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
tsets AS (
  SELECT doc_id, list_distinct({_TOKS}) AS ts FROM documents
),
sc AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(a.ts, b.ts)) AS n_shared,
         len(a.ts) AS na, len(b.ts) AS nb
  FROM cand c
  JOIN tsets a ON a.doc_id = c.doc_a
  JOIN tsets b ON b.doc_id = c.doc_b
)
, cp AS (
  SELECT greatest((n_shared * 1000000) // na,
                  (n_shared * 1000000) // nb) AS c_ppm,
         (n_shared * 1000000) // na >= {CONTAIN_MIN_PPM} AS fa,
         (n_shared * 1000000) // nb >= {CONTAIN_MIN_PPM} AS fb
  FROM sc
)
SELECT CAST(least(c_ppm // 100000, 9) AS BIGINT) AS contain_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN fa THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contain_a,
       CAST(sum(CASE WHEN fb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contain_b
FROM cp GROUP BY 1
"""


@register(
    "dedup_containment_pairs",
    oracle=_containment_oracle(),
    tags=("northstar", "dedup", "minhash"),
    doc="Asymmetric containment dedup: for LSH candidate pairs, the "
    "fraction of EACH side's token set contained in the other "
    "(exact ppm) — catches subset/superset duplicates (a doc "
    "embedded in a longer one) that symmetric Jaccard misses: "
    "containment can be 100% while Jaccard sits below every dedup "
    "threshold. Candidate-bounded verification via per-pair "
    "array_intersect on checkpointed token sets — the same "
    "never-explode discipline as the estimator-accuracy query; "
    "flags pairs over 90% containment in either direction.",
)
def dedup_containment_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_candidate_pairs(docs)
    tsets = docs.select(
        "doc_id",
        F.array_distinct(text.tokens(F.col("text"))).alias("ts"),
    ).transform(stage)
    ta = tsets.select(
        F.col("doc_id").alias("doc_a"), F.col("ts").alias("tsa")
    )
    tb = tsets.select(
        F.col("doc_id").alias("doc_b"), F.col("ts").alias("tsb")
    )
    sc = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("tsa", "tsb")).alias("n_shared"),
            F.size("tsa").alias("na"),
            F.size("tsb").alias("nb"),
        )
    )
    ca = F.expr("(n_shared * 1000000) div na")
    cb = F.expr("(n_shared * 1000000) div nb")
    cp = sc.select(
        F.greatest(ca, cb).alias("c_ppm"),
        (ca >= CONTAIN_MIN_PPM).alias("fa"),
        (cb >= CONTAIN_MIN_PPM).alias("fb"),
    )
    return (
        cp.select(
            F.least(F.expr("c_ppm div 100000"), F.lit(9))
            .cast("bigint")
            .alias("contain_decile"),
            "fa",
            "fb",
        )
        .groupBy("contain_decile")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("fa"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_contain_a"),
            F.sum(F.when(F.col("fb"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_contain_b"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS)
# ---------------------------------------------------------------------------
WINNOW_K = 3   # tokens per k-gram
WINNOW_W = 4   # k-grams per winnowing window


def _winnow_oracle() -> str:
    k, w = WINNOW_K, WINNOW_W
    # 10 hex chars of md5 → 40-bit BIGINT (DuckDB has no conv; the
    # positional digit sum mirrors F.conv — dedup._sql_hex_to_int's
    # technique at width 10)
    hex10 = " + ".join(
        f"(instr('0123456789abcdef', substring(d, {1 + j}, 1)) - 1)"
        f" * {16 ** (9 - j)}"
        for j in range(10)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), kg AS (
  SELECT doc_id, i,
         md5(array_to_string(ts[i:i+{k - 1}], ' ')) AS d
  FROM toks,
       unnest(generate_series(1, len(ts) - {k - 1})) AS g(i)
  WHERE len(ts) >= {k}
), enc AS (
  SELECT doc_id, i,
         ({hex10}) * 1048576 + (1048575 - i) AS c
  FROM kg
), wmin AS (
  SELECT doc_id,
         min(c) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
           AS fp,
         i
  FROM enc
), sel AS (
  SELECT DISTINCT doc_id, fp FROM wmin WHERE i >= {w}
), counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints
  FROM sel GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.ts) - {k - 1} AS BIGINT) AS n_kgrams,
       CAST(len(t.ts) - {k + w - 2} AS BIGINT) AS n_windows,
       c.n_fingerprints,
       c.n_fingerprints * 1000000
         // (len(t.ts) - {k + w - 2}) AS density_ppm
FROM toks t JOIN counts c ON c.doc_id = t.doc_id
WHERE len(t.ts) >= {k + w - 1}
"""


@register(
    "text_winnowing_fingerprints",
    oracle=_winnow_oracle(),
    tags=("northstar", "text", "dedup", "fingerprint"),
    doc="Winnowing document fingerprints (the MOSS scheme — "
    "Schleimer, Wilkerson, Aiken, SIGMOD'03): token 3-gram hashes, "
    "and from every window of 4 consecutive k-gram hashes select "
    "the RIGHTMOST minimum — the guarantee-bearing fingerprint "
    "scheme (any shared substring of length k+w-1 tokens yields at "
    "least one shared fingerprint, density ~2/(w+1)) that plagiarism "
    "and near-dup detectors run at web scale. The rightmost-min tie "
    "rule is encoded arithmetically: c = h·2^20 + (2^20−1−pos), so "
    "ONE min() window both minimizes the 40-bit hash and, on ties, "
    "maximizes the position (positions are capped at 2^20 tokens "
    "per doc — enforce upstream chunking for longer docs). Output "
    "per doc: k-gram/window counts, distinct fingerprints, density "
    "(ppm, trunc division). Scale shape: tokens explode once, the "
    "k-gram build (lead) and the window min share ONE per-doc "
    "exchange, then a per-doc distinct+count combine — no "
    "cross-doc shuffle at all until the slim counts.",
)
def text_winnowing_fingerprints(spark, sf_dir):
    from pyspark.sql import Window

    k, w = WINNOW_K, WINNOW_W
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.posexplode(text.tokens(F.col("text"))).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "tok")
    wd = Window.partitionBy("doc_id").orderBy("i")
    kgram = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", j).over(wd) for j in range(1, k)],
    )
    kg = t.select(
        "doc_id",
        "i",
        F.lead("tok", k - 1).over(wd).isNotNull().alias("full"),
        kgram.alias("kgram"),
    ).filter(F.col("full"))
    enc = kg.select(
        "doc_id",
        "i",
        (
            F.conv(F.substring(F.md5("kgram"), 1, 10), 16, 10).cast(
                "bigint"
            )
            * 1048576
            + (F.lit(1048575) - F.col("i"))
        ).alias("c"),
    )
    wmin = enc.select(
        "doc_id",
        "i",
        F.min("c")
        .over(wd.rowsBetween(-(w - 1), Window.currentRow))
        .alias("fp"),
    ).filter(F.col("i") >= w)
    counts = (
        wmin.select("doc_id", "fp")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_fingerprints"))
    )
    sizes = docs.select(
        "doc_id",
        F.size(text.tokens(F.col("text"))).alias("m"),
    ).filter(F.col("m") >= k + w - 1)
    return sizes.join(counts, "doc_id").select(
        "doc_id",
        (F.col("m") - (k - 1)).cast("bigint").alias("n_kgrams"),
        (F.col("m") - (k + w - 2)).cast("bigint").alias("n_windows"),
        "n_fingerprints",
        F.expr(
            f"n_fingerprints * 1000000 div (m - {k + w - 2})"
        ).alias("density_ppm"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint overlap pairs (MOSS's cross-document half)
# ---------------------------------------------------------------------------
WINNOW_MAX_DF = 50     # skew guard: drop fingerprints in > N docs
WINNOW_MIN_SHARED = 2  # pair must share >= N fingerprints


def _winnow_pairs_oracle() -> str:
    k, w = WINNOW_K, WINNOW_W
    hex10 = " + ".join(
        f"(instr('0123456789abcdef', substring(d, {1 + j}, 1)) - 1)"
        f" * {16 ** (9 - j)}"
        for j in range(10)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), kg AS (
  SELECT doc_id, i,
         md5(array_to_string(ts[i:i+{k - 1}], ' ')) AS d
  FROM toks,
       unnest(generate_series(1, len(ts) - {k - 1})) AS g(i)
  WHERE len(ts) >= {k}
), enc AS (
  SELECT doc_id, i,
         ({hex10}) * 1048576 + (1048575 - i) AS c
  FROM kg
), sel AS (
  SELECT DISTINCT doc_id,
         min(c) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
           // 1048576 AS h
  FROM enc QUALIFY i >= {w}
), capped AS (
  SELECT s.doc_id, s.h FROM sel s
  JOIN (SELECT h FROM sel GROUP BY h
        HAVING count(*) <= {WINNOW_MAX_DF}) ok USING (h)
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM sel
  GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM capped a JOIN capped b
    ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       p.n_shared * 1000000 // least(sa.n_fp, sb.n_fp)
         AS containment_ppm
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


@register(
    "dedup_winnow_pairs",
    oracle=_winnow_pairs_oracle(),
    tags=("northstar", "dedup", "text", "fingerprint"),
    doc="The cross-document half of MOSS: candidate near-dup pairs "
    "from SHARED winnowing fingerprints (k-gram hash identity; the "
    "winnowing guarantee means any shared token run of length "
    "k+w−1 surfaces here), scored by fingerprint containment "
    "against the smaller doc's selected set — exact ppm. The "
    "df-capped fingerprint join IS the dedup-candidate generator "
    "MOSS runs: like the LSH band join and the shared-token join, "
    "candidates come from an equi-join on a bounded-fan-out key, "
    "never all-pairs — fingerprints present in more than "
    f"{WINNOW_MAX_DF} docs are dropped on BOTH sides (boilerplate "
    "k-grams convey no pair information and would quadratically "
    "blow the join; same cap discipline as the LSH skew guard). "
    "Scale shape: the per-doc winnowing pass (one doc-partitioned "
    "exchange), the df combine, the capped self-join on h (fan-out "
    f"≤ {WINNOW_MAX_DF}²-bounded per fingerprint), pair combine, "
    "size broadcasts.",
)
def dedup_winnow_pairs(spark, sf_dir):
    from pyspark.sql import Window

    k, w = WINNOW_K, WINNOW_W
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.posexplode(text.tokens(F.col("text"))).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "tok")
    wd = Window.partitionBy("doc_id").orderBy("i")
    kgram = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", j).over(wd) for j in range(1, k)],
    )
    kg = t.select(
        "doc_id",
        "i",
        F.lead("tok", k - 1).over(wd).isNotNull().alias("full"),
        kgram.alias("kgram"),
    ).filter(F.col("full"))
    enc = kg.select(
        "doc_id",
        "i",
        (
            F.conv(F.substring(F.md5("kgram"), 1, 10), 16, 10).cast(
                "bigint"
            )
            * 1048576
            + (F.lit(1048575) - F.col("i"))
        ).alias("c"),
    )
    sel = (
        enc.select(
            "doc_id",
            "i",
            F.min("c")
            .over(wd.rowsBetween(-(w - 1), Window.currentRow))
            .alias("fp"),
        )
        .filter(F.col("i") >= w)
        .select("doc_id", F.expr("fp div 1048576").alias("h"))
        .distinct()
        .transform(stage)
    )
    ok = (
        sel.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("h")
    )
    capped = sel.join(ok, "h")
    sizes = sel.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_fp")
    )
    a = capped.select("h", F.col("doc_id").alias("doc_a"))
    b = capped.select("h", F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr(
                "n_shared * 1000000 div least(n_a, n_b)"
            ).alias("containment_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf fit per source (rank-frequency log-log slope of the term head)
# ---------------------------------------------------------------------------
ZIPF_HEAD = 1000  # fit the head of the rank-frequency curve

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS tok FROM documents
), tf AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY source, tok
), head AS (
  SELECT source, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, tok) AS rnk
  FROM tf
  QUALIFY rnk <= {ZIPF_HEAD}
), xy AS (
  SELECT source,
         CAST(round(ln(CAST(rnk AS DOUBLE)) * 1e4) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e4) AS BIGINT) AS y
  FROM head
), sums AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM xy GROUP BY source
), nd AS (
  SELECT source, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM sums
)
SELECT source, n AS n_terms,
       (num // den) * 1000 + ((num % den) * 1000) // den AS slope_milli
FROM nd WHERE den <> 0
"""


@register(
    "text_zipf_fit",
    oracle=_ZIPF_ORACLE,
    tags=("northstar", "text", "statistics", "regression"),
    doc="Zipf's-law fit per source: the log-log slope of the "
    "rank-frequency curve over each source's top-1000 terms "
    "(closed-form OLS on quantized ln values — round(ln·1e4), the "
    "information-theory tier's codebook discipline; slope in exact "
    "milli units via the overflow-safe quotient-remainder split; "
    "bounding the fit to the HEAD both matches the statistics — "
    "the tail flattens below Zipf — and caps every regression sum "
    "at 1000 bounded terms per source forever). Natural text sits "
    "near slope −1; a source drifting toward 0 (flat = synthetic/"
    "templated) or below −1.5 (repetitive boilerplate) is the "
    "corpus-health smell this monitors. Scale shape: one token "
    "pass combines map-side to per-(source, term) counts; the rank "
    "window is per-source partitioned with WindowGroupLimit keeping "
    "≤1000 rows per source per partition; the regression is an "
    "aggregation to |sources| rows.",
)
def text_zipf_fit(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(text.tokens(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("tok")
    )
    head = tf.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= ZIPF_HEAD
    )
    qln = lambda c: F.round(  # noqa: E731
        F.log(c.cast("double")) * 1e4
    ).cast("bigint")
    xy = head.select(
        "source",
        qln(F.col("rnk")).alias("x"),
        qln(F.col("cnt")).alias("y"),
    )
    sums = xy.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = sums.select(
        "source",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "num"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "den"
        ),
    ).filter(F.col("den") != 0)
    return nd.select(
        "source",
        F.col("n").alias("n_terms"),
        F.expr(
            "(num div den) * 1000 + ((num % den) * 1000) div den"
        ).alias("slope_milli"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty per document (memorization / staleness signal)
# ---------------------------------------------------------------------------
NOVELTY_N = 3  # token n-gram order

_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
), grams AS (
  SELECT doc_id,
         md5(array_to_string(ts[i:i+{NOVELTY_N - 1}], ' ')) AS g
  FROM toks,
       unnest(generate_series(1, len(ts) - {NOVELTY_N - 1})) AS s(i)
  WHERE len(ts) >= {NOVELTY_N}
), firsts AS (
  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
), per_doc AS (
  SELECT gr.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM grams gr JOIN firsts f USING (g)
  GROUP BY gr.doc_id
)
SELECT doc_id, n_grams, n_novel,
       (n_novel * 1000000) // n_grams AS novelty_ppm
FROM per_doc
"""


@register(
    "text_ngram_novelty",
    oracle=_NOVELTY_ORACLE,
    tags=("northstar", "text", "dedup", "curation"),
    doc=f"Per-document n-gram novelty: the fraction of a doc's token "
    f"{NOVELTY_N}-grams whose FIRST corpus occurrence (min doc_id — "
    "the deterministic canonical-order stand-in for ingest time) is "
    "this document, in exact ppm. The memorization/staleness signal "
    "a curation pipeline ranks by: a late document whose n-grams all "
    "first appeared elsewhere is template/boilerplate recombination, "
    "while high novelty marks genuinely new content — the n-gram-"
    "granular complement to chunk-level dup fraction. Occurrences "
    "are COUNTED per doc (a doc repeating its own novel n-gram "
    "counts each occurrence — the mass that matters for training). "
    "Scale shape: one explode pass combines map-side to the n-gram "
    "first-occurrence table; the per-doc rollup joins occurrences "
    "against it on the gram hash — two bounded shuffles, no "
    "self-join, no window.",
)
def text_ngram_novelty(spark, sf_dir):
    from pyspark.sql import Window

    n = NOVELTY_N
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.posexplode(text.tokens(F.col("text"))).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "tok")
    wd = Window.partitionBy("doc_id").orderBy("i")
    gram = F.md5(
        F.concat_ws(
            " ",
            F.col("tok"),
            *[F.lead("tok", j).over(wd) for j in range(1, n)],
        )
    )
    grams = t.select(
        "doc_id",
        F.lead("tok", n - 1).over(wd).isNotNull().alias("full"),
        gram.alias("g"),
    ).filter(F.col("full")).select("doc_id", "g")
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("int")
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_grams").alias(
                "novelty_ppm"
            ),
        )
    )


# --------------------------------------------------------------------
# Real-world container variants (round 8): EXIF-first JPEG, ancillary-
# chunk PNG, WAVE_FORMAT_EXTENSIBLE WAV. Same planted arithmetic as
# _MEDIA_PLANTED except the container overheads: PNG 101+n (tEXt +
# pHYs chunks), JPEG 68+3c+n (36-byte APP1 before APP0/SOF0), WAV
# 68+n (40-byte extensible fmt chunk).
# --------------------------------------------------------------------
_MEDIA_PLANTED_VARIANT = """
WITH planted AS (
  SELECT doc_id,
         doc_id % 3 AS fmt,
         doc_id // 3 AS k,
         (doc_id % 37 = 0) AS malformed,
         octet_length(encode(text)) AS n
  FROM documents
),
expected AS (
  SELECT doc_id,
         CASE fmt WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                  ELSE 'wav' END AS media_type,
         CAST(CASE WHEN malformed THEN 6
              WHEN fmt = 0 THEN 101 + n
              WHEN fmt = 1 THEN 68 + 3 * (CASE WHEN k % 2 = 0
                                          THEN 1 ELSE 3 END) + n
              ELSE 68 + n END AS BIGINT) AS n_bytes,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 0 THEN 1 + (doc_id * 7) % 4096
              WHEN fmt = 1 THEN 1 + (doc_id * 11) % 60000
              ELSE NULL END AS INT) AS width,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 0 THEN 1 + (doc_id * 13) % 4096
              WHEN fmt = 1 THEN 1 + (doc_id * 17) % 60000
              ELSE NULL END AS INT) AS height,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 0 THEN ([1, 3, 4])[CAST(k % 3 AS INT) + 1]
              WHEN fmt = 1 THEN CASE WHEN k % 2 = 0 THEN 1 ELSE 3 END
              ELSE 1 + k % 2 END AS INT) AS channels,
         CAST(CASE WHEN malformed THEN NULL
              WHEN fmt = 2 THEN 8000 * (1 + k % 5)
              ELSE NULL END AS INT) AS sample_rate
  FROM planted
)
"""


@register(
    "multimodal_variant_features",
    oracle=_MEDIA_PLANTED_VARIANT
    + """
SELECT doc_id, media_type, n_bytes, width, height, channels,
       sample_rate
FROM expected
""",
    tags=("northstar", "multimodal", "pandas_udf"),
    doc="Per-row decode of the REAL-WORLD container variants — the "
    "layouts the wild actually ships: JPEG with a 36-byte EXIF APP1 "
    "segment BEFORE JFIF/SOF (every camera photo; breaks fixed-"
    "offset sniffers, not the marker-segment walk), PNG with tEXt + "
    "pHYs ancillary chunks between IHDR and IDAT, and WAV with the "
    "40-byte WAVE_FORMAT_EXTENSIBLE fmt chunk (wFormatTag 0xFFFE, "
    "PCM subformat GUID). Same parsers as the minimal-layout corpus "
    "— the chunk/segment walks are variant-agnostic, which is the "
    "point — with truncation → typed-NULL parity preserved. The "
    "oracle recomputes every planted field plus the variant "
    "container overheads arithmetically, so one byte of EXIF/chunk "
    "mis-walk breaks the hash "
    "(operators/multimodal.py: encode_jpeg_exif, "
    "encode_png_ancillary, encode_wav_extensible).",
)
def multimodal_variant_features(spark, sf_dir):
    media = multimodal.documents_as_encoded_media_variants(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.extract_media_headers(media)


@register(
    "multimodal_variant_decode_stats",
    oracle=_MEDIA_PLANTED_VARIANT
    + """
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_media,
       CAST(sum(CASE WHEN width IS NULL AND sample_rate IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(width) AS BIGINT) AS sum_width,
       CAST(sum(height) AS BIGINT) AS sum_height,
       CAST(sum(channels) AS BIGINT) AS sum_channels,
       CAST(sum(sample_rate) AS BIGINT) AS sum_sample_rate
FROM expected GROUP BY media_type
""",
    tags=("northstar", "multimodal", "pandas_udf"),
    doc="Decode-health rollup over the real-world container variants "
    "(multimodal_variant_features' pipeline): per format, media "
    "count, malformed count, byte totals and parsed-field sums — "
    "the EXIF-first / ancillary-chunk / extensible-fmt analog of "
    "multimodal_decode_stats, hash-checked against the variant "
    "overhead arithmetic.",
)
def multimodal_variant_decode_stats(spark, sf_dir):
    media = multimodal.documents_as_encoded_media_variants(
        load_table(spark, sf_dir, "documents")
    )
    feats = multimodal.extract_media_headers(media)
    return feats.groupBy("media_type").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum(
            (
                F.col("width").isNull() & F.col("sample_rate").isNull()
            ).cast("int")
        ).cast("bigint").alias("n_malformed"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("channels").cast("bigint").alias("sum_channels"),
        F.sum("sample_rate").cast("bigint").alias("sum_sample_rate"),
    )


# --------------------------------------------------------------------
# Yule's K lexical richness (round 8)
# --------------------------------------------------------------------
_YULE_ORACLE = f"""
WITH tf AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS f
  FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
  GROUP BY source, tok
),
sums AS (
  SELECT source,
         CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(f * f) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS hapax
  FROM tf GROUP BY source
)
SELECT source, n_tokens, n_types, hapax,
       CAST(hapax * 1000000 // n_types AS BIGINT) AS hapax_ppm,
       CAST((s2 - n_tokens) * 10000000000 // (n_tokens * n_tokens)
            AS BIGINT) AS yule_k_micro
FROM sums
"""


@register(
    "text_yule_k",
    oracle=_YULE_ORACLE,
    tags=("northstar", "text", "agg", "quality"),
    doc="Lexical-richness audit per source: Yule's K = 10^4·(S2−N)/N² "
    "(S2 = Σf² over term frequencies — repetitiveness that is "
    "LENGTH-INVARIANT, unlike type/token ratio) plus the hapax-"
    "legomena share of the vocabulary — the two classic vocabulary-"
    "concentration signals a curation pipeline uses to separate "
    "template/boilerplate-heavy sources (high K, low hapax) from "
    "diverse prose. Exact integer fixed-point: K in micro units via "
    "(S2−N)·1e10 div N² — int64-safe while S2 < 9e8 (≈30M tokens "
    "per source at Zipfian concentration; beyond that, the q/r "
    "split). Scale shape: one (source, term) map-side-combined "
    "count, then a |sources|-row reduction — the TF-IDF family's "
    "exchange, nothing new.",
)
def text_yule_k(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(text.tokens(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    sums = tf.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("s2"),
        F.sum((F.col("f") == 1).cast("int"))
        .cast("bigint")
        .alias("hapax"),
    )
    return sums.select(
        "source",
        "n_tokens",
        "n_types",
        "hapax",
        F.expr("hapax * 1000000 div n_types")
        .cast("bigint")
        .alias("hapax_ppm"),
        F.expr("(s2 - n_tokens) * 10000000000 div (n_tokens * n_tokens)")
        .cast("bigint")
        .alias("yule_k_micro"),
    )


# --------------------------------------------------------------------
# RAKE keyword extraction (round 8)
# --------------------------------------------------------------------
RAKE_TOPK = 20

_RAKE_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
pos AS (
  SELECT doc_id, i, ts[i] AS tok
  FROM toks, unnest(generate_series(1, len(ts))) AS g(i)
),
content AS (
  SELECT doc_id, i, tok,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM pos WHERE tok NOT IN ({_SW})
),
sized AS (
  SELECT doc_id, grp, i, tok,
         CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT)
           AS plen
  FROM content
),
wstats AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(plen) AS BIGINT) AS degree
  FROM sized GROUP BY tok
),
occ AS (
  SELECT s.doc_id, s.grp,
         array_to_string(list(s.tok ORDER BY s.i), ' ') AS phrase,
         CAST(sum(w.degree * 1000000 // w.freq) AS BIGINT)
           AS score_micro
  FROM sized s JOIN wstats w USING (tok)
  GROUP BY s.doc_id, s.grp
),
pscore AS (
  SELECT phrase, score_micro,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM occ GROUP BY phrase, score_micro
)
SELECT phrase, n_occurrences, score_micro,
       CAST(row_number() OVER (ORDER BY score_micro DESC, phrase)
            AS BIGINT) AS rnk
FROM pscore ORDER BY score_micro DESC, phrase LIMIT {RAKE_TOPK}
"""


@register(
    "text_rake_keywords",
    oracle=_RAKE_ORACLE,
    tags=("northstar", "text", "topk"),
    doc="RAKE keyword extraction (Rose et al.): candidate phrases "
    "are maximal runs of non-stopword tokens (the gaps-and-islands "
    "grp = i − row_number trick — the same run algebra as the CEP "
    "tier, here splitting on the stopword delimiters), each word "
    "scores degree/freq where degree sums the lengths of every "
    "phrase containing it (within-phrase co-occurrence incl. self) "
    "and a phrase scores the sum of its member words — exact "
    "integer micro units, so the corpus top-20 value-hashes "
    "cross-engine. Scale shape: one doc-partitioned window pass "
    "builds runs and phrase lengths, the word-stats combine is "
    "vocabulary-sized, the join back is broadcast-against-vocab, "
    "and the final top-k is TakeOrdered — no all-pairs, no driver "
    "loops.",
)
def text_rake_keywords(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(text.tokens(F.col("text"))).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "tok")
    content = pos.filter(
        ~F.col("tok").isin(*text.STOPWORDS_EN)
    ).withColumn(
        "grp",
        F.col("i")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("i")
        ),
    )
    sized = content.withColumn(
        "plen",
        F.count("*")
        .over(Window.partitionBy("doc_id", "grp"))
        .cast("bigint"),
    )
    wstats = sized.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    occ = (
        sized.join(F.broadcast(wstats), "tok")
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.sum(F.expr("degree * 1000000 div freq"))
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    pscore = occ.groupBy("phrase", "score_micro").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    top = pscore.orderBy(
        F.col("score_micro").desc(), "phrase"
    ).limit(RAKE_TOPK)
    return top.select(
        "phrase",
        "n_occurrences",
        "score_micro",
        F.row_number()
        .over(Window.orderBy(F.col("score_micro").desc(), "phrase"))
        .cast("bigint")
        .alias("rnk"),
    )


# --------------------------------------------------------------------
# Exact substring dedup (round 9) — the suffix-array-style companion
# to MinHash: find every maximal duplicated token span >= k across
# documents (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better" — ExactSubstr). A suffix array is the
# single-machine tool; the distributed equivalent is shingle-bucket
# + islands: a span of length >= k duplicated across docs is exactly
# a maximal run of consecutive k-shingles that each occur in >= 2
# distinct docs, so the corpus-scale work is one content-hash
# groupBy (shingle df) and a per-doc islands window — never a
# suffix sort, never corpus².
# --------------------------------------------------------------------
SUBSTR_K = 12  # minimum duplicated span, in tokens


def _substring_spans_oracle() -> str:
    k = SUBSTR_K
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
sh AS (
  SELECT doc_id, i,
         md5(array_to_string(ts[i:i+{k - 1}], ' ')) AS h
  FROM toks, unnest(generate_series(1, len(ts) - {k - 1})) AS g(i)
  WHERE len(ts) >= {k}
),
dup AS (
  SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT s.doc_id, s.i FROM sh s JOIN dup USING (h)
),
runs AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM hits
)
SELECT doc_id,
       CAST(min(i) AS BIGINT) AS span_start,
       CAST(max(i) - min(i) + {k} AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_shingles
FROM runs GROUP BY doc_id, grp
"""


@register(
    "dedup_substring_spans",
    oracle=_substring_spans_oracle(),
    tags=("northstar", "dedup", "substring"),
    doc="Exact substring dedup (ExactSubstr, Lee et al. 2022): every "
    "MAXIMAL token span of length >= 12 that appears verbatim in at "
    "least two distinct documents — per doc, (span_start, "
    "span_tokens, n_dup_shingles). This is the standard companion "
    "pass to MinHash document dedup: near-dup banding finds "
    "mostly-similar DOCUMENTS, this finds verbatim PASSAGES "
    "(boilerplate, licence blocks, quoted chains) inside otherwise "
    "distinct documents — the spans a training pipeline cuts out "
    "rather than dropping the doc. Distributed shape instead of the "
    "paper's suffix array: a duplicated span >= k is exactly a "
    "maximal run of consecutive k-shingles each shared with another "
    "doc, so the plan is one shingle-hash groupBy (distinct-doc df, "
    "content-hashed keys — uniformly distributed by construction), "
    "a semi-join back to positions, and a per-doc gaps-and-islands "
    "window (bounded by doc length). The shingle table is staged "
    "once and read by both the df side and the position side.",
)
def dedup_substring_spans(spark, sf_dir):
    from pyspark.sql import Window

    k = SUBSTR_K
    docs = load_table(spark, sf_dir, "documents")
    # fan the RAW text out before tokenize + the k-gram md5 grid:
    # the per-row work is the query's dominant cost and otherwise
    # runs at the scan's split count (round-13 ×10 probe: one
    # 2-task 9.3 s/task stage = half the wall); no-op on real
    # many-split scans
    from ..io import ensure_min_parallelism

    toks = ensure_min_parallelism(
        docs.select("doc_id", "text"), keys=["doc_id"]
    ).select("doc_id", text.tokens(F.col("text")).alias("ts"))
    # posexplode_OUTER + a guarded transform, deliberately: the old
    # `filter(size(ts) >= k)` pushed below the fan into the parquet
    # scan with tokens(text) INLINED (a full second tokenize at scan
    # parallelism), and a plain posexplode would let
    # InferFiltersFromGenerate push the whole md5 k-gram grid down
    # the same way. The when() guard also avoids the
    # F.sequence(1, 0) == [1, 0] negative-step trap the filter
    # previously covered; short docs emit one NULL row dropped by
    # the isNotNull above the Generate.
    sh = (
        toks.select(
            "doc_id",
            F.posexplode_outer(
                F.when(
                    F.size("ts") >= k,
                    F.transform(
                        F.sequence(
                            F.lit(1), F.size("ts") - (k - 1)
                        ),
                        lambda i: F.md5(
                            F.array_join(
                                F.slice(F.col("ts"), i, k), " "
                            )
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("p0", "h"),
        )
        .filter(F.col("h").isNotNull())
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
    runs = hits.withColumn(
        "grp", F.col("i") - F.row_number().over(w)
    )
    return runs.groupBy("doc_id", "grp").agg(
        F.min("i").cast("bigint").alias("span_start"),
        (F.max("i") - F.min("i") + k).cast("bigint").alias(
            "span_tokens"
        ),
        F.count("*").cast("bigint").alias("n_dup_shingles"),
    ).select("doc_id", "span_start", "span_tokens", "n_dup_shingles")


# --------------------------------------------------------------------
# Pixel-level multimodal near-dup (round 9): integer dHash over the
# planted pixel grids + Hamming-LSH banding
# --------------------------------------------------------------------
# one banding (`hamming_bands`) for the incremental index and this
# batch query: they must bucket identically for batch↔stream parity
from ..operators.multimodal import DHASH_HAM_MAX  # noqa: E402

# 2 hex chars of an md5 digest `d` -> 0..255: the planted pixel / PCM
# sample value of the image, audio and video tiers
_HEX2_SQL = (
    "(instr('0123456789abcdef', substring(d, 1, 1)) - 1) * 16 + "
    "(instr('0123456789abcdef', substring(d, 2, 1)) - 1)"
)


def dhash_pair_ctes(p: str = "") -> str:
    """The planted-pixel → dHash → Hamming-band candidate-pair chain
    as a reusable CTE fragment (no leading WITH, no trailing comma):
    relations {p}toks {p}cells {p}pix {p}bits {p}bands {p}cand, where
    ``p`` prefixes every name so the fragment composes into oracles
    that already bind toks/bands/cand (the admission-pipeline oracle
    does). {p}cand has (doc_a, doc_b, ha, hb) for band-colliding
    doc_a < doc_b pairs; callers apply the Hamming verify."""
    from ..operators.multimodal import DHASH_GRID, MALFORMED_MOD

    g = DHASH_GRID
    return f"""{p}toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
  WHERE doc_id % {MALFORMED_MOD} <> 0
),
{p}cells AS (
  SELECT doc_id, i AS idx,
         md5(ts[1 + (i % len(ts))] || ':' || CAST(i AS VARCHAR)) AS d
  FROM {p}toks, unnest(generate_series(0, {g * g - 1})) AS t(i)
  WHERE len(ts) >= 1
),
{p}pix AS (
  SELECT doc_id, idx, CAST({_HEX2_SQL} AS BIGINT) AS px FROM {p}cells
),
{p}bits AS (
  SELECT a.doc_id,
         CAST(sum(CASE WHEN b.px > a.px
              THEN (CAST(1 AS BIGINT) << (a.r * {g - 1} + a.c))
              ELSE 0 END) AS BIGINT) AS dhash
  FROM (SELECT doc_id, idx // {g} AS r, idx % {g} AS c, px
        FROM {p}pix WHERE idx % {g} < {g - 1}) a
  JOIN {p}pix b ON b.doc_id = a.doc_id AND b.idx = a.r * {g} + a.c + 1
  GROUP BY a.doc_id
),
{p}bands AS (
  SELECT doc_id, dhash, b,
         (dhash >> ({HAMMING_BAND_BITS} * b)) & {(1 << HAMMING_BAND_BITS) - 1}
           AS bkey
  FROM {p}bits, unnest(generate_series(0, {HAMMING_N_BANDS - 1})) AS t(b)
),
{p}cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.dhash AS ha, y.dhash AS hb
  FROM {p}bands x JOIN {p}bands y
    ON y.b = x.b AND y.bkey = x.bkey AND x.doc_id < y.doc_id
)"""


def _phash_oracle() -> str:
    return f"""
WITH {dhash_pair_ctes()}
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {DHASH_HAM_MAX}
"""


@register(
    "multimodal_phash_near_dups",
    oracle=_phash_oracle(),
    tags=("northstar", "multimodal", "dedup", "approx"),
    doc="Pixel-level perceptual near-dup over the binary image "
    "column — the first op below the container headers: plant an "
    "8x8 grayscale PNG per document (pixels derived from its "
    "tokens, so image duplication tracks text duplication), parse "
    "the pixel grid back OUT of the payload bytes (IDAT chunk "
    "walk), compute the 56-bit integer horizontal-gradient dHash in "
    "the same Arrow batch, and find near-dup image pairs by "
    "Hamming-LSH: 4 x 14-bit bands bucket the corpus (a pair "
    "collides iff some band matches), candidates verify with "
    "bit_count(xor) <= 6. Exactly the SimHash banding discipline, "
    "one tier down the stack: the binary column never leaves the "
    "hash stage (8 bytes per image ride the shuffle), bands are "
    "content-hashed keys, and truncated payloads (every 37th doc) "
    "parse to NULL and drop — the shared malformed-media contract. "
    "Swapping the planted grid for real JPEG decode + bilinear "
    "resize changes the pandas kernel body, never the plan. The "
    "oracle replays pixels, dHash bit sums, banding, and Hamming "
    "verification end to end.",
)
def multimodal_phash_near_dups(spark, sf_dir):
    from ..operators.multimodal import (
        documents_as_pixel_media,
        pixel_dhash_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_pixel_media(docs)
    hashes = (
        pixel_dhash_frame(media)
        .filter(F.col("dhash").isNotNull())
        .transform(stage)
    )
    bands = hamming_bands(hashes, "dhash", "doc_id")
    x = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("dhash").alias("ha"),
        "b", "bkey",
    )
    y = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("dhash").alias("hb"),
        "b", "bkey",
    )
    cand = (
        x.join(y, ["b", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    ).cast("bigint")
    return cand.select(
        "doc_a", "doc_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= DHASH_HAM_MAX)


# --------------------------------------------------------------------
# Johnson–Lindenstrauss projection distortion (round 9): deterministic
# ±1 sign matrix from md5, exact-integer projection, per-vector
# norm-preservation ratio
# --------------------------------------------------------------------
JL_M = 16          # target dimensionality
JL_QUANT = 10_000  # fixed-point scale sized so ny*1e6 stays in int64
# int64 headroom bound (round-9 ADVICE): ny·1e6 < 2^63 needs
# ny < 9.2e12; with |y_j| ≤ d·max|qv| and ny = Σ_m y², max|qv| must
# stay < sqrt(9.2e12/(m·d²)) ≈ 11.9e3 at d=64, m=16 — i.e. embedding
# components must satisfy |x| ≤ ~1.19. Enforced LOUDLY per row
# (raise_error) instead of silently wrapping to a wrong ratio_ppm.
JL_MAX_ABS_COMPONENT = 1.18


def _jl_signs(d: int) -> list[list[int]]:
    """The d×m Rademacher sign matrix: +1 iff the first md5 hex char
    of 'dim:j' is 0–7 — data-independent model state the oracle
    rebuilds with the same instr() arithmetic."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{dim}:{j}".encode()).hexdigest()[0], 16
            )
            < 8
            else -1
            for j in range(JL_M)
        ]
        for dim in range(d)
    ]


def _jl_oracle() -> str:
    q, m = JL_QUANT, JL_M
    return f"""
WITH dims AS (
  SELECT unnest(range((SELECT max(len(embedding)) FROM embeddings)))
    AS dim
),
js AS (SELECT unnest(range({m})) AS j),
sgn AS (
  SELECT d.dim, js.j,
         CASE WHEN (instr('0123456789abcdef',
                substring(md5(CAST(d.dim AS VARCHAR) || ':'
                              || CAST(js.j AS VARCHAR)), 1, 1)) - 1)
              < 8 THEN 1 ELSE -1 END AS s
  FROM dims d CROSS JOIN js
),
flat AS (
  SELECT vec_id,
         CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {q}) AS BIGINT)
           AS qv
  FROM embeddings
),
proj AS (
  SELECT f.vec_id, s.j, CAST(sum(f.qv * s.s) AS BIGINT) AS y
  FROM flat f JOIN sgn s ON s.dim = f.dim
  GROUP BY f.vec_id, s.j
),
norms AS (
  SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS nq FROM flat
  GROUP BY vec_id
),
pnorms AS (
  SELECT vec_id, CAST(sum(y * y) AS BIGINT) AS ny FROM proj
  GROUP BY vec_id
)
SELECT n.vec_id, n.nq AS norm_q, p.ny AS norm_proj,
       CAST(p.ny * 1000000 // ({m} * greatest(n.nq, 1)) AS BIGINT)
         AS ratio_ppm
FROM norms n JOIN pnorms p USING (vec_id)
"""


@register(
    "embedding_jl_distortion",
    oracle=_jl_oracle(),
    tags=("northstar", "similarity", "quantization"),
    doc="Johnson–Lindenstrauss sketching audit: project every "
    "embedding 64→16 dims through a DETERMINISTIC Rademacher ±1 "
    "matrix (signs = md5 of 'dim:j', so both engines build the "
    "identical matrix — no RNG) and report each vector's norm-"
    "preservation ratio ‖y‖²·10⁶/(m·‖q‖²) in exact integers "
    "(E[‖y‖²] = m·‖q‖² for ±1 signs, so 1e6 ≈ perfect). The "
    "cheap-sketch counterpart of PQ: JL preserves DISTANCES "
    "obliviously (no training pass), and this per-vector audit is "
    "how a pipeline validates a sketch before routing ANN traffic "
    "through it. Plan shape: the d×m sign matrix rides in ONE "
    "broadcast row and every vector folds against the column "
    "reference — projection, both norms, and the ratio compute "
    "row-locally with no data exchange (measured 2.7× faster than "
    "inlining the matrix as 1024 literals, which bloats codegen); "
    "fixed-point 1e4 quantization keeps the worst-case ‖y‖²·10⁶ "
    "inside int64.",
)
def embedding_jl_distortion(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.select("embedding").head()
    if head is None or head["embedding"] is None:
        raise ValueError(
            "embedding_jl_distortion: embeddings table is empty (or "
            "its first embedding is NULL) — no dimension to size the "
            "JL sign matrix from"
        )
    d = len(head["embedding"])
    signs = _jl_signs(d)
    q, m = JL_QUANT, JL_M
    # m rows of d signs, transposed for per-j zip_with folds
    sgn_rows = [[signs[dim][j] for dim in range(d)] for j in range(m)]
    one = spark.createDataFrame(
        [(sgn_rows,)], "sgn array<array<bigint>>"
    )
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(q))).cast(
            "bigint"
        ),
    )
    # Loud per-row guards (round-9 ADVICE): ragged dims would
    # desynchronize the two engines (the oracle sizes its sign matrix
    # by max(len)); over-bound components overflow ny·1e6 silently.
    max_abs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    qv = F.when(
        (F.size("embedding") == F.lit(d))
        & (max_abs <= F.lit(JL_MAX_ABS_COMPONENT)),
        qv,
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("embedding_jl_distortion: vec_id "),
                F.col("vec_id").cast("string"),
                F.lit(
                    f" violates the JL contract (dim must be {d}, "
                    f"components |x| <= {JL_MAX_ABS_COMPONENT} for "
                    "int64 headroom)"
                ),
            )
        ).cast("array<bigint>")
    )
    base = emb.select("vec_id", qv.alias("qv")).crossJoin(
        F.broadcast(one)
    )
    y = F.transform(
        F.col("sgn"),
        lambda srow: F.aggregate(
            F.zip_with(F.col("qv"), srow, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    nq = F.aggregate(
        F.col("qv"),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v * v,
    )
    ny = F.aggregate(
        y, F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
    )
    out = base.select(
        "vec_id", nq.alias("norm_q"), ny.alias("norm_proj")
    )
    return out.withColumn(
        "ratio_ppm",
        F.expr(f"norm_proj * 1000000 div ({m} * greatest(norm_q, 1))")
        .cast("bigint"),
    )


# --------------------------------------------------------------------
# Moving-average type-token ratio (round 9): MATTR, the
# length-invariant lexical-diversity score
# --------------------------------------------------------------------
MATTR_W = 50      # window width in tokens
MATTR_STRIDE = 25  # half-overlapping windows


def _mattr_oracle() -> str:
    w, st = MATTR_W, MATTR_STRIDE
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
wins AS (
  SELECT doc_id, s, ts[s:s+{w - 1}] AS ws
  FROM toks,
       unnest(generate_series(1, len(ts) - {w - 1}, {st})) AS g(s)
  WHERE len(ts) >= {w}
),
ttr AS (
  SELECT doc_id,
         CAST(len(list_distinct(ws)) * 1000000 // {w} AS BIGINT)
           AS ppm
  FROM wins
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(ppm) // count(*) AS BIGINT) AS mattr_ppm
FROM ttr GROUP BY doc_id
"""


@register(
    "text_mattr",
    oracle=_mattr_oracle(),
    tags=("northstar", "text", "quality"),
    doc="Moving-average type-token ratio (MATTR, Covington & "
    "McFall): lexical diversity as the mean of distinct-token "
    "ratios over 50-token windows at stride 25 — the "
    "length-INVARIANT form of TTR (raw TTR falls with document "
    "length, so it can't threshold a mixed-length corpus; windowed "
    "TTR can, and low MATTR is a strong repetition/boilerplate "
    "signal the Gopher rules don't capture). Exact integers: ppm "
    "per window, truncating mean per doc. Pure per-row array "
    "expressions — windows, distinct counts, and the mean all run "
    "inside whole-stage codegen, ZERO exchanges before the final "
    "per-doc projection (which is row-local too).",
)
def text_mattr(spark, sf_dir):
    w, st = MATTR_W, MATTR_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    ts = text.tokens(F.col("text"))
    staged = docs.select("doc_id", ts.alias("ts")).filter(
        F.size("ts") >= w
    )
    out = staged.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(ts) - {w - 1}, {st}), "
            f"s -> cast(size(array_distinct(slice(ts, s, {w}))) "
            f"* 1000000 div {w} as bigint))"
        ).alias("ppms"),
    )
    return out.select(
        "doc_id",
        F.size("ppms").cast("bigint").alias("n_windows"),
        F.expr(
            "aggregate(ppms, cast(0 as bigint), (a, v) -> a + v)"
            " div size(ppms)"
        )
        .cast("bigint")
        .alias("mattr_ppm"),
    )


# --------------------------------------------------------------------
# Per-document token entropy (round 9) — quantized-ln, zero-exchange
# --------------------------------------------------------------------
@register(
    "text_token_entropy",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
cnts AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(ts) AS tok FROM toks
        WHERE len(ts) >= 1)
  GROUP BY doc_id, tok
),
tot AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n FROM cnts
  GROUP BY doc_id
)
SELECT c.doc_id,
       t.n AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(c.cnt * CAST(round(ln(CAST(t.n AS DOUBLE)
                / CAST(c.cnt AS DOUBLE)) * 1000000) AS BIGINT))
            // t.n AS BIGINT) AS entropy_micro
FROM cnts c JOIN tot t USING (doc_id)
GROUP BY c.doc_id, t.n
""",
    tags=("northstar", "text", "quality"),
    doc="Shannon entropy of each document's unigram distribution — "
    "H = Σ (cnt/n)·ln(n/cnt) in exact integer micro-nats via the "
    "quantized-ln trick the Adamic–Adar tier uses (round(ln·1e6) is "
    "IEEE-identical on both engines, the sum is exact integers). "
    "Low entropy = repetitive/templated text (a stronger signal "
    "than type-token ratio for skewed vocabularies: a doc can have "
    "many types yet spend 95% of its mass on one of them); the "
    "standard cheap quality feature next to MATTR and Yule's K. "
    "Plan: one (doc, token) combine + the per-doc rollup, both "
    "co-partitioned on doc_id.",
)
def text_token_entropy(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text.tokens(F.col("text")).alias("ts")
    ).filter(F.size("ts") >= 1)
    cnts = (
        toks.select("doc_id", F.explode("ts").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("doc_id")
    withn = cnts.withColumn(
        "n", F.sum("cnt").over(w).cast("bigint")
    )
    return (
        withn.withColumn(
            "term",
            F.expr(
                "cnt * cast(round(ln(cast(n as double)"
                " / cast(cnt as double)) * 1000000) as bigint)"
            ),
        )
        .groupBy("doc_id", "n")
        .agg(
            F.count("*").cast("bigint").alias("n_types"),
            F.expr("sum(term) div n").cast("bigint").alias(
                "entropy_micro"
            ),
        )
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            "n_types",
            "entropy_micro",
        )
    )


# --------------------------------------------------------------------
# ExactSubstr CUT (round 9): remove the duplicated spans and measure
# retention — the action Lee et al. take on the spans
# --------------------------------------------------------------------
@register(
    "dedup_substring_cut_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
sh AS (
  SELECT doc_id, i,
         md5(array_to_string(ts[i:i+{SUBSTR_K - 1}], ' ')) AS h
  FROM toks,
       unnest(generate_series(1, len(ts) - {SUBSTR_K - 1})) AS g(i)
  WHERE len(ts) >= {SUBSTR_K}
),
dup AS (
  SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hits AS (SELECT s.doc_id, s.i FROM sh s JOIN dup USING (h)),
runs AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM hits
),
spans AS (
  SELECT doc_id, min(i) AS s,
         max(i) + {SUBSTR_K - 1} AS e
  FROM runs GROUP BY doc_id, grp
),
cut AS (
  -- tokens covered by ANY duplicated span, per doc
  SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS n_cut
  FROM (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM spans)
  GROUP BY doc_id
),
docs_n AS (
  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM toks
)
SELECT d.doc_id, d.n AS n_tokens,
       coalesce(c.n_cut, 0) AS n_cut_tokens,
       CAST((d.n - coalesce(c.n_cut, 0)) * 1000000 // d.n AS BIGINT)
         AS retention_ppm
FROM docs_n d LEFT JOIN cut c USING (doc_id)
WHERE d.n >= 1
""",
    tags=("northstar", "dedup", "substring"),
    doc="The CUT step of ExactSubstr dedup (Lee et al. 2022 remove "
    "the duplicated substrings, not the documents): per document, "
    "how many tokens fall inside ANY duplicated span >= 12 and the "
    "retention ratio after cutting them — the number a corpus "
    "curator actually budgets against (doc-level dedup can't see "
    "that 40% of a 'unique' doc is a license block). Span overlap "
    "is handled exactly (distinct covered positions, so two "
    "overlapping spans don't double-count). Same bounded plan as "
    "dedup_substring_spans plus one per-doc position rollup; the "
    "left join keeps span-free docs at retention 1e6.",
)
def dedup_substring_cut_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_cut_retention(docs, k=SUBSTR_K)


# --------------------------------------------------------------------
# Perceptual cross-check (round 9): dHash candidates re-scored by the
# pooled aHash — two independent hash families over one pair table
# --------------------------------------------------------------------
def _crosscheck_oracle() -> str:
    from ..operators.multimodal import (
        AHASH_BITS,
        AHASH_SRC_GRID,
        DHASH_GRID,
        MALFORMED_MOD,
    )

    g = DHASH_GRID
    g16 = AHASH_SRC_GRID
    h16 = g16 // 2
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
  WHERE doc_id % {MALFORMED_MOD} <> 0
),
cells AS (
  SELECT doc_id, i AS idx,
         md5(ts[1 + (i % len(ts))] || ':' || CAST(i AS VARCHAR)) AS d
  FROM toks, unnest(generate_series(0, {g * g - 1})) AS t(i)
  WHERE len(ts) >= 1
),
pix AS (
  SELECT doc_id, idx, CAST({_HEX2_SQL} AS BIGINT) AS px FROM cells
),
dbits AS (
  SELECT a.doc_id,
         CAST(sum(CASE WHEN b.px > a.px
              THEN (CAST(1 AS BIGINT) << (a.r * {g - 1} + a.c))
              ELSE 0 END) AS BIGINT) AS dhash
  FROM (SELECT doc_id, idx // {g} AS r, idx % {g} AS c, px
        FROM pix WHERE idx % {g} < {g - 1}) a
  JOIN pix b ON b.doc_id = a.doc_id AND b.idx = a.r * {g} + a.c + 1
  GROUP BY a.doc_id
),
cells16 AS (
  SELECT doc_id, i AS idx,
         md5(ts[1 + (i % len(ts))] || ':' || CAST(i AS VARCHAR)) AS d
  FROM toks, unnest(generate_series(0, {g16 * g16 - 1})) AS t(i)
  WHERE len(ts) >= 1
),
pix16 AS (
  SELECT doc_id, idx, CAST({_HEX2_SQL} AS BIGINT) AS px FROM cells16
),
pooled AS (
  SELECT doc_id,
         (idx // {g16}) // 2 * {h16} + (idx % {g16}) // 2 AS pidx,
         CAST(sum(px) // 4 AS BIGINT) AS px
  FROM pix16
  GROUP BY doc_id, (idx // {g16}) // 2 * {h16} + (idx % {g16}) // 2
),
means AS (
  SELECT doc_id, CAST(sum(px) // count(*) AS BIGINT) AS m
  FROM pooled GROUP BY doc_id
),
abits AS (
  SELECT p.doc_id,
         CAST(sum(CASE WHEN p.px > mn.m AND p.pidx < {AHASH_BITS}
              THEN (CAST(1 AS BIGINT) << p.pidx) ELSE 0 END)
              AS BIGINT) AS ahash
  FROM pooled p JOIN means mn USING (doc_id)
  GROUP BY p.doc_id
),
bands AS (
  SELECT doc_id, dhash, b,
         (dhash >> ({HAMMING_BAND_BITS} * b))
           & {(1 << HAMMING_BAND_BITS) - 1} AS bkey
  FROM dbits, unnest(generate_series(0, {HAMMING_N_BANDS - 1})) AS t(b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.dhash AS ha, y.dhash AS hb
  FROM bands x JOIN bands y
    ON y.b = x.b AND y.bkey = x.bkey AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(c.ha, c.hb)) AS BIGINT) AS dhash_hamming,
       CAST(bit_count(xor(aa.ahash, ab.ahash)) AS BIGINT)
         AS ahash_hamming
FROM cand c
JOIN abits aa ON aa.doc_id = c.doc_a
JOIN abits ab ON ab.doc_id = c.doc_b
WHERE bit_count(xor(c.ha, c.hb)) <= {DHASH_HAM_MAX}
"""


@register(
    "multimodal_perceptual_crosscheck",
    oracle=_crosscheck_oracle(),
    tags=("northstar", "multimodal", "dedup", "approx"),
    doc="Two-family perceptual verification — the standard precision "
    "filter for image dedup: dHash banding proposes near-dup pairs "
    "(gradient structure), then each pair is re-scored by an "
    "INDEPENDENT hash family — the pooled average-hash: plant a "
    "16x16 grayscale PNG, parse pixels from the payload, downsample "
    "2x2 by TRUNCATING integer means (the resize kernel every "
    "perceptual hash runs first; a bilinear/PIL kernel swaps into "
    "the same pandas function without touching the plan), aHash = "
    "bit i set iff pooled cell i exceeds the grid's truncating mean "
    "(63 bits; bit 63 would need the 1<<63 shift DuckDB raises on). "
    "The pair table carries BOTH distances so the consumer "
    "thresholds precision/recall — on this corpus dHash-0 pairs "
    "(shared 64-token prefixes) score 20-23 aHash bits apart, "
    "correctly exposing that they differ beyond the prefix window: "
    "exactly the disagreement the cross-check exists to surface. "
    "Malformed payloads drop from BOTH families (shared truncation "
    "contract). The oracle replays both pixel grids, the pooling, "
    "both bit sums, banding, and both verifications.",
)
def multimodal_perceptual_crosscheck(spark, sf_dir):
    from ..operators.multimodal import (
        documents_as_pixel_media,
        documents_as_pixel_media16,
        pixel_ahash_pooled_frame,
        pixel_dhash_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    dh = (
        pixel_dhash_frame(documents_as_pixel_media(docs))
        .filter(F.col("dhash").isNotNull())
        .transform(stage)
    )
    ah = (
        pixel_ahash_pooled_frame(documents_as_pixel_media16(docs))
        .filter(F.col("ahash").isNotNull())
        .transform(stage)
    )
    bands = hamming_bands(dh, "dhash", "doc_id")
    x = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("dhash").alias("ha"),
        "b", "bkey",
    )
    y = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("dhash").alias("hb"),
        "b", "bkey",
    )
    cand = (
        x.join(y, ["b", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
        .filter(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            <= DHASH_HAM_MAX
        )
    )
    aa = ah.select(
        F.col("doc_id").alias("doc_a"), F.col("ahash").alias("aha")
    )
    ab = ah.select(
        F.col("doc_id").alias("doc_b"), F.col("ahash").alias("ahb")
    )
    return (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("bigint")
            .alias("dhash_hamming"),
            F.bit_count(F.col("aha").bitwiseXOR(F.col("ahb")))
            .cast("bigint")
            .alias("ahash_hamming"),
        )
    )


# --------------------------------------------------------------------
# Audio perceptual near-dup (round 10): planted PCM frames + integer
# energy-band fingerprint + Hamming-LSH banding, cross-checked
# against the text-shingle truth set
# --------------------------------------------------------------------
def audio_pair_ctes(p: str = "aud") -> str:
    """The planted-PCM → energy fingerprint → Hamming-band
    candidate-pair chain as a reusable CTE fragment (no leading
    WITH, no trailing comma): relations {p}toks {p}cells {p}samp
    {p}energy {p}mean {p}fp {p}bands {p}ok {p}cand, prefixed so the
    fragment composes into oracles that bind their own toks/bands
    (the v5 admission oracle does). {p}cand has (doc_a, doc_b, fa,
    fb) for band-colliding doc_a < doc_b pairs; callers apply the
    Hamming verify. Band buckets past PERCEPTUAL_MAX_BAND_BUCKET
    are skipped ({p}ok — the video tier's saturation rule, ported
    round 12): 14-bit band keys collide quadratically with corpus
    size while true near-dup families stay small, so an over-cap
    bucket is noise; a true pair keeps its other bands' chances."""
    from ..operators.multimodal import (
        AUDIO_FRAME_LEN,
        AUDIO_FRAMES,
        AUDIO_PREFIX_TOKENS,
        MALFORMED_MOD,
        PERCEPTUAL_MAX_BAND_BUCKET,
    )

    n = AUDIO_FRAMES * AUDIO_FRAME_LEN
    return f"""{p}toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
  WHERE doc_id % {MALFORMED_MOD} <> 0
),
{p}cells AS (
  SELECT doc_id, i AS idx,
         md5(ts[1 + (i % least(len(ts), {AUDIO_PREFIX_TOKENS}))]
             || ':' || CAST(i AS VARCHAR)) AS d
  FROM {p}toks, unnest(generate_series(0, {n - 1})) AS t(i)
  WHERE len(ts) >= 1
),
{p}samp AS (
  SELECT doc_id, idx, CAST({_HEX2_SQL} AS BIGINT) AS v FROM {p}cells
),
{p}energy AS (
  SELECT doc_id, idx // {AUDIO_FRAME_LEN} AS f,
         CAST(sum(v * v) AS BIGINT) AS e
  FROM {p}samp GROUP BY doc_id, idx // {AUDIO_FRAME_LEN}
),
{p}mean AS (
  SELECT doc_id, CAST(sum(e) // {AUDIO_FRAMES} AS BIGINT) AS m
  FROM {p}energy GROUP BY doc_id
),
{p}fp AS (
  SELECT e.doc_id,
         CAST(sum(CASE WHEN e.e > m.m
              THEN (CAST(1 AS BIGINT) << e.f) ELSE 0 END)
              AS BIGINT) AS afp
  FROM {p}energy e JOIN {p}mean m USING (doc_id)
  GROUP BY e.doc_id
),
{p}bands AS (
  SELECT doc_id, afp, b,
         (afp >> ({HAMMING_BAND_BITS} * b))
           & {(1 << HAMMING_BAND_BITS) - 1} AS bkey
  FROM {p}fp, unnest(generate_series(0, {HAMMING_N_BANDS - 1})) AS t(b)
),
{p}ok AS (
  SELECT b, bkey FROM {p}bands
  GROUP BY 1, 2
  HAVING count(*) <= {PERCEPTUAL_MAX_BAND_BUCKET}
),
{p}cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.afp AS fa, y.afp AS fb
  FROM {p}bands x JOIN {p}bands y
    ON y.b = x.b AND y.bkey = x.bkey AND x.doc_id < y.doc_id
  JOIN {p}ok k ON k.b = x.b AND k.bkey = x.bkey
)"""


def _audio_oracle() -> str:
    from ..operators.multimodal import AUDIO_HAM_MAX

    tri = (
        "list_transform(generate_series(1, len(ts) - 2), "
        "i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])"
    )
    return f"""
WITH {audio_pair_ctes("aud")},
audpairs AS (
  SELECT doc_a, doc_b,
         CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
  FROM audcand
  WHERE bit_count(xor(fa, fb)) <= {AUDIO_HAM_MAX}
),
sh AS (
  SELECT doc_id, unnest(list_distinct({tri})) AS shingle
  FROM (SELECT doc_id, {_TOKS} AS ts FROM documents)
  WHERE len(ts) >= 3
),
shared AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS shared_shingles
  FROM audpairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b, p.hamming,
       CAST(coalesce(s.shared_shingles, 0) AS BIGINT) AS shared_shingles
FROM audpairs p
LEFT JOIN shared s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
"""


@register(
    "multimodal_audio_near_dups",
    oracle=_audio_oracle(),
    tags=("northstar", "multimodal", "dedup", "approx"),
    doc="Audio perceptual near-dup over the binary WAV column — the "
    "first op below the RIFF container walk: plant 56 frames x 8 "
    "deterministic 16-bit PCM samples per document (samples derived "
    "from its first 64 tokens, so audio duplication tracks the "
    "corpus's shared-prefix text duplication exactly like the pixel "
    "grids), parse the samples back OUT of the data chunk, compute "
    "the 56-bit integer energy fingerprint (bit f set iff frame f's "
    "energy exceeds the truncating mean — the filterbank shape of "
    "every audio-fingerprinting scheme, integer-exact here) in the "
    "same Arrow batch, and find near-dup clip pairs by Hamming-LSH: "
    "4 x 14-bit bands, candidates verify with bit_count(xor) <= 6 — "
    "the dHash discipline one modality over. Each verified pair is "
    "CROSS-CHECKED against the text-shingle truth set (shared "
    "distinct trigram count rides on every output row), the same "
    "audit the pixel tier got in round 9. Truncated payloads (every "
    "37th doc) parse to NULL and drop — the shared malformed-media "
    "contract. Swapping the planted PCM for real decoded audio + an "
    "FFT filterbank changes the pandas kernel body, never the plan. "
    "The oracle replays samples, frame energies, fingerprint bits, "
    "banding, Hamming verification, and the shingle cross-check.",
)
def multimodal_audio_near_dups(spark, sf_dir):
    from ..operators.multimodal import (
        AUDIO_HAM_MAX,
        audio_fingerprint_frame,
        documents_as_audio_media,
    )
    from ..operators.text import trigram_shingles

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_audio_media(docs)
    hashes = (
        audio_fingerprint_frame(media)
        .filter(F.col("afp").isNotNull())
        .transform(stage)
    )
    bands = hamming_bands(hashes, "afp", "doc_id")
    # bucket cap (the video tier's rule, ported round 12): 14-bit
    # band keys saturate quadratically with corpus size; buckets
    # past the cap are skipped — a true pair keeps its other 3
    # bands' collision chances
    from ..operators.multimodal import PERCEPTUAL_MAX_BAND_BUCKET

    ok = (
        bands.groupBy("b", "bkey")
        .count()
        .filter(F.col("count") <= PERCEPTUAL_MAX_BAND_BUCKET)
        .select("b", "bkey")
    )
    capped = bands.join(ok, ["b", "bkey"], "left_semi")
    # SLIM candidate pairs — doc ids only; fingerprints re-join from
    # the |docs|-row hashes frame instead of riding every band
    # collision row through the join + distinct (the video tier's
    # per-doc map shape; audio has ONE fingerprint per doc, so the
    # map degenerates to two equijoins on the slim frame)
    x = capped.select(F.col("doc_id").alias("doc_a"), "b", "bkey")
    y = capped.select(F.col("doc_id").alias("doc_b"), "b", "bkey")
    cand = (
        x.join(y, ["b", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast(
        "bigint"
    )
    pairs = (
        cand.join(
            hashes.select(
                F.col("doc_id").alias("doc_a"),
                F.col("afp").alias("fa"),
            ),
            "doc_a",
        )
        .join(
            hashes.select(
                F.col("doc_id").alias("doc_b"),
                F.col("afp").alias("fb"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= AUDIO_HAM_MAX)
    )
    # text-shingle truth cross-check: shared distinct trigrams per
    # verified pair (array_intersect over slim per-doc shingle
    # arrays joined onto the bounded pair set — no corpus self-join)
    # The shingle-array build is the query's heaviest per-row JVM
    # work (~3 ms/doc: tokenize + trigram explode + array_distinct);
    # a small documents table scans as 1-2 splits and serializes it
    # (measured ×10: ONE 2-task 79 s stage = 75% of the wall) — fan
    # to cluster width first. Ungated: per-row cost dwarfs the
    # shuffle at any under-parallel input size.
    from ..io import ensure_min_parallelism

    sh = ensure_min_parallelism(
        docs.select("doc_id", "text"), keys=["doc_id"]
    ).select(
        "doc_id",
        F.array_distinct(
            trigram_shingles(text.tokens(F.col("text")))
        ).alias("sharr"),
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sharr").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sharr").alias("sh_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            F.size(F.array_intersect("sh_a", "sh_b"))
            .cast("bigint")
            .alias("shared_shingles"),
        )
    )


# --------------------------------------------------------------------
# Video perceptual near-dup (round 10): planted Y4M frames, per-frame
# dHash, TEMPORALLY-ALIGNED Hamming-LSH — completes the multimodal
# near-dup trio (pixels / audio / video)
# --------------------------------------------------------------------
def video_pair_ctes(p: str = "v") -> str:
    """The planted-Y4M → per-frame dHash → temporally-aligned band →
    aligned-close-count chain as a reusable CTE fragment (no leading
    WITH, no trailing comma): relations {p}toks {p}cells {p}samp
    {p}hash {p}bands {p}cand {p}close, prefixed for composition
    (the v5 admission oracle binds its own toks/bands/cand).
    {p}close has (doc_a, doc_b, n_close_frames) for every band-
    colliding doc_a < doc_b pair; callers apply the ≥ VIDEO_MIN_CLOSE
    verify."""
    from ..operators.multimodal import (
        DHASH_GRID,
        MALFORMED_MOD,
        PERCEPTUAL_MAX_BAND_BUCKET,
        VIDEO_FRAME_HAM_MAX,
        VIDEO_FRAMES,
        VIDEO_PREFIX_TOKENS,
    )

    g = DHASH_GRID
    n = VIDEO_FRAMES * g * g
    return f"""{p}toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
  WHERE doc_id % {MALFORMED_MOD} <> 0
),
{p}cells AS (
  SELECT doc_id, i AS idx,
         md5(ts[1 + (i % least(len(ts), {VIDEO_PREFIX_TOKENS}))]
             || ':v:' || CAST(i AS VARCHAR)) AS d
  FROM {p}toks, unnest(generate_series(0, {n - 1})) AS t(i)
  WHERE len(ts) >= 1
),
{p}samp AS (
  SELECT doc_id, idx // {g * g} AS f, idx % {g * g} AS cell,
         CAST({_HEX2_SQL} AS BIGINT) AS v
  FROM {p}cells
),
{p}hash AS MATERIALIZED (
  SELECT a.doc_id, a.f,
         CAST(sum(CASE WHEN b.v > a.v
              THEN (CAST(1 AS BIGINT)
                    << ((a.cell // {g}) * {g - 1} + (a.cell % {g})))
              ELSE 0 END) AS BIGINT) AS vh
  FROM {p}samp a
  JOIN {p}samp b ON b.doc_id = a.doc_id AND b.f = a.f
              AND b.cell = a.cell + 1
  WHERE a.cell % {g} < {g - 1}
  GROUP BY a.doc_id, a.f
),
{p}bands AS (
  SELECT doc_id, f, vh, b,
         (vh >> ({HAMMING_BAND_BITS} * b))
           & {(1 << HAMMING_BAND_BITS) - 1} AS bkey
  FROM {p}hash, unnest(generate_series(0, {HAMMING_N_BANDS - 1})) AS t(b)
),
{p}ok AS (
  SELECT f, b, bkey FROM {p}bands
  GROUP BY 1, 2, 3
  HAVING count(*) <= {PERCEPTUAL_MAX_BAND_BUCKET}
),
{p}cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM {p}bands x JOIN {p}bands y
    ON y.f = x.f AND y.b = x.b AND y.bkey = x.bkey
   AND x.doc_id < y.doc_id
  JOIN {p}ok k ON k.f = x.f AND k.b = x.b AND k.bkey = x.bkey
),
{p}close AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(CASE WHEN bit_count(xor(xa.vh, yb.vh))
                  <= {VIDEO_FRAME_HAM_MAX} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_close_frames
  FROM {p}cand c
  JOIN {p}hash xa ON xa.doc_id = c.doc_a
  JOIN {p}hash yb ON yb.doc_id = c.doc_b AND yb.f = xa.f
  GROUP BY c.doc_a, c.doc_b
)"""


def _video_oracle() -> str:
    from ..operators.multimodal import VIDEO_MIN_CLOSE

    tri = (
        "list_transform(generate_series(1, len(ts) - 2), "
        "i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])"
    )
    return f"""
WITH {video_pair_ctes("v")},
vpairs AS (
  SELECT * FROM vclose WHERE n_close_frames >= {VIDEO_MIN_CLOSE}
),
vsh AS (
  SELECT doc_id, unnest(list_distinct({tri})) AS shingle
  FROM (SELECT doc_id, {_TOKS} AS ts FROM documents)
  WHERE len(ts) >= 3
),
vshared AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS shared_shingles
  FROM vpairs p
  JOIN vsh a ON a.doc_id = p.doc_a
  JOIN vsh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b, p.n_close_frames,
       CAST(coalesce(s.shared_shingles, 0) AS BIGINT) AS shared_shingles
FROM vpairs p
LEFT JOIN vshared s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
"""


@register(
    "multimodal_video_near_dups",
    oracle=_video_oracle(),
    tags=("northstar", "multimodal", "dedup", "approx"),
    doc="Video perceptual near-dup over the binary Y4M column — "
    "completes the multimodal trio (pixel dHash / audio energy "
    "aHash / this): plant a REAL YUV4MPEG2 container per document "
    "(16 frames of 8x8 luma derived from its first 64 tokens — the "
    "same prefix window as the other tiers, so video duplication "
    "tracks the corpus's text near-dup structure), walk the FRAME "
    "markers back out, per-frame 56-bit gradient dHash (the pixel "
    "tier's exact formula) in the same Arrow batch, then "
    "TEMPORALLY-ALIGNED Hamming-LSH: the collision key is (frame "
    "position, band, bits) so candidates must match at the same "
    "frame slot, and pairs verify by counting aligned close frames "
    "(≥ 12 of 16 within Hamming 6) — the temporal-consistency "
    "dimension stills and audio lack. Each verified pair carries "
    "the text-shingle truth cross-check. Truncated payloads (every "
    "37th doc) parse to NULL frames and drop. Swapping planted "
    "frames for real decoded video changes the pandas kernel body, "
    "never the plan. Scale shape: 16 slim (doc, f, hash) rows per "
    "clip leave the decode stage (the binary never does), banding "
    "shuffles on uniform hash keys, verification joins only the "
    "candidate pairs' frame tables.",
)
def multimodal_video_near_dups(spark, sf_dir):
    from ..operators.multimodal import (
        VIDEO_FRAME_HAM_MAX,
        VIDEO_MIN_CLOSE,
        documents_as_video_media,
        video_dhash_frames,
    )
    from ..operators.text import trigram_shingles

    from ..operators.multimodal import PERCEPTUAL_MAX_BAND_BUCKET

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_video_media(docs)
    hashes = video_dhash_frames(media).transform(stage)
    bands = hamming_bands(hashes, "vh", "doc_id", "f")
    # bucket cap: 14-bit band keys saturate with corpus size (random
    # collisions grow quadratically); buckets past the cap are
    # skipped — true pairs keep their other 63 collision chances
    ok = (
        bands.groupBy("f", "b", "bkey")
        .count()
        .filter(F.col("count") <= PERCEPTUAL_MAX_BAND_BUCKET)
        .select("f", "b", "bkey")
    )
    capped = bands.join(ok, ["f", "b", "bkey"], "left_semi")
    x = capped.select(
        F.col("doc_id").alias("doc_a"), "f", "b", "bkey"
    )
    y = capped.select(
        F.col("doc_id").alias("doc_b"), "f", "b", "bkey"
    )
    cand = (
        x.join(y, ["f", "b", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Close-count via per-doc frame-hash MAPS instead of a pair×frame
    # join (round 11): the old shape exploded |cand|·16 rows through
    # two joins and a pair-keyed aggregate; per-doc maps are |docs|
    # rows (~150 B each — broadcastable at any probe-able batch
    # size), so the count becomes two broadcast joins + ONE per-pair
    # expression over aligned frame slots. Identical semantics: only
    # frame slots present on BOTH sides compare (the old inner join
    # on (doc_b, f)).
    fmap = hashes.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("f", "vh"))
        ).alias("fm")
    )
    close = (
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
                "CAST(size(filter(map_keys(fma), k ->"
                " map_contains_key(fmb, k) AND"
                " bit_count(fma[k] ^ fmb[k])"
                f" <= {VIDEO_FRAME_HAM_MAX})) AS BIGINT)"
            ).alias("n_close_frames"),
        )
        .filter(F.col("n_close_frames") >= VIDEO_MIN_CLOSE)
    )
    # The shingle-array build is the query's heaviest per-row JVM
    # work (~3 ms/doc: tokenize + trigram explode + array_distinct);
    # a small documents table scans as 1-2 splits and serializes it
    # (measured ×10: ONE 2-task 79 s stage = 75% of the wall) — fan
    # to cluster width first. Ungated: per-row cost dwarfs the
    # shuffle at any under-parallel input size.
    from ..io import ensure_min_parallelism

    sh = ensure_min_parallelism(
        docs.select("doc_id", "text"), keys=["doc_id"]
    ).select(
        "doc_id",
        F.array_distinct(
            trigram_shingles(text.tokens(F.col("text")))
        ).alias("sharr"),
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sharr").alias("sh_a")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sharr").alias("sh_b")
    )
    return (
        close.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_close_frames",
            F.size(F.array_intersect("sh_a", "sh_b"))
            .cast("bigint")
            .alias("shared_shingles"),
        )
    )


# ---------------------------------------------------------------------------
# ANN serving-quality evaluation (round 11): recall@k of the PRUNED
# IVF path against exact brute force — the measurement every ANN
# deployment runs before trusting a pruning configuration. Both
# sides are deterministic quantized arithmetic, so the recall
# numbers themselves value-hash across engines.
# ---------------------------------------------------------------------------
def _ann_recall_oracle(n_list: int = 16, n_probe: int = 4) -> str:
    """Composes the ONE assignment/probe fragment with a pruned
    scoring chain and an exact brute-force chain (prefix x), then
    counts the per-query intersection of the two top-k sets. Ties
    break by (cosine DESC, cand_id) in both chains on both engines,
    so the sets — not just their sizes — are deterministic."""
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    dotq = (
        f"CAST(sum(CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE)"
        f" * {_QUANT}) AS BIGINT)) AS BIGINT)"
    )
    return f"""
WITH {ivf_assign_probe_ctes(n_list, n_probe)},
qn AS (
  SELECT vec_id,
         CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT) AS qn
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
ppairs AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probes p
  JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
pprod AS (
  SELECT pr.query_id, pr.cand_id,
         unnest(eq.embedding) AS qx, unnest(ec.embedding) AS ex
  FROM ppairs pr
  JOIN embeddings eq ON eq.vec_id = pr.query_id
  JOIN embeddings ec ON ec.vec_id = pr.cand_id
),
pdots AS (
  SELECT query_id, cand_id, {dotq} AS qdot
  FROM pprod GROUP BY query_id, cand_id
),
ptop AS (
  SELECT query_id, cand_id FROM (
    SELECT d.query_id, d.cand_id,
           row_number() OVER (PARTITION BY d.query_id
             ORDER BY CAST(d.qdot AS DOUBLE)
               / (sqrt(CAST(nq.qn AS DOUBLE)) * sqrt(CAST(nc.qn AS DOUBLE)))
               DESC, d.cand_id) AS rnk
    FROM pdots d
    JOIN qn nq ON nq.vec_id = d.query_id
    JOIN qn nc ON nc.vec_id = d.cand_id
    WHERE nq.qn > 0 AND nc.qn > 0
  ) WHERE rnk <= {_ANN_K}
),
xpairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id IN ({ids}) AND c.vec_id <> q.vec_id
),
xprod AS (
  SELECT pr.query_id, pr.cand_id,
         unnest(eq.embedding) AS qx, unnest(ec.embedding) AS ex
  FROM xpairs pr
  JOIN embeddings eq ON eq.vec_id = pr.query_id
  JOIN embeddings ec ON ec.vec_id = pr.cand_id
),
xdots AS (
  SELECT query_id, cand_id, {dotq} AS qdot
  FROM xprod GROUP BY query_id, cand_id
),
xtop AS (
  SELECT query_id, cand_id FROM (
    SELECT d.query_id, d.cand_id,
           row_number() OVER (PARTITION BY d.query_id
             ORDER BY CAST(d.qdot AS DOUBLE)
               / (sqrt(CAST(nq.qn AS DOUBLE)) * sqrt(CAST(nc.qn AS DOUBLE)))
               DESC, d.cand_id) AS rnk
    FROM xdots d
    JOIN qn nq ON nq.vec_id = d.query_id
    JOIN qn nc ON nc.vec_id = d.cand_id
    WHERE nq.qn > 0 AND nc.qn > 0
  ) WHERE rnk <= {_ANN_K}
)
SELECT x.query_id,
       CAST({_ANN_K} AS BIGINT) AS k,
       CAST(count(p.cand_id) AS BIGINT) AS n_hits,
       CAST((1000000 * count(p.cand_id)) // {_ANN_K} AS BIGINT)
         AS recall_ppm
FROM xtop x
LEFT JOIN ptop p ON p.query_id = x.query_id AND p.cand_id = x.cand_id
GROUP BY x.query_id
"""


@register(
    "ann_recall_at_k",
    oracle=_ann_recall_oracle(),
    tags=("northstar", "similarity", "approx", "eval"),
    doc="Recall@k of the PRUNED IVF serving path (n_probe=4 of 16 "
    "lists) against exact brute force — the serving-quality "
    "measurement every ANN deployment runs before trusting a "
    "pruning configuration, expressed as ONE declarative plan: both "
    "top-k chains (partition-pruned IVF and broadcast-query brute "
    "force) share the corpus scan lineage, intersect per query, and "
    "emit exact-integer recall_ppm. Deterministic end-to-end — "
    "quantized dots, (cosine DESC, cand_id) tie-breaks — so even "
    "the recall NUMBERS value-hash across engines (the oracle "
    "replays centroid build, assignment, pruning, and both top-k "
    "sets). Scale shape: the pruned side reads ~n_probe/n_list of "
    "the corpus; the exact side is the |Q|·n baseline you run on a "
    "SAMPLE at 100 TB — the plan is the same, only query-set size "
    "changes; the intersection joins touch 2·|Q|·k rows.",
)
def ann_recall_at_k(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _IVF_INDEX_CACHE.get(sf_dir)
    if cents is None:
        cents = similarity.build_ivf_centroids(emb)
        _IVF_INDEX_CACHE[sf_dir] = cents
    pruned = similarity.cosine_topk_ivf(
        emb, query_ids=_ANN_QUERY_IDS, k=_ANN_K, centroids=cents
    ).select("query_id", "cand_id")
    exact = similarity.cosine_topk_bruteforce(
        emb, query_ids=_ANN_QUERY_IDS, k=_ANN_K
    ).select("query_id", "cand_id")
    hits = exact.join(pruned, ["query_id", "cand_id"], "left_semi")
    n_hits = hits.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(n_hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(_ANN_K).cast("bigint").alias("k"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(
                f"CAST((1000000 * coalesce(n_hits, 0)) div {_ANN_K}"
                " AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (round 11): per query, the top-k most-similar
# vectors with a DIFFERENT label — the contrastive-training data op
# (the near-misses that teach an embedding model its boundaries).
# ---------------------------------------------------------------------------
def _hard_negatives_oracle() -> str:
    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    qprod = (
        f"CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE) * {_QUANT})"
        " AS BIGINT)"
    )
    nprod = (
        f"CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {_QUANT})"
        " AS BIGINT)"
    )
    return f"""
WITH hnorms AS (
  SELECT vec_id, sum({nprod}) AS qn
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
hq AS (
  SELECT e.vec_id, e.embedding, e.label
  FROM embeddings e JOIN hnorms n USING (vec_id)
  WHERE e.vec_id IN ({ids}) AND n.qn > 0
),
hc AS (
  SELECT e.vec_id, e.embedding, e.label
  FROM embeddings e JOIN hnorms n USING (vec_id)
  WHERE n.qn > 0
),
hprods AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         unnest(q.embedding) AS qx, unnest(c.embedding) AS ex
  FROM hq q JOIN hc c ON c.label <> q.label
),
hdots AS (
  SELECT query_id, cand_id, sum({qprod}) AS qdot
  FROM hprods GROUP BY query_id, cand_id
),
hscored AS (
  SELECT d.query_id, d.cand_id,
         CAST(d.qdot AS DOUBLE)
           / (sqrt(CAST(nq.qn AS DOUBLE)) * sqrt(CAST(nc.qn AS DOUBLE)))
           AS cosine
  FROM hdots d
  JOIN hnorms nq ON nq.vec_id = d.query_id
  JOIN hnorms nc ON nc.vec_id = d.cand_id
)
SELECT query_id, cand_id, cosine, rnk FROM (
  SELECT query_id, cand_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id)
              AS INTEGER) AS rnk
  FROM hscored
) WHERE rnk <= {_ANN_K}
"""


@register(
    "ann_hard_negatives",
    oracle=_hard_negatives_oracle(),
    tags=("northstar", "similarity", "training"),
    doc="Hard-negative mining for contrastive training: per query "
    "vector, the top-k highest-cosine candidates whose LABEL "
    "differs — the near-miss negatives that carry the gradient "
    "signal in InfoNCE-style objectives (random negatives are too "
    "easy; same-label neighbors are false negatives — the label "
    "anti-filter removes exactly those). Same quantized-exact "
    "cosine arithmetic as ann_cosine_topk; the different-label "
    "constraint replaces the self-exclusion (a query's own vector "
    "shares its label, so it is excluded for free). Scale shape: "
    "broadcast(queries+labels) ⨯ one corpus scan — label filtering "
    "happens BEFORE the dot product in the joined projection, so "
    "same-label candidates never cost a d-dim multiply; at mining "
    "scale (every doc a query) this becomes the blocked-GEMM / IVF "
    "path with the label filter pushed into the candidate join.",
)
def ann_hard_negatives(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.similarity import (
        _qdot,
        drop_zero_norm,
        with_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    from ..io import ensure_min_parallelism

    corpus = drop_zero_norm(
        with_norm(ensure_min_parallelism(emb))
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cand_vec"),
        F.col("q_norm2").alias("cand_norm2"),
        F.col("label").alias("cand_label"),
    )
    queries = drop_zero_norm(
        with_norm(emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("q_norm2").alias("query_norm2"),
        F.col("label").alias("query_label"),
    )
    cos = _qdot(F.col("query_vec"), F.col("cand_vec")).cast("double") / (
        F.sqrt(F.col("query_norm2").cast("double"))
        * F.sqrt(F.col("cand_norm2").cast("double"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("cand_label") != F.col("query_label"))
        .select("query_id", "cand_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ANN_K)
        .select("query_id", "cand_id", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# Round-11 third wave: MinHash estimator-quality eval (the dedup
# analog of ann_recall_at_k) and Flesch-Kincaid readability scoring
# (the classic quality-curation feature family missing from the
# Gopher/CCNet tier).
# ---------------------------------------------------------------------------
def _minhash_error_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(dedup.MINHASH_K)
    )
    return f"""
WITH {_DOC_TOKS_CTE},
sigs AS ({dedup.minhash_sigs_sql()}),
bands AS ({dedup.minhash_bands_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_key)
  WHERE a.doc_id < b.doc_id
),
tarr AS (
  SELECT doc_id, list_distinct({_TOKS}) AS ts FROM documents
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         CAST({agree} AS BIGINT) AS n_agree,
         CAST(len(list_intersect(ta.ts, tb.ts)) AS BIGINT) AS n_inter,
         CAST(len(ta.ts) + len(tb.ts)
              - len(list_intersect(ta.ts, tb.ts)) AS BIGINT) AS n_union
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
  JOIN tarr ta ON ta.doc_id = c.doc_a
  JOIN tarr tb ON tb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_agree,
       CAST((1000000 * n_agree) // {dedup.MINHASH_K} AS BIGINT)
         AS est_ppm,
       CAST((1000000 * n_inter) // n_union AS BIGINT) AS jac_ppm,
       CAST((1000000 * n_agree) // {dedup.MINHASH_K}
            - (1000000 * n_inter) // n_union AS BIGINT) AS err_ppm
FROM pairs
"""


@register(
    "dedup_minhash_estimate_error",
    oracle=_minhash_error_oracle(),
    tags=("northstar", "dedup", "minhash", "eval"),
    doc="MinHash estimator-quality evaluation — the dedup analog of "
    "ann_recall_at_k: for every LSH candidate pair, the signature "
    "AGREEMENT fraction (the K=24 MinHash Jaccard estimate, "
    "E[agree/K] = J) against the EXACT token-set Jaccard, with the "
    "signed error in ppm. This is the measurement that justifies a "
    "banding configuration: the error distribution over real "
    "candidates tells you whether K is large enough for the corpus "
    "before trusting the verify threshold. Fully deterministic — "
    "md5-derived signatures, exact integer set sizes — so the error "
    "NUMBERS value-hash across engines. Scale shape: candidates "
    "come from the banded buckets (never all pairs); each doc's "
    "distinct-token array joins the bounded pair set once "
    "(verify_candidates_jaccard's array discipline); signatures "
    "ride two slim K-column joins.",
)
def dedup_minhash_estimate_error(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs)
    cand = dedup.minhash_candidate_pairs(docs)
    agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(dedup.MINHASH_K)
    ).cast("bigint")
    tarr = docs.select(
        "doc_id", F.array_distinct(text.tokens(F.col("text"))).alias("ts")
    )
    pairs = (
        cand.join(
            sigs.alias("sa"),
            F.col("doc_a") == F.col("sa.doc_id"),
        )
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", agree.alias("n_agree"))
        .join(
            tarr.select(
                F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta")
            ),
            "doc_a",
        )
        .join(
            tarr.select(
                F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb")
            ),
            "doc_b",
        )
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("ta", "tb")).cast("bigint"),
        )
        .withColumn(
            "n_union",
            (F.size("ta") + F.size("tb") - F.col("n_inter")).cast(
                "bigint"
            ),
        )
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_agree",
        F.expr(
            f"CAST((1000000 * n_agree) div {dedup.MINHASH_K} AS BIGINT)"
        ).alias("est_ppm"),
        F.expr("CAST((1000000 * n_inter) div n_union AS BIGINT)").alias(
            "jac_ppm"
        ),
        F.expr(
            f"CAST((1000000 * n_agree) div {dedup.MINHASH_K}"
            " - (1000000 * n_inter) div n_union AS BIGINT)"
        ).alias("err_ppm"),
    )


@register(
    "text_readability_scores",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_words,
         CAST(greatest(len(list_filter(
                regexp_split_to_array(text, '[.!?]+'),
                s -> trim(s) <> '')), 1) AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform({_TOKS},
                t -> greatest(len(regexp_extract_all(t, '[aeiou]+')),
                              1))) AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, source, n_words, n_sentences, n_syllables,
       CAST((390000 * n_words * n_words
             + 11800000 * n_syllables * n_sentences
             - 15590000 * n_sentences * n_words)
            // (n_sentences * n_words) AS BIGINT) AS fk_grade_ppm
FROM base WHERE n_words >= 1
""",
    tags=("northstar", "text", "curation"),
    doc="Flesch-Kincaid readability grade per document — the classic "
    "reading-level feature the quality-curation tier lacked (Gopher "
    "rules gate on lengths/ratios; FK gates on SENTENCE STRUCTURE): "
    "words via the shared tokenizer, sentences via [.!?]+ regex "
    "splits (floor 1 — unpunctuated docs are one sentence), "
    "syllables via the vowel-group heuristic (maximal [aeiou]+ runs "
    "per word, floor 1 — the standard dictionary-free "
    "approximation). Grade = 0.39·W/S + 11.8·Syl/W − 15.59 emitted "
    "as EXACT-integer ppm over the common denominator S·W, so both "
    "engines agree bit-for-bit (headroom: 390000·W² needs W ≤ 4.8M "
    "words/doc — any real doc fits). Scale shape: one scan, "
    "per-row expressions only (regexp + array fold), no shuffle "
    "at all.",
)
def text_readability_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ts = text.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        "source",
        F.size(ts).cast("bigint").alias("n_words"),
        F.greatest(
            F.size(
                F.filter(
                    F.split(F.col("text"), "[.!?]+"),
                    lambda s: F.trim(s) != "",
                )
            ),
            F.lit(1),
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.expr(
            "aggregate(transform("
            "  filter(split(lower(text), ' '), t -> t <> ''),"
            "  t -> greatest(size(regexp_extract_all(t, '[aeiou]+', 0)),"
            "                1)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("n_syllables"),
    ).filter(F.col("n_words") >= 1)
    return base.select(
        "doc_id",
        "source",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(
            "CAST((390000 * n_words * n_words"
            " + 11800000 * n_syllables * n_sentences"
            " - 15590000 * n_sentences * n_words)"
            " div (n_sentences * n_words) AS BIGINT)"
        ).alias("fk_grade_ppm"),
    )
