"""Data-curation operators: PII redaction, composite quality
filtering, weighted mixture sampling, per-label embedding centroids.

The curation layer a pretraining pipeline runs between raw ingest and
tokenization. Like the rest of the training-data suite these are
reference-free additions (SURVEY.md §2.2 north-star set — the
reference is a CDC archival job, `StartJob.java`, with no analog
surface) and every one is value-hash oracle-checked.

Scale notes (100 TB):
- PII redaction and quality scoring are pure per-row column
  expressions — single scan, zero shuffle, whole-stage codegen.
- Mixture sampling shuffles only the per-domain COUNTS (a handful of
  rows); the corpus itself is filtered in place by a per-row hash
  threshold against a broadcast rate table — no corpus shuffle.
- Label centroids shuffle (label, dim) partial sums via posexplode —
  map-side combine reduces each partition to |labels|×|dims| rows
  before the exchange, so shuffle volume is O(partitions × labels ×
  dims), independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import dsum, dsum_sql, hash_frac, hash_frac_sql
from ..io import ensure_min_parallelism, load_table, stage, stage_eager
from ..operators.text import STOPWORDS_EN, tokens
from .northstar_queries import int8_code_ctes
from .registry import register

# --------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------
# Patterns kept to the regex subset (character classes + bounded
# repetition, no lookaround) where Java regex (Spark) and RE2 (DuckDB)
# agree on every match.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

# The synthetic corpus is PII-free word salad, so the query plants
# deterministic PII (email / phone / IPv4) on doc_id-selected rows
# first — the redaction machinery then has real work to do and the
# oracle can verify hit counts and redacted-char totals exactly.
_PII_ORACLE = f"""
WITH planted AS (
  SELECT lang,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(CAST(FLOOR(doc_id / 7) AS BIGINT) % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 254 + 1 AS VARCHAR)
                 ELSE '' END AS with_pii
  FROM documents
), hits AS (
  SELECT lang, with_pii,
         len(regexp_extract_all(with_pii, '{EMAIL_RE}')) AS email_hits,
         len(regexp_extract_all(with_pii, '{PHONE_RE}')) AS phone_hits,
         len(regexp_extract_all(with_pii, '{IP_RE}')) AS ip_hits,
         regexp_replace(
           regexp_replace(
             regexp_replace(with_pii, '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g'),
           '{IP_RE}', '<IP>', 'g') AS redacted
  FROM planted
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN email_hits + phone_hits + ip_hits > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(email_hits) AS BIGINT) AS email_hits,
       CAST(SUM(phone_hits) AS BIGINT) AS phone_hits,
       CAST(SUM(ip_hits) AS BIGINT) AS ip_hits,
       CAST(SUM(length(with_pii) - length(redacted)) AS BIGINT)
         AS chars_redacted
FROM hits
GROUP BY lang
"""


@register(
    "text_pii_redaction",
    oracle=_PII_ORACLE,
    tags=("curation", "pii", "text"),
    doc="Regex PII redaction (email / phone / IPv4 → typed tokens) "
    "with per-language hit accounting. Deterministic synthetic PII is "
    "planted on doc_id-selected rows so redaction counts are exactly "
    "verifiable. Pure column expressions: one scan, zero shuffle "
    "before the final tiny per-lang aggregate.",
)
def text_pii_redaction(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    with_pii = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact u"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" host 10."),
                (did % 256).cast("string"),
                F.lit("."),
                (F.floor(did / 7) % 256).cast("string"),
                F.lit("."),
                (did % 254 + 1).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(with_pii, EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
        IP_RE,
        "<IP>",
    )
    per_doc = docs.select(
        "lang",
        with_pii.alias("with_pii"),
        F.regexp_count(with_pii, F.lit(EMAIL_RE)).alias("email_hits"),
        F.regexp_count(with_pii, F.lit(PHONE_RE)).alias("phone_hits"),
        F.regexp_count(with_pii, F.lit(IP_RE)).alias("ip_hits"),
        redacted.alias("redacted"),
    )
    any_pii = (
        F.col("email_hits") + F.col("phone_hits") + F.col("ip_hits") > 0
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(any_pii, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum("email_hits").cast("long").alias("email_hits"),
        F.sum("phone_hits").cast("long").alias("phone_hits"),
        F.sum("ip_hits").cast("long").alias("ip_hits"),
        F.sum(F.length("with_pii") - F.length("redacted"))
        .cast("long")
        .alias("chars_redacted"),
    )


# --------------------------------------------------------------------
# Composite quality filter
# --------------------------------------------------------------------
_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS_EN)

# Score terms are written in the SAME operation order on both engines:
# every term is a double op on exactly-representable int inputs, so
# the composite double is bit-identical and the keep threshold compare
# cannot straddle engines.
_QUALITY_ORACLE = f"""
WITH sig AS (
  SELECT lang,
         len(toks) AS n_tok,
         len(list_distinct(toks)) AS n_distinct,
         len(list_filter(toks, t -> t IN ({_SW_LIST}))) AS n_sw,
         list_sum(list_transform(toks, t -> length(t))) AS tok_chars
  FROM (
    SELECT lang,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
  )
), scored AS (
  SELECT lang,
         0.35 * least(CAST(n_tok AS DOUBLE) / 200.0, 1.0)
         + 0.25 * (CAST(n_distinct AS DOUBLE) / greatest(n_tok, 1))
         + 0.25 * least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5.0, 1.0)
         + 0.15 * least(CAST(COALESCE(tok_chars, 0) AS DOUBLE)
                        / greatest(n_tok, 1) / 6.0, 1.0) AS score
  FROM sig
)
SELECT lang,
       CAST(SUM(CASE WHEN score >= 0.41 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN score >= 0.41 THEN 0 ELSE 1 END) AS BIGINT)
         AS n_dropped,
       {dsum_sql("CASE WHEN score >= 0.41 THEN score ELSE 0 END")}
         AS sum_score_kept
FROM scored
GROUP BY lang
"""


@register(
    "quality_filter_composite",
    oracle=_QUALITY_ORACLE,
    tags=("curation", "quality", "text"),
    doc="Composite document-quality filter: length, lexical diversity "
    "(distinct-token ratio), stopword density, and mean token length "
    "folded into one [0,1] score with a keep threshold. All signals "
    "are JVM column expressions over one tokenization — single scan, "
    "no Python, no shuffle before the per-lang rollup.",
)
def quality_filter_composite(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    sig = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias(
            "n_sw"
        ),
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        ).alias("tok_chars"),
    )
    n_tok_safe = F.greatest(F.col("n_tok"), F.lit(1))
    score = (
        0.35 * F.least(F.col("n_tok").cast("double") / 200.0, F.lit(1.0))
        + 0.25 * (F.col("n_distinct").cast("double") / n_tok_safe)
        + 0.25
        * F.least(
            F.col("n_sw").cast("double") / n_tok_safe * 5.0, F.lit(1.0)
        )
        + 0.15
        * F.least(
            F.coalesce(F.col("tok_chars"), F.lit(0)).cast("double")
            / n_tok_safe
            / 6.0,
            F.lit(1.0),
        )
    )
    keep = score >= 0.41
    return (
        sig.select("lang", score.alias("score"), keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1))
            .cast("long")
            .alias("n_dropped"),
            dsum(
                F.when(F.col("keep"), F.col("score")).otherwise(F.lit(0.0)),
                "sum_score_kept",
            ),
        )
    )


# --------------------------------------------------------------------
# Weighted mixture sampling
# --------------------------------------------------------------------
# Domain = source id mod 3 (the synthetic corpus has sources src0..N);
# target mixture web:books:code = 0.5:0.3:0.2 over a 20% global
# sample. Per-domain rate = weight * target_rows / domain_rows, capped
# at 1 — i.e. the standard "epochs per source" mixture computation.
_MIXTURE_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CASE CAST(substring(source, 4) AS INTEGER) % 3
              WHEN 0 THEN 'web' WHEN 1 THEN 'books'
              ELSE 'code' END AS domain
  FROM documents
), counts AS (
  SELECT domain, count(*) AS n_domain FROM d GROUP BY domain
), tot AS (
  SELECT count(*) AS n_total FROM d
), rates AS (
  SELECT domain, n_domain,
         least(1.0,
               CASE domain WHEN 'web' THEN 0.5
                    WHEN 'books' THEN 0.3 ELSE 0.2 END
               * (0.2 * CAST(n_total AS DOUBLE))
               / CAST(n_domain AS DOUBLE)) AS rate
  FROM counts, tot
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_domain,
       CAST(SUM(CASE WHEN {hash_frac_sql("doc_id")} < rate
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(FLOOR(max(rate) * 10000) AS BIGINT) AS rate_q
FROM d JOIN rates USING (domain)
GROUP BY domain
"""


@register(
    "mixture_weighted_sample",
    oracle=_MIXTURE_ORACLE,
    tags=("curation", "sample", "mixture"),
    doc="Weighted data-mixture sampling: per-domain rates derived "
    "from target mixture weights and actual domain sizes (epochs-per-"
    "source), applied as a per-row hash threshold. Only the per-"
    "domain COUNTS shuffle (a handful of rows, broadcast back); the "
    "corpus is filtered in place with zero corpus shuffle — the "
    "mixture plan that works at 100 TB.",
)
def mixture_weighted_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    dom_idx = F.substring(F.col("source"), 4, 10).cast("int") % 3
    domain = (
        F.when(dom_idx == 0, "web")
        .when(dom_idx == 1, "books")
        .otherwise("code")
    )
    d = docs.select("doc_id", domain.alias("domain"))
    counts = d.groupBy("domain").agg(F.count("*").alias("n_domain"))
    total = d.agg(F.count("*").alias("n_total"))
    weight = (
        F.when(F.col("domain") == "web", 0.5)
        .when(F.col("domain") == "books", 0.3)
        .otherwise(0.2)
    )
    rates = counts.crossJoin(F.broadcast(total)).select(
        "domain",
        F.least(
            F.lit(1.0),
            weight
            * (0.2 * F.col("n_total").cast("double"))
            / F.col("n_domain").cast("double"),
        ).alias("rate"),
    )
    # Single corpus pass: broadcast the tiny rate table back onto the
    # docs and fold the sample decision into the aggregate — no second
    # corpus scan for the sampled counts, no outer join, and domains
    # that sample zero rows still appear (every doc row is present).
    return (
        d.join(F.broadcast(rates), "domain")
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_domain"),
            F.sum(
                F.when(hash_frac(F.col("doc_id")) < F.col("rate"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_sampled"),
            F.floor(F.max("rate") * 10000).cast("long").alias("rate_q"),
        )
    )


# --------------------------------------------------------------------
# Per-label embedding centroids
# --------------------------------------------------------------------
EMB_DIM = 64  # synthetic embeddings table dimension (TESTDATA.md)

_CENTROID_ORACLE = f"""
WITH ex AS (
  SELECT label, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS val
  FROM embeddings, (SELECT unnest(generate_series(0, {EMB_DIM - 1})) AS i)
)
SELECT label, pos,
       CAST(count(*) AS BIGINT) AS n_vecs,
       {dsum_sql("val")} / count(*) AS centroid
FROM ex
GROUP BY label, pos
"""


@register(
    "embedding_label_centroids",
    oracle=_CENTROID_ORACLE,
    tags=("curation", "embedding", "centroid"),
    doc="Per-label embedding centroids (the class-prototype step "
    "behind clustering-based curation and IVF seeding): posexplode to "
    "(label, dim, value), partial-aggregated per partition before the "
    "exchange, so shuffle volume is O(partitions × labels × dims) "
    "regardless of corpus size. Quantized sums keep the mean "
    "fold-order- and engine-independent.",
)
def embedding_label_centroids(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    agg = ex.groupBy("label", "pos").agg(
        F.count("*").alias("n_vecs"),
        dsum(F.col("val").cast("double"), "qsum"),
    )
    return agg.select(
        "label",
        "pos",
        "n_vecs",
        (F.col("qsum") / F.col("n_vecs")).alias("centroid"),
    )


# --------------------------------------------------------------------
# Per-label embedding outliers (mislabel / corrupt-sample detection)
# --------------------------------------------------------------------
OUT_Q = 10_000  # value quantization (floor(v·1e4) → exact ints)
OUT_TOPN = 5  # outliers reported per label

_OUTLIER_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, label, i AS pos,
         CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * {OUT_Q}) AS BIGINT)
           AS vq
  FROM embeddings, (SELECT unnest(generate_series(0, {EMB_DIM - 1})) AS i)
),
cent AS (
  SELECT label, pos,
         CAST(sum(vq) AS BIGINT) // count(*) AS cq
  FROM ex GROUP BY label, pos
),
dist AS (
  SELECT e.vec_id, e.label,
         CAST(sum((e.vq - c.cq) * (e.vq - c.cq)) AS BIGINT) AS dist_q
  FROM ex e JOIN cent c ON c.label = e.label AND c.pos = e.pos
  GROUP BY e.vec_id, e.label
)
SELECT label, vec_id, dist_q, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY label
                               ORDER BY dist_q DESC, vec_id) AS rnk
  FROM dist
) WHERE rnk <= {OUT_TOPN}
"""


@register(
    "embedding_label_outliers",
    oracle=_OUTLIER_ORACLE,
    tags=("curation", "embedding", "centroid", "quality"),
    doc="Per-label embedding outliers: the top-"
    f"{OUT_TOPN} vectors farthest (quantized squared L2) from their "
    "label's integer centroid — the standard mislabeled/corrupt-"
    "sample sweep run before training on labeled embeddings. All "
    "arithmetic is quantized ints (floor(v·1e4), truncating-div "
    "centroid), so distances and ranks are bit-identical across "
    "engines. Scale shape: centroids partial-aggregate to "
    "O(labels·dims) rows; they fold back as a BROADCAST array and "
    "the distance is one zip_with fold per row in codegen — the "
    "corpus is never shuffled, and the per-label top-N compiles to "
    "WindowGroupLimit (partitions·N rows to the final exchange).",
)
def embedding_label_outliers(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "vq_raw")
    ).select(
        "label",
        "pos",
        F.floor(F.col("vq_raw").cast("double") * OUT_Q)
        .cast("long")
        .alias("vq"),
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.expr("CAST(sum(vq) AS BIGINT) div count(*)").alias("cq"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("pos", "cq"))
                ),
                lambda s: s["cq"],
            ).alias("cent_q")
        )
    )
    dist = F.aggregate(
        F.zip_with(
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") * OUT_Q).cast("long"),
            ),
            F.col("cent_q"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label", "vec_id", dist.alias("dist_q")
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist_q").desc(), "vec_id"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= OUT_TOPN)
        .select(
            "label",
            "vec_id",
            "dist_q",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# --------------------------------------------------------------------
# Cross-source near-dup overlap
# --------------------------------------------------------------------
def _xsrc_oracle() -> str:
    from .northstar_queries import _DOC_TOKS_CTE

    return f"""
WITH {_DOC_TOKS_CTE},
df AS (SELECT tok, count(*) AS dfreq FROM doc_toks GROUP BY tok),
rare AS (SELECT d.doc_id, d.tok FROM doc_toks d
         JOIN df ON df.tok = d.tok AND df.dfreq <= 1000),
sizes AS (SELECT doc_id, count(*) AS n_tok FROM doc_toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT s.doc_a, s.doc_b,
         CAST(s.n_shared AS DOUBLE)
           / CAST(sa.n_tok + sb.n_tok - s.n_shared AS DOUBLE) AS jaccard
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
  WHERE CAST(s.n_shared AS DOUBLE)
        / CAST(sa.n_tok + sb.n_tok - s.n_shared AS DOUBLE) >= 0.5
),
lab AS (
  SELECT p.jaccard, da.source AS sa, db.source AS sb
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {dsum_sql("jaccard")} AS sum_jaccard
FROM lab
GROUP BY least(sa, sb), greatest(sa, sb)
"""


@register(
    "dedup_cross_source_overlap",
    oracle=_xsrc_oracle(),
    tags=("curation", "dedup", "provenance"),
    doc="Cross-source duplication matrix: verified near-dup pairs "
    "(exact token-set Jaccard ≥ 0.5, df-capped skew guard) labeled "
    "with each side's source, rolled up to unordered (source_a, "
    "source_b) cells. The curation analytic that tells you which "
    "sources copy each other — the direct input to down-weighting "
    "mirrored sources in the mixture. Adds only two 2-column joins "
    "and an O(|sources|²) rollup on top of the pair machinery.",
)
def dedup_cross_source_overlap(spark, sf_dir):
    from ..operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(docs, min_jaccard=0.5, max_shingle_df=1000)
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            dsum(F.col("jaccard"), "sum_jaccard"),
        )
    )


# --------------------------------------------------------------------
# KMV sketch set algebra: cross-source overlap WITHOUT the pair join
# --------------------------------------------------------------------
def _kmv_overlap_oracle() -> str:
    from ..operators.dedup import _sql_hex_to_int
    from .relational_queries import _KMV_H, KMV_K

    union_est = (
        f"CASE WHEN kd < {KMV_K} THEN kd"
        f" ELSE CAST({(KMV_K - 1) * _KMV_H} AS BIGINT) // mk END"
    )
    return f"""
WITH toks AS (
  SELECT source,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents
),
shing AS (
  SELECT DISTINCT source, ({_sql_hex_to_int(1)}) AS h
  FROM (
    SELECT source, md5(s) AS d FROM (
      SELECT source, unnest(list_distinct(
               list_transform(generate_series(1, len(ts) - 2),
                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
             )) AS s
      FROM toks WHERE len(ts) >= 3
    )
  )
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM shing
  ) WHERE rn <= {KMV_K}
),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
),
merged AS (
  SELECT source_a, source_b, h,
         max(in_a) AS in_a, max(in_b) AS in_b
  FROM (
    SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.source = p.source_a
    UNION ALL
    SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sk s ON s.source = p.source_b
  ) GROUP BY 1, 2, 3
),
bottomk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source_a, source_b
                                 ORDER BY h) AS rn
    FROM merged
  ) WHERE rn <= {KMV_K}
),
aggd AS (
  SELECT source_a, source_b,
         count(*) AS kd, max(h) AS mk,
         CAST(sum(in_a * in_b) AS BIGINT) AS rho
  FROM bottomk GROUP BY 1, 2
)
SELECT source_a, source_b,
       CAST({union_est} AS BIGINT) AS union_est,
       CAST(kd AS BIGINT) AS kd, rho,
       CAST((1000 * rho) // kd AS BIGINT) AS jaccard_milli,
       CAST((rho * ({union_est})) // kd AS BIGINT) AS intersection_est
FROM aggd
"""


@register(
    "agg_kmv_source_overlap",
    oracle=_kmv_overlap_oracle(),
    tags=("curation", "sketch", "approx", "provenance"),
    doc="Sketch set algebra (Beyer et al. 2007): per-source KMV "
    "sketches over each source's distinct trigram-shingle universe, "
    "combined pairwise into union / intersection / Jaccard estimates "
    "— the 100-TB path to `dedup_cross_source_overlap`'s exact pair "
    "join. For h in the union's bottom-K, h ∈ Sa ⇔ h ∈ bottomK(Sa) "
    "(the union's k-th min never exceeds either sketch's), so "
    "ρ = |bottom-K ∩ both sketches| is an exact function of the two "
    "sketches: Jaccard ≈ ρ/K, |A∩B| ≈ (ρ/K)·union_est, exact when "
    "the union has < K distinct shingles. Everything is md5 + "
    "integer arithmetic ⇒ bit-identical across engines and fully "
    "value-hash-checked despite being an approximation. Scale shape: "
    "the ONLY corpus-scale work is the per-source distinct + "
    "WindowGroupLimit bottom-K (map-side K-pruning, shuffle "
    "O(partitions·K)); the pairwise algebra runs on "
    "|sources|·K model-state rows.",
)
def agg_kmv_source_overlap(spark, sf_dir):
    from ..operators.text import trigram_shingles
    from .relational_queries import _KMV_H, KMV_K

    docs = load_table(spark, sf_dir, "documents")
    shing = docs.select(
        "source", tokens(F.col("text")).alias("ts")
    ).select(
        "source", F.explode(trigram_shingles(F.col("ts"))).alias("s")
    )
    h = F.conv(F.substring(F.md5(F.col("s")), 1, 14), 16, 10).cast(
        "bigint"
    )
    hashed = shing.select("source", h.alias("h")).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
    )
    srcs = sk.select("source").distinct()
    pairs = srcs.select(F.col("source").alias("source_a")).join(
        srcs.select(F.col("source").alias("source_b")),
        F.col("source_a") < F.col("source_b"),
    )
    ska = sk.select(
        F.col("source").alias("source_a"),
        "h",
        F.lit(1).alias("in_a"),
        F.lit(0).alias("in_b"),
    )
    skb = sk.select(
        F.col("source").alias("source_b"),
        "h",
        F.lit(0).alias("in_a"),
        F.lit(1).alias("in_b"),
    )
    merged = (
        pairs.join(ska, "source_a")
        .unionByName(pairs.join(skb, "source_b"))
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w2 = Window.partitionBy("source_a", "source_b").orderBy("h")
    bottomk = merged.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= KMV_K
    )
    aggd = bottomk.groupBy("source_a", "source_b").agg(
        F.count("*").alias("kd"),
        F.max("h").alias("mk"),
        F.sum(F.expr("in_a * in_b")).cast("bigint").alias("rho"),
    )
    union_sql = (
        f"CASE WHEN kd < {KMV_K} THEN kd ELSE"
        f" CAST({(KMV_K - 1) * _KMV_H} AS BIGINT) div mk END"
    )
    return aggd.select(
        "source_a",
        "source_b",
        F.expr(union_sql).cast("bigint").alias("union_est"),
        F.col("kd").cast("bigint").alias("kd"),
        "rho",
        F.expr("(1000 * rho) div kd").cast("bigint").alias(
            "jaccard_milli"
        ),
        F.expr(f"(rho * ({union_sql})) div kd")
        .cast("bigint")
        .alias("intersection_est"),
    )


# --------------------------------------------------------------------
# Boilerplate-chunk removal (CCNet-style repeated-text filtering)
# --------------------------------------------------------------------
CHUNK_TOKENS = 3  # tokens per non-overlapping chunk
BOILER_MIN_DF = 3  # chunk is boilerplate when seen in ≥ this many docs


def _chunk_structs(ts):
    """(h, clen) per non-overlapping CHUNK_TOKENS-token slice of the
    token-array column `ts`: the slice's md5 and its token count.
    Never empty (n_chunks >= 1), so an empty `ts` yields one clen = 0
    element that callers drop. SQL mirror: the `spine`/`chunks` CTEs
    below and in `_chunk_graph_prefix`."""
    K = CHUNK_TOKENS
    n_chunks = F.greatest(
        F.ceil(F.size(ts) / F.lit(K)).cast("int"), F.lit(1)
    )
    return F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.struct(
            F.md5(
                F.array_join(F.slice(ts, (i - 1) * K + 1, F.lit(K)), " ")
            ).alias("h"),
            F.size(F.slice(ts, (i - 1) * K + 1, F.lit(K))).alias("clen"),
        ),
    )

_BOILER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents
), spine AS (
  SELECT unnest(generate_series(1, CAST(CEIL(
    (SELECT max(len(ts)) FROM toks) / {CHUNK_TOKENS}.0) AS INT))) AS i
), chunks AS (
  SELECT doc_id, lang,
         md5(array_to_string(list_slice(ts,
           (i - 1) * {CHUNK_TOKENS} + 1, i * {CHUNK_TOKENS}), ' ')) AS h,
         len(list_slice(ts,
           (i - 1) * {CHUNK_TOKENS} + 1, i * {CHUNK_TOKENS})) AS clen
  FROM toks, spine
  WHERE (i - 1) * {CHUNK_TOKENS} + 1 <= len(ts)
), boiler AS (
  SELECT h FROM chunks GROUP BY h
  HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
)
SELECT lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS chunks_dropped,
       CAST(SUM(clen) AS BIGINT) AS tokens_before,
       CAST(SUM(CASE WHEN b.h IS NULL THEN clen ELSE 0 END) AS BIGINT)
         AS tokens_after
FROM chunks c LEFT JOIN boiler b ON c.h = b.h
GROUP BY lang
"""


@register(
    "text_boilerplate_chunks",
    oracle=_BOILER_ORACLE,
    tags=("curation", "boilerplate", "text"),
    doc="Repeated-chunk boilerplate filtering (the CCNet/RefinedWeb "
    "pattern at chunk granularity): hash non-overlapping "
    f"{CHUNK_TOKENS}-token chunks, find chunks appearing in ≥ "
    f"{BOILER_MIN_DF} distinct docs (headers, footers, license "
    "blocks), and report per-language token retention. Scale shape: "
    "chunk document-frequency is a map-side-combined groupBy on "
    "32-byte hashes; the boilerplate set is heavy-hitters-small and "
    "broadcast back — the corpus itself is never shuffled.",
)
def text_boilerplate_chunks(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", tokens(F.col("text")).alias("ts"))
    chunks = (
        toks.select(
            "doc_id", "lang", F.explode(_chunk_structs(F.col("ts"))).alias("c")
        )
        .select("doc_id", "lang", F.col("c.h").alias("h"),
                F.col("c.clen").alias("clen"))
        .filter(F.col("clen") > 0)
    )
    boiler = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
        .select("h", F.lit(1).alias("is_boiler"))
    )
    marked = chunks.join(F.broadcast(boiler), "h", "left")
    return marked.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("is_boiler") == 1, 1).otherwise(0))
        .cast("long")
        .alias("chunks_dropped"),
        F.sum("clen").cast("long").alias("tokens_before"),
        F.sum(F.when(F.col("is_boiler").isNull(), F.col("clen")).otherwise(0))
        .cast("long")
        .alias("tokens_after"),
    )


DUP_FLAG_PPM = 500_000  # flag a doc when > 50% of its chunks are shared

_DUP_FRAC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents
), spine AS (
  SELECT unnest(generate_series(1, CAST(CEIL(
    (SELECT max(len(ts)) FROM toks) / {CHUNK_TOKENS}.0) AS INT))) AS i
), chunks AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice(ts,
           (i - 1) * {CHUNK_TOKENS} + 1, i * {CHUNK_TOKENS}), ' ')) AS h
  FROM toks, spine
  WHERE (i - 1) * {CHUNK_TOKENS} + 1 <= len(ts)
), dfh AS (
  SELECT h, count(DISTINCT doc_id) AS df FROM chunks GROUP BY h
), per_doc AS (
  SELECT c.doc_id, c.source,
         count(*) AS n_chunks,
         SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM chunks c JOIN dfh d ON c.h = d.h
  GROUP BY c.doc_id, c.source
), scoredocs AS (
  SELECT source, n_chunks, n_dup,
         CAST(floor(1000000.0 * n_dup / n_chunks) AS BIGINT) AS dup_ppm
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dup_ppm > {DUP_FLAG_PPM} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
       CAST(SUM(n_dup) AS BIGINT) AS dup_chunks,
       CAST(SUM(dup_ppm) AS BIGINT) AS sum_dup_ppm
FROM scoredocs GROUP BY source
"""


@register(
    "curation_dup_chunk_fraction",
    oracle=_DUP_FRAC_ORACLE,
    tags=("curation", "dedup", "quality"),
    doc="Per-document duplicated-content fraction (the RefinedWeb/"
    "Dolma whole-doc removal signal, distinct from the per-chunk "
    f"boilerplate DROP): share of a doc's {CHUNK_TOKENS}-token chunks "
    "that also appear in at least one OTHER document, in integer ppm, "
    "rolled up per source with the count of docs over the "
    f"{DUP_FLAG_PPM / 10_000:.0f}% removal threshold. Scale shape: "
    "slim 32-byte hash rows only (chunk document-frequency groupBy, "
    "then a hash-keyed join — broadcast at test SF by AQE, an "
    "exchange-reusing sort-merge at corpus scale); the corpus text "
    "itself is chunked in place and never shuffled; per-doc and "
    "per-source rollups are map-side combined.",
)
def curation_dup_chunk_fraction(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # fan the raw text before the tokenize+chunk-md5 grid (×10
    # probe: 2-task 5.4 s/task at scan parallelism) — no-op on real
    # many-split scans
    toks = ensure_min_parallelism(
        docs.select("doc_id", "source", "text"), keys=["doc_id"]
    ).select("doc_id", "source", tokens(F.col("text")).alias("ts"))
    # explode_OUTER: the array is never empty (n_chunks >= 1) but a
    # plain explode lets InferFiltersFromGenerate push the whole
    # chunk-md5 grid into the scan filter (a second full evaluation
    # at scan parallelism — the ×10 probe's twin 2-task stage); the
    # existing clen filter drops any NULL row identically.
    chunks = (
        toks.select(
            "doc_id",
            "source",
            F.explode_outer(_chunk_structs(F.col("ts"))).alias("c"),
        )
        .filter(F.col("c.clen") > 0)
        .select("doc_id", "source", F.col("c.h").alias("h"))
    )
    dfh = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    per_doc = (
        chunks.join(dfh, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .withColumn(
            "dup_ppm",
            F.floor(
                F.lit(1000000.0) * F.col("n_dup") / F.col("n_chunks")
            ).cast("long"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("dup_ppm") > DUP_FLAG_PPM, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum("n_chunks").cast("long").alias("total_chunks"),
        F.sum("n_dup").cast("long").alias("dup_chunks"),
        F.sum("dup_ppm").cast("long").alias("sum_dup_ppm"),
    )


CAP_PER_SOURCE = 10  # corpus-balance cap: max docs kept per source


@register(
    "sample_cap_per_source",
    oracle=f"""
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= {CAP_PER_SOURCE}
""",
    tags=("curation", "sampling"),
    doc="Deterministic per-source cap sample (corpus balance: no "
    f"domain contributes more than {CAP_PER_SOURCE} docs): keep each "
    "source's first K docs in md5(doc_id) order — a seeded uniform "
    "draw that is reproducible across runs, partitionings and "
    "engines, unlike rand()-based sampling. Scale shape: the rn<=K "
    "filter compiles to WindowGroupLimit, so each partition forwards "
    "at most K rows per source to the one window shuffle — the "
    "per-group reservoir pattern without a reservoir's statefulness.",
)
def sample_cap_per_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CAP_PER_SOURCE)
        .select("source", "doc_id", "n_chars")
    )


PR_EDGE_MIN_DF = 2  # an edge needs a chunk shared by >= 2 docs
PR_EDGE_MAX_DF = 50  # chunks in > this many docs are boilerplate, not
#                      duplication links — df-capped like the LSH buckets
PR_ITERS = 3
# Loud wedge-degree bound for the link-prediction family (round-9
# verdict task 6): the chunk-graph degree is structurally ≤
# n_chunks·(PR_EDGE_MAX_DF−1); 64 chunks (≈190 tokens at 3/chunk) is
# generous for this corpus (max doc = 100 tokens → ≤34 chunks), so a
# breach means the df cap silently stopped applying — fail, don't
# enumerate Σ deg² wedges.
WEDGE_DEGREE_CAP = 64 * (PR_EDGE_MAX_DF - 1)


def _chunk_graph_prefix() -> str:
    """The duplicate-chunk graph as a DuckDB WITH-clause prefix
    (toks → spine → chunks → df-capped ca → directed `edges`),
    shared by the PageRank and triangle-count oracles. The PageRank
    oracle's text is byte-identical to its pre-refactor form, so its
    verified-hash pin survives."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents
), spine AS (
  SELECT unnest(generate_series(1, CAST(CEIL(
    (SELECT max(len(ts)) FROM toks) / {CHUNK_TOKENS}.0) AS INT))) AS i
), chunks AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(ts,
           (i - 1) * {CHUNK_TOKENS} + 1, i * {CHUNK_TOKENS}), ' ')) AS h
  FROM toks, spine
  WHERE (i - 1) * {CHUNK_TOKENS} + 1 <= len(ts)
), ca AS (
  SELECT c.doc_id, c.h FROM chunks c
  JOIN (SELECT h FROM chunks GROUP BY h
        HAVING count(*) >= {PR_EDGE_MIN_DF}
           AND count(*) <= {PR_EDGE_MAX_DF}) k ON c.h = k.h
), edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM ca a JOIN ca b ON a.h = b.h AND a.doc_id <> b.doc_id
)"""


def _dup_chunk_frame(docs):
    """The df-capped (doc_id, h) rows of the duplicate-chunk graph:
    each doc's distinct chunk hashes, kept when the chunk is in
    PR_EDGE_MIN_DF..PR_EDGE_MAX_DF docs — the Spark side of the `ca`
    CTE in `_chunk_graph_prefix`. Takes the caller's `documents`
    frame. Runs one job at construction: the eager chunk cut below."""
    # fan the RAW text to cluster parallelism before tokenize + the
    # md5 chunk grid: the per-row work otherwise runs at the scan's
    # split count — one task on a small single-file scan; a no-op on
    # real many-split scans
    fanned = ensure_min_parallelism(
        docs.select("doc_id", "text"), keys=["doc_id"]
    )
    # The token array is bound ONCE per row as a higher-order lambda
    # variable (the Bloom-probe discipline), so no later projection
    # collapse can inline tokens(text) back into the 2·n_chunks
    # references inside the chunk lambda. An
    # order-controlled probe (fresh session per variant, 3 reps)
    # measured the bound and projected-column forms EQUAL at sf0.1
    # (0.29 s vs 0.30 s warm; ~4.5 s cold-JIT first execution both)
    # — the binding is insurance for optimizer drift, not a
    # measured win today.
    chunk_structs = F.get(
        F.transform(F.array(tokens(F.col("text"))), _chunk_structs), 0
    )
    chunks = (
        # explode_OUTER: a plain explode lets
        # InferFiltersFromGenerate synthesize a size()>0 scan
        # filter that inlines the whole tokenize+md5 grid into
        # the parquet scan (computing it twice, once single-task);
        # c.clen > 0 drops the same rows (NULL > 0 is NULL), values
        # identical
        fanned.select("doc_id", F.explode_outer(chunk_structs).alias("c"))
        .filter(F.col("c.clen") > 0)
        .select("doc_id", F.col("c.h").alias("h"))
        .distinct()
        # staged EAGERLY: two consumers (the df-cap groupBy and
        # the pair join) are concurrent subtrees of one join —
        # unstaged, the whole chunk derivation executed twice
        # (profiled: twin 2.3 s single-task stages with
        # byte-identical 3.4 MB writes); a lazy cut would let
        # the two branches race the cache population
        .transform(stage_eager)
    )
    okh = (
        chunks.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(
            (F.col("df") >= PR_EDGE_MIN_DF)
            & (F.col("df") <= PR_EDGE_MAX_DF)
        )
        .select("h")
    )
    return chunks.join(okh, "h")


def _dup_chunk_edges(docs):
    """Directed duplicate-chunk edges (src, dst), both orientations —
    the `edges` CTE of `_chunk_graph_prefix`. Unstaged."""
    ca = _dup_chunk_frame(docs)
    a, b = ca.alias("a"), ca.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
        .distinct()
    )


def _dup_chunk_und(docs):
    """Undirected duplicate-chunk edges (u, v) with u < v. Unstaged."""
    ca = _dup_chunk_frame(docs)
    a, b = ca.alias("a"), ca.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v")
        )
        .distinct()
    )


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    """Unrolled integer-PageRank mirror: every CTE round is exact
    integer division (`//`), so ranks are bit-identical to the Spark
    `div`-based recurrence. Final rank CAST to BIGINT (DuckDB SUM
    promotes to HUGEINT, which fetchdf would downcast to float64)."""
    from ..operators.graph import DAMP_DEN, DAMP_NUM, PR_QUANT

    base_num = (DAMP_DEN - DAMP_NUM) * PR_QUANT
    sql = f"""{_chunk_graph_prefix()}, outdeg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nn AS (SELECT count(*) AS n FROM documents
), r0 AS (
  SELECT doc_id AS node, CAST({PR_QUANT} AS BIGINT) // n AS rank_q
  FROM documents, nn
)"""
    for t in range(1, iters + 1):
        sql += f""", s{t} AS (
  SELECT e.dst AS node, SUM(r.rank_q // o.deg) AS s
  FROM edges e
  JOIN r{t - 1} r ON r.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
), r{t} AS (
  SELECT d.doc_id AS node,
         CAST((CAST({base_num} AS BIGINT) // ({DAMP_DEN} * nn.n))
              + ({DAMP_NUM} * COALESCE(s{t}.s, 0)) // {DAMP_DEN}
              AS BIGINT) AS rank_q
  FROM documents d CROSS JOIN nn
  LEFT JOIN s{t} ON s{t}.node = d.doc_id
)"""
    sql += f"""
SELECT node AS doc_id, rank_q, rnk FROM (
  SELECT node, rank_q,
         row_number() OVER (ORDER BY rank_q DESC, node) AS rnk
  FROM r{iters}
) WHERE rnk <= 20
"""
    return sql


@register(
    "graph_pagerank_dup_chunks",
    oracle=_pagerank_oracle(),
    tags=("curation", "graph", "iterative"),
    doc="Fixed-iteration integer PageRank over the duplicate-chunk "
    "graph (docs linked when they share a 3-token chunk seen in "
    f"{PR_EDGE_MIN_DF}–{PR_EDGE_MAX_DF} docs — the df cap excludes "
    "boilerplate chunks, like the LSH bucket cap): centrality in the "
    "duplication graph, the canonical-representative signal for "
    "cluster-level dedup. Iterative dataflow unrolled declaratively: "
    f"{PR_ITERS} rounds over the ONCE-computed, staged "
    "degree-annotated edge list, each ranking the edge sources from "
    "the previous round's per-node sums and emitting one slim (dst, "
    "contrib) shuffle with map-side combine; the node list is read "
    "once, for the final ranks. Ranks are exact integer micro-units "
    "(`div`/`//`) so both engines agree bit-for-bit. Top-20 via "
    "sort-limit, never a global window.",
)
def graph_pagerank_dup_chunks(spark, sf_dir):
    from ..operators.graph import pagerank_fixed

    docs = load_table(spark, sf_dir, "documents")
    edges = _dup_chunk_edges(docs)
    nodes = docs.select(F.col("doc_id").alias("node"))
    ranks = pagerank_fixed(nodes, edges, iterations=PR_ITERS)
    top = ranks.orderBy(F.col("rank_q").desc(), F.col("node")).limit(20)
    # the window input is the bounded 20-row limit, not the corpus
    w = Window.orderBy(F.col("rank_q").desc(), F.col("node"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        F.col("node").alias("doc_id"), "rank_q", "rnk"
    )


def _triangle_oracle() -> str:
    """Degree-oriented triangle enumeration over the same chunk-graph
    prefix (tuple order = (degree, node id); the wedge ordering and
    the closing-edge orientation use the SAME order, so each triangle
    matches exactly once)."""
    return f"""{_chunk_graph_prefix()},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY node
),
ori AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         THEN e.u ELSE e.v END AS a,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         THEN e.v ELSE e.u END AS b,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         THEN dv.d ELSE du.d END AS bd
  FROM und e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tris AS (
  SELECT o1.a, o1.b AS y, o2.b AS z
  FROM ori o1
  JOIN ori o2 ON o1.a = o2.a
   AND (o1.bd < o2.bd OR (o1.bd = o2.bd AND o1.b < o2.b))
  JOIN ori oc ON oc.a = o1.b AND oc.b = o2.b
)
SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS node FROM tris
  UNION ALL SELECT y AS node FROM tris
  UNION ALL SELECT z AS node FROM tris
)
GROUP BY node
"""


@register(
    "graph_triangles_dup_chunks",
    oracle=_triangle_oracle(),
    tags=("curation", "graph"),
    doc="Per-document triangle counts in the duplicate-chunk graph — "
    "the clustering-density signal next to PageRank centrality "
    "(documents in many triangles sit inside tight duplication "
    "cliques; bridges sit in none). Degree-oriented enumeration "
    "(compact-forward): edges orient low→high (degree, id), wedges "
    "join on the oriented source (out-degrees bounded by O(sqrt m), "
    "so wedge volume is O(m^1.5) even with hub documents), and the "
    "closing probe matches each triangle exactly once. Slim "
    "(node, node) shuffles throughout; the oriented edge list is "
    "checkpointed once and read three times.",
)
def graph_triangles_dup_chunks(spark, sf_dir):
    from ..operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    und = _dup_chunk_und(docs)
    return triangle_counts(und).select(
        F.col("node").alias("doc_id"), "n_triangles"
    )


BFS_MAX_HOPS = 4  # bounded frontier expansion (depth < cap per step)
BFS_N_SEEDS = 3  # multi-source BFS from the 3 smallest edge sources

# The oracle's recursive CTE (DuckDB only; the Spark side is the
# frontier plan `operators.graph.bfs_fixed`): anchor = seeds at depth
# 0; step = previous level joined to the edge list, DISTINCT per level
# so a dense bucket-clique cannot explode into per-path rows;
# min(depth) per reached node afterwards.
_BFS_RECURSIVE_SQL = f"""
r(seed_id, node, depth) AS (
  SELECT src, src, 0 FROM seeds
  UNION ALL
  SELECT DISTINCT r.seed_id, e.dst, r.depth + 1
  FROM r JOIN edges e ON e.src = r.node
  WHERE r.depth < {BFS_MAX_HOPS}
)
SELECT seed_id, node AS doc_id, CAST(min(depth) AS BIGINT) AS hops
FROM r GROUP BY seed_id, node
"""


def _bfs_oracle() -> str:
    prefix = _chunk_graph_prefix().replace(
        "\nWITH toks", "\nWITH RECURSIVE toks", 1
    )
    return f"""{prefix}, seeds AS (
  SELECT DISTINCT src FROM edges ORDER BY src LIMIT {BFS_N_SEEDS}
),
{_BFS_RECURSIVE_SQL}
"""


@register(
    "graph_bfs_reachability",
    oracle=_bfs_oracle(),
    tags=("curation", "graph", "iterative"),
    doc="Multi-source BFS hop distance over the duplicate-chunk graph "
    "from the 3 smallest edge sources: 'how far does duplication "
    "influence propagate from this document' — the radius companion "
    "to the component/PageRank views of the same graph. Depth "
    f"bounded at {BFS_MAX_HOPS}, unrolled as one declarative plan of "
    "frontier levels: each level left-joins the running (seed, node, "
    "depth) frame to the edge list on the last level's nodes, "
    "explodes each row into itself plus its expansion and keeps "
    "min(depth) per (seed, node), so a dense shared-chunk clique "
    "contributes one row per reached node, never one row per PATH. "
    "The oracle runs the same bounded expansion as a recursive CTE. "
    "Scale shape: the edge list is derived once and "
    "localCheckpoint-staged (every level re-reads it without "
    "re-deriving the chunk joins); each level is one join and one "
    "aggregate exchange of slim (seed, node, depth) longs bounded by "
    "seeds x nodes, and the plan grows linearly with the depth cap.",
)
def graph_bfs_reachability(spark, sf_dir):
    from ..operators.graph import bfs_fixed

    docs = load_table(spark, sf_dir, "documents")
    edges = _dup_chunk_edges(docs).transform(stage)
    seeds = (
        edges.select("src").distinct().orderBy("src").limit(BFS_N_SEEDS)
    )
    return bfs_fixed(seeds, edges, BFS_MAX_HOPS).select(
        "seed_id", F.col("node").alias("doc_id"), "hops"
    )


# Degree assortativity (round 10): Pearson correlation of endpoint
# degrees across the dup-chunk graph's directed edges — positive =
# duplication concentrates hub-to-hub (template families), negative =
# hubs link to leaves (one canonical copied everywhere). The sums are
# exact integers; only the final r quantizes (ONE shared double
# expression, round to ppm — the libm discipline).
_ASSORT_R_EXPR = (
    "CAST(round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    " / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    " * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))"
    " * 1000000) AS BIGINT)"
)


def _assortativity_oracle() -> str:
    return f"""{_chunk_graph_prefix()},
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS d
  FROM edges GROUP BY 1
),
pairs AS (
  SELECT a.d AS dx, b.d AS dy
  FROM edges e
  JOIN deg a ON a.node = e.src
  JOIN deg b ON b.node = e.dst
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM pairs
)
SELECT n, sx, sxy, {_ASSORT_R_EXPR} AS r_ppm
FROM agg
WHERE n >= 2 AND n * sxx <> sx * sx AND n * syy <> sy * sy
"""


@register(
    "graph_degree_assortativity",
    oracle=_assortativity_oracle(),
    tags=("curation", "graph", "statistics"),
    doc="Degree assortativity of the duplicate-chunk graph: Pearson "
    "r of (deg(src), deg(dst)) across directed edges — positive "
    "means duplication concentrates hub-to-hub (template families "
    "referencing each other), negative means hubs link to leaves "
    "(one canonical document copied everywhere), the structural "
    "signal for choosing BETWEEN cluster-level dedup strategies. "
    "On the symmetrized edge list out-degree equals degree, and "
    "every undirected edge contributes both orientations — the "
    "standard undirected-assortativity convention, so sx = sy by "
    "construction (emitted once). Moment sums are exact BIGINTs "
    "with map-side combine; only the final r quantizes (one shared "
    "double expression, ppm-rounded); zero-variance degenerate "
    "graphs are excluded identically on both engines. Scale shape: "
    "one degree rollup + two slim degree joins + a 1-row moment "
    "aggregate — no window, no all-pairs anything.",
)
def graph_degree_assortativity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    edges = _dup_chunk_edges(docs).transform(stage)
    deg = edges.groupBy("src").agg(
        F.count("*").cast("bigint").alias("d")
    )
    pairs = (
        edges.join(deg.select(F.col("src"), F.col("d").alias("dx")), "src")
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("d").alias("dy")
            ),
            "dst",
        )
        .select("dx", "dy")
    )
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.expr("dx * dy")).cast("bigint").alias("sxy"),
        F.sum(F.expr("dx * dx")).cast("bigint").alias("sxx"),
        F.sum(F.expr("dy * dy")).cast("bigint").alias("syy"),
    )
    return agg.filter(
        (F.col("n") >= 2)
        & (F.expr("n * sxx") != F.expr("sx * sx"))
        & (F.expr("n * syy") != F.expr("sy * sy"))
    ).select("n", "sx", "sxy", F.expr(_ASSORT_R_EXPR).alias("r_ppm"))


# --------------------------------------------------------------------
# Unigram-LM document scoring (CCNet-style perplexity filtering)
# --------------------------------------------------------------------
LM_MIN_COUNT = 2  # vocab cutoff: tokens below this are OOV-smoothed

# Cross-engine determinism: ln() is libm-dependent in general, but the
# score quantizes each DISTINCT (count, total) logprob to integer
# micro-nats BEFORE the per-doc sum, so only ~30 distinct ln() calls
# are ever hashed — verified to agree bit-for-bit between the JVM and
# DuckDB on this corpus with ≥0.02 micro-nat boundary margin (1-ulp
# libm noise is ~2e-9 micro-nats). The per-doc sum is then exact
# BIGINT arithmetic, fold-order-independent; the mean divides the same
# two integers on both engines (identical IEEE result).
_LM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
           AS tok
  FROM documents
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_total FROM toks
), vq AS (
  SELECT tok,
         CAST(round(ln(CAST(count(*) AS DOUBLE) / n_total) * 1e6) AS BIGINT)
           AS logprob_micro
  FROM toks, tot
  GROUP BY tok, n_total
  HAVING count(*) >= {LM_MIN_COUNT}
), oov AS (
  SELECT CAST(round(ln(0.5e0 / n_total) * 1e6) AS BIGINT) AS oov_micro
  FROM tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN logprob_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(sum(coalesce(logprob_micro, oov_micro)) AS BIGINT)
         AS sum_logprob_micro,
       CAST(sum(coalesce(logprob_micro, oov_micro)) AS DOUBLE) / count(*)
         AS mean_logprob_micro
FROM toks LEFT JOIN vq USING (tok), oov
GROUP BY doc_id
"""


@register(
    "text_unigram_logprob",
    oracle=_LM_ORACLE,
    tags=("curation", "quality", "text"),
    doc="Unigram-LM document scoring (the CCNet perplexity-filter "
    "pattern with the corpus itself as the LM): token log-probability "
    "from corpus frequencies, OOV-smoothed below "
    f"count {LM_MIN_COUNT}, summed per doc in quantized micro-nats. "
    "Low mean logprob = rare-token gibberish; high = repetitive "
    "boilerplate — the standard two-sided quality cut. Scale shape: "
    "vocab build is a map-side-combined token groupBy; the scored "
    "pass joins the corpus against the broadcast cutoff vocab (Zipf: "
    "raising LM_MIN_COUNT shrinks the broadcast ~1/k; unhint to let "
    "AQE pick a shuffle join if the vocab outgrows broadcast) — the "
    "corpus itself is never shuffled, and the per-doc agg combines "
    "map-side.",
)
def text_unigram_logprob(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    # Total token count via the vocab partials rather than a second
    # corpus scan: the tok-groupBy exchange is identical in both
    # branches, so Spark reuses it (ReusedExchange) — the exploded
    # corpus is read once for the LM build, once for scoring.
    vocab_all = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab_all.agg(F.sum("cnt").cast("double").alias("n_total"))
    vocab_q = (
        vocab_all.filter(F.col("cnt") >= LM_MIN_COUNT)
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.round(
                F.log(F.col("cnt").cast("double") / F.col("n_total")) * 1e6
            )
            .cast("long")
            .alias("logprob_micro"),
        )
    )
    oov_micro = (
        F.round(F.log(F.lit(0.5) / F.col("n_total")) * 1e6).cast("long")
    )
    scored = (
        toks.join(F.broadcast(vocab_q), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.col("logprob_micro").isNull().cast("int").alias("oov"),
            F.coalesce(F.col("logprob_micro"), oov_micro).alias("lp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("oov").cast("long").alias("oov_tokens"),
        F.sum("lp").cast("long").alias("sum_logprob_micro"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        "sum_logprob_micro",
        (F.col("sum_logprob_micro").cast("double") / F.col("n_tokens"))
        .alias("mean_logprob_micro"),
    )


_LM_BUCKETS = 3  # CCNet head / middle / tail terciles per language

_LM_QUANTILE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
           AS tok
  FROM documents
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_total FROM toks
), vq AS (
  SELECT tok,
         CAST(round(ln(CAST(count(*) AS DOUBLE) / n_total) * 1e6) AS BIGINT)
           AS logprob_micro
  FROM toks, tot
  GROUP BY tok, n_total
  HAVING count(*) >= {LM_MIN_COUNT}
), oov AS (
  SELECT CAST(round(ln(0.5e0 / n_total) * 1e6) AS BIGINT) AS oov_micro
  FROM tot
), perdoc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(coalesce(logprob_micro, oov_micro)) AS BIGINT) AS slp
  FROM toks LEFT JOIN vq USING (tok), oov
  GROUP BY doc_id
), ranked AS (
  SELECT d.lang, p.n_tokens, p.slp,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY CAST(p.slp AS DOUBLE) / p.n_tokens DESC, p.doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS nl
  FROM perdoc p JOIN documents d USING (doc_id)
)
SELECT lang,
       CAST(((rn - 1) * {_LM_BUCKETS}) // nl AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(slp) AS BIGINT) AS sum_logprob_micro
FROM ranked
GROUP BY 1, 2
"""


@register(
    "curation_lm_quantile_buckets",
    oracle=_LM_QUANTILE_ORACLE,
    tags=("curation", "quality", "text", "window"),
    doc="CCNet's perplexity-bucket step: per language, rank documents "
    "by unigram-LM mean log-probability (best first) and cut the "
    f"ranking into {_LM_BUCKETS} equal buckets — head / middle / "
    "tail; CCNet trains on head+middle and drops the tail. Bucket "
    "assignment is exact integer arithmetic over the rank "
    "(((rn-1)·k) div n_lang), and the ordering key is the same "
    "micro-nat integer sum ratio both engines compute identically, "
    "so the whole bucketing is value-hash-checked. Scale shape: the "
    "LM build and per-doc scoring reuse text_unigram_logprob's "
    "never-shuffle-the-corpus design; the ranking then shuffles only "
    "slim (lang, n_tokens, slp) rows, one window per language "
    "partition. At extreme per-language cardinality the exact "
    "row_number ranking is the cost — the mergeable quantile sketch "
    "(agg_quantile_sketch) is the documented approximate path to the "
    "same cut points.",
)
def curation_lm_quantile_buckets(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab_all = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab_all.agg(F.sum("cnt").cast("double").alias("n_total"))
    vocab_q = (
        vocab_all.filter(F.col("cnt") >= LM_MIN_COUNT)
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            F.round(
                F.log(F.col("cnt").cast("double") / F.col("n_total"))
                * 1e6
            )
            .cast("long")
            .alias("logprob_micro"),
        )
    )
    oov_micro = (
        F.round(F.log(F.lit(0.5) / F.col("n_total")) * 1e6).cast("long")
    )
    perdoc = (
        toks.join(F.broadcast(vocab_q), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.coalesce(F.col("logprob_micro"), oov_micro).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lp").cast("long").alias("slp"),
        )
    )
    ranked = perdoc.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "n_tokens",
        "slp",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                (F.col("slp").cast("double") / F.col("n_tokens")).desc(),
                "doc_id",
            )
        )
        .alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("nl"),
    )
    return ranked.select(
        "lang",
        F.expr(f"((rn - 1) * {_LM_BUCKETS}) div nl")
        .cast("bigint")
        .alias("bucket"),
        "n_tokens",
        "slp",
    ).groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("slp").cast("bigint").alias("sum_logprob_micro"),
    )


BIGRAM_MIN_COUNT = 2  # bigram vocab cutoff (below ⇒ OOV-smoothed)

_BIGRAM_LM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i + 1])) AS bg
  FROM toks WHERE len(ts) >= 2
), uni AS (
  SELECT tok, count(*) AS ucnt
  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok
), tot AS (
  SELECT CAST(sum(ucnt) AS DOUBLE) AS n_total FROM uni
), vq AS (
  SELECT b.bg,
         CAST(round(ln(CAST(b.bcnt AS DOUBLE) / CAST(u.ucnt AS DOUBLE))
                    * 1e6) AS BIGINT) AS lp
  FROM (SELECT bg, count(*) AS bcnt FROM grams
        GROUP BY bg HAVING count(*) >= {BIGRAM_MIN_COUNT}) b
  JOIN uni u ON u.tok = string_split(b.bg, ' ')[1]
), oov AS (
  SELECT CAST(round(ln(0.5e0 / n_total) * 1e6) AS BIGINT) AS oov_micro
  FROM tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN lp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_bigrams,
       CAST(sum(coalesce(lp, oov_micro)) AS BIGINT) AS sum_logprob_micro,
       CAST(sum(coalesce(lp, oov_micro)) AS DOUBLE) / count(*)
         AS mean_logprob_micro
FROM grams LEFT JOIN vq USING (bg), oov
GROUP BY doc_id
"""


@register(
    "text_bigram_logprob",
    oracle=_BIGRAM_LM_ORACLE,
    tags=("curation", "quality", "text"),
    doc="Bigram-LM document scoring: logP(t_i | t_(i-1)) = "
    "ln(count(bigram)/count(prefix unigram)) from corpus statistics, "
    f"OOV-smoothed below bigram count {BIGRAM_MIN_COUNT}, summed per "
    "doc in quantized micro-nats (round(ln·1e6) absorbs libm ulp "
    "differences, the text_unigram_logprob pattern one order up). "
    "Sequence-aware where the unigram score is bag-of-words: "
    "word-salad whose unigrams are common still scores low. Scale "
    "shape: bigrams are built per-row with zip_with over offset "
    "slices (no self-join on token position); the bigram vocab is a "
    "map-side-combined groupBy joined once against the unigram "
    "counts (vocab-sized work); the scored pass left-joins the "
    "corpus bigrams against the broadcast cutoff vocab — the corpus "
    "is never shuffled, and the per-doc agg combines map-side.",
)
def text_bigram_logprob(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ts = tokens(F.col("text"))
    # Per-row bigram construction: zip the token array with itself
    # offset by one. Tokens cannot contain spaces, so ' '-joining is
    # an injective pair encoding.
    bgs = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = docs.filter(F.size(ts) >= 2).select(
        "doc_id", F.explode(bgs).alias("bg")
    )
    uni = (
        docs.select(F.explode(ts).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("ucnt"))
    )
    total = uni.agg(F.sum("ucnt").cast("double").alias("n_total"))
    vocab_q = (
        grams.groupBy("bg")
        .agg(F.count("*").alias("bcnt"))
        .filter(F.col("bcnt") >= BIGRAM_MIN_COUNT)
        .join(uni, F.split(F.col("bg"), " ").getItem(0) == F.col("tok"))
        .select(
            "bg",
            F.round(
                F.log(
                    F.col("bcnt").cast("double")
                    / F.col("ucnt").cast("double")
                )
                * 1e6
            )
            .cast("long")
            .alias("lp"),
        )
    )
    oov_micro = (
        F.round(F.log(F.lit(0.5) / F.col("n_total")) * 1e6).cast("long")
    )
    scored = (
        grams.join(F.broadcast(vocab_q), "bg", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.col("lp").isNull().cast("int").alias("oov"),
            F.coalesce(F.col("lp"), oov_micro).alias("lp_eff"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("oov").cast("long").alias("oov_bigrams"),
            F.sum("lp_eff").cast("long").alias("sum_logprob_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "oov_bigrams",
            "sum_logprob_micro",
            (
                F.col("sum_logprob_micro").cast("double")
                / F.col("n_bigrams")
            ).alias("mean_logprob_micro"),
        )
    )


# --------------------------------------------------------------------
# Trigram-LM perplexity scorer (round 10): the add-k-smoothed
# count-based LM — the model-based quality signal next to
# Gopher/CCNet/DSIR, one order up from text_bigram_logprob
# --------------------------------------------------------------------
def trigram_lm_ctes(score_rel: str | None = None) -> str:
    """toks → tg (per-doc trigram instances) → tgc/bgc/vsz (counts)
    → tcost (per-TYPE quantized cost) → docppl (per-doc score) as a
    WITH-clause fragment (no leading WITH, no trailing comma) —
    shared by the standalone scorer oracle and pipeline v4's gate.
    `score_rel`: when given, docppl scores ONLY that relation's
    doc_ids (the LM still trains on the FULL corpus) — the pipeline
    gates read survivor scores alone, and scoring all 10x docs
    through the tg⋈tcost join spilled DuckDB temp past the device
    (round-10 x10 run); the survivor restriction shrinks that join
    by the upstream keep-rate.
    Add-1 smoothing: nll(w3|w1w2) = ln(c2 + V) − ln(c3 + 1),
    quantized per trigram TYPE before the exact per-doc BIGINT sum
    (the text_unigram_logprob boundary-margin discipline).
    toks/tg/tcost are MATERIALIZED: toks is read 3x and tg 2x, and
    when this fragment embeds in the v4 pipeline oracle DuckDB's
    re-inlining of the 10x trigram fan-out spilled temp storage past
    the device (round-10 x10 run) — the CC-oracle lesson applied."""
    from .northstar_queries import _TOKS

    scored_rel = (
        f"(SELECT t.doc_id, t.g FROM tg t"
        f" JOIN {score_rel} k USING (doc_id))"
        if score_rel
        else "tg"
    )
    return f"""toks AS MATERIALIZED (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
tg AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ts) - 2),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
  FROM toks WHERE len(ts) >= 3
),
tgc AS (
  SELECT g, CAST(count(*) AS BIGINT) AS c3 FROM tg GROUP BY g
),
bgc AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ts) - 1),
                  i -> ts[i] || ' ' || ts[i+1])) AS bg
    FROM toks WHERE len(ts) >= 2
  ) GROUP BY bg
),
vsz AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
  FROM (SELECT unnest(ts) AS tok FROM toks)
),
tcost AS MATERIALIZED (
  SELECT t.g,
         CAST(round((ln(CAST(b.c2 + vsz.v AS DOUBLE))
                   - ln(CAST(t.c3 + 1 AS DOUBLE))) * 1000000)
              AS BIGINT) AS nll_micro
  FROM tgc t
  JOIN bgc b ON b.bg = string_split(t.g, ' ')[1] || ' '
                       || string_split(t.g, ' ')[2],
       vsz
),
docppl AS (
  SELECT tg.doc_id,
         CAST(count(*) AS BIGINT) AS n_trigrams,
         CAST(sum(c.nll_micro) AS BIGINT) AS nll_micro,
         CAST(sum(c.nll_micro) // count(*) AS BIGINT) AS logppl_micro
  FROM {scored_rel} tg JOIN tcost c USING (g)
  GROUP BY tg.doc_id
)"""


@register(
    "text_trigram_perplexity",
    oracle=f"""
WITH {trigram_lm_ctes()}
SELECT doc_id, n_trigrams, nll_micro, logppl_micro FROM docppl
""",
    tags=("curation", "quality", "text"),
    doc="Count-based trigram-LM perplexity scorer (add-1 smoothing): "
    "p(w3|w1,w2) = (c3+1)/(c2+V) from corpus statistics, per-doc "
    "total negative log-likelihood and log-perplexity (mean nll) in "
    "integer micro-nats — the model-based quality signal next to "
    "Gopher/CCNet/DSIR: high log-perplexity = the corpus LM finds "
    "the doc surprising (gibberish, wrong-language, OCR noise); "
    "very low = boilerplate the LM has memorized. Each DISTINCT "
    "trigram type's cost quantizes once (round(ln·1e6) absorbs libm "
    "ulp noise); per-doc sums are exact BIGINT. Scale shape: "
    "trigrams build per-row (no position self-join); c3/c2 are "
    "map-side-combined groupBys; the cost table joins the corpus "
    "trigrams on hashed keys (NOT broadcast — an add-k table has no "
    "frequency cutoff, so it scales with distinct trigrams; AQE "
    "picks the strategy) and the per-doc agg combines map-side. "
    "Self-trained, so every applied trigram is in-vocabulary; the "
    "smoothing matters for the probabilities, not coverage.",
)
def text_trigram_perplexity(spark, sf_dir):
    return _trigram_perplexity_frame(
        load_table(spark, sf_dir, "documents")
    )


def _trigram_perplexity_frame(docs):
    """(doc_id, n_trigrams, nll_micro, logppl_micro) — shared by the
    standalone scorer and pipeline v4's LM gate."""
    ts = tokens(F.col("text"))

    def grams(n):
        parts = [
            F.slice(ts, 1 + i, F.size(ts) - (n - 1)) for i in range(n)
        ]
        g = parts[0]
        for p in parts[1:]:
            g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(" "), b))
        return g

    tg = docs.filter(F.size(ts) >= 3).select(
        "doc_id", F.explode(grams(3)).alias("g")
    )
    bg = docs.filter(F.size(ts) >= 2).select(
        "doc_id", F.explode(grams(2)).alias("bg")
    )
    tgc = tg.groupBy("g").agg(F.count("*").cast("bigint").alias("c3"))
    bgc = bg.groupBy("bg").agg(F.count("*").cast("bigint").alias("c2"))
    vsz = docs.select(F.explode(ts).alias("tok")).agg(
        F.count_distinct("tok").cast("bigint").alias("v")
    )
    prefix = F.concat_ws(
        " ",
        F.split(F.col("g"), " ").getItem(0),
        F.split(F.col("g"), " ").getItem(1),
    )
    tcost = (
        tgc.join(bgc, prefix == F.col("bg"))
        .crossJoin(F.broadcast(vsz))
        .select(
            "g",
            F.expr(
                "CAST(round((ln(CAST(c2 + v AS DOUBLE))"
                " - ln(CAST(c3 + 1 AS DOUBLE))) * 1000000) AS BIGINT)"
            ).alias("nll_micro"),
        )
    )
    return (
        tg.join(tcost, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_trigrams"),
            F.sum("nll_micro").cast("bigint").alias("nll_micro"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "nll_micro",
            F.expr("nll_micro div n_trigrams")
            .cast("bigint")
            .alias("logppl_micro"),
        )
    )


# --------------------------------------------------------------------
# Kneser-Ney trigram perplexity (round 10): the interpolated-KN
# companion to the add-1 scorer above — KN is what production LM
# quality filters (CCNet's KenLM stage) actually smooth with
# --------------------------------------------------------------------
# Interpolated Kneser-Ney (Chen & Goodman 1998) with absolute
# discount D = 0.75 (exact binary fraction), every level's
# continuation counts derived from the ONE trigram-type table so the
# model is internally consistent:
#   p(w3|w1w2) = (c3-D)/ctx + (D·n1p/ctx) · p_bi(w3|w2)
#   p_bi(w3|w2) = (ct23-D)/mid2 + (D·fol2/mid2) · pre3/T
# where ctx = Σc3 per (w1,w2), n1p = |{w3}| per (w1,w2), ct23 =
# |{w1}| per (w2,w3), mid2 = #types with middle w2, fol2 = |{w3}| per
# middle w2, pre3 = |{(w1,w2)}| per final w3, T = #types. Self-scored
# corpus ⇒ c3 ≥ 1 ⇒ p > 0 everywhere. The cost expression below is
# ONE string evaluated verbatim by both engines: identical IEEE
# double operation order, so p is bit-identical and round(ln·1e6)
# absorbs the last-ulp libm difference — the established discipline.
_KN_COST = (
    "CAST(round(-ln("
    "(CAST(c3 AS DOUBLE) - 0.75) / CAST(ctx AS DOUBLE)"
    " + ((0.75 * CAST(n1p AS DOUBLE)) / CAST(ctx AS DOUBLE))"
    " * ((CAST(ct23 AS DOUBLE) - 0.75) / CAST(mid2 AS DOUBLE)"
    " + ((0.75 * CAST(fol2 AS DOUBLE)) / CAST(mid2 AS DOUBLE))"
    " * (CAST(pre3 AS DOUBLE) / CAST(tt AS DOUBLE)))"
    ") * 1000000) AS BIGINT)"
)


def kn_lm_ctes(p: str = "kn_", score_rel: str | None = None) -> str:
    """The interpolated-KN trigram model as a WITH-clause fragment
    (no leading WITH, no trailing comma): {p}toks → {p}tg → {p}types
    → count rollups → {p}cost → {p}docppl with per-doc
    (doc_id, n_trigrams, kn_nll_micro, kn_logppl_micro). CTE names
    carry prefix `p` so the fragment composes with the add-1
    fragment (trigram_lm_ctes) in one query without collisions."""
    from .northstar_queries import _TOKS

    scored_rel = (
        f"(SELECT t.doc_id, t.w1, t.w2, t.w3 FROM {p}tg t"
        f" JOIN {score_rel} k USING (doc_id))"
        if score_rel
        else f"{p}tg"
    )
    return f"""{p}toks AS MATERIALIZED (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
{p}tg AS MATERIALIZED (
  SELECT doc_id,
         unnest(ts[1:len(ts)-2]) AS w1,
         unnest(ts[2:len(ts)-1]) AS w2,
         unnest(ts[3:len(ts)]) AS w3
  FROM {p}toks WHERE len(ts) >= 3
),
{p}types AS MATERIALIZED (
  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
  FROM {p}tg GROUP BY 1, 2, 3
),
{p}ctx AS (
  SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS ctx,
         CAST(count(*) AS BIGINT) AS n1p
  FROM {p}types GROUP BY 1, 2
),
{p}mid AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS mid2,
         CAST(count(DISTINCT w3) AS BIGINT) AS fol2
  FROM {p}types GROUP BY 1
),
{p}sfx AS (
  SELECT w2, w3, CAST(count(*) AS BIGINT) AS ct23
  FROM {p}types GROUP BY 1, 2
),
{p}fin AS (
  SELECT w3, CAST(count(*) AS BIGINT) AS pre3
  FROM {p}types GROUP BY 1
),
{p}tot AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM {p}types),
{p}cost AS MATERIALIZED (
  SELECT t.w1, t.w2, t.w3, {_KN_COST} AS nll_micro
  FROM {p}types t
  JOIN {p}ctx USING (w1, w2)
  JOIN {p}mid USING (w2)
  JOIN {p}sfx USING (w2, w3)
  JOIN {p}fin USING (w3), {p}tot
),
{p}docppl AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_trigrams,
         CAST(sum(c.nll_micro) AS BIGINT) AS kn_nll_micro,
         CAST(sum(c.nll_micro) // count(*) AS BIGINT)
           AS kn_logppl_micro
  FROM {scored_rel} g JOIN {p}cost c USING (w1, w2, w3)
  GROUP BY g.doc_id
)"""


def _kn_oracle() -> str:
    return f"""
WITH {kn_lm_ctes()}
SELECT doc_id, n_trigrams, kn_nll_micro, kn_logppl_micro
FROM kn_docppl
"""


@register(
    "text_trigram_kn_perplexity",
    oracle=_kn_oracle(),
    tags=("curation", "quality", "text"),
    doc="Interpolated Kneser-Ney trigram perplexity (D=0.75): the "
    "production-grade smoothing next to text_trigram_perplexity's "
    "add-1 — KN backs off to CONTINUATION counts (in how many "
    "distinct contexts does this word complete an n-gram), the "
    "correction that makes frequent-but-context-bound words "
    "('francisco') cheap only after their contexts, which is what "
    "CCNet-style KenLM quality filters actually use. Every level's "
    "counts derive from the single trigram-type table (internally "
    "consistent back-off); D=0.75 is an exact binary fraction; the "
    "per-type cost is ONE expression string evaluated by both "
    "engines (bit-identical IEEE order) and micro-quantized before "
    "the exact BIGINT per-doc sum. Scale shape: one corpus-wide "
    "type groupBy (map-side combined), four slim rollups OVER the "
    "type table (never the corpus), cost joined back on hashed "
    "type keys, per-doc agg combines map-side; the type table is "
    "staged so its five consumers read one checkpoint.",
)
def text_trigram_kn_perplexity(spark, sf_dir):
    return _kn_perplexity_frame(load_table(spark, sf_dir, "documents"))


def doc_trigrams_frame(docs):
    """(doc_id, w1, w2, w3) — one row per trigram TOKEN of every
    ≥3-token document; the shared staging point of the KN train and
    score halves."""
    ts = tokens(F.col("text"))
    n = F.size("ts")
    return (
        docs.filter(F.size(ts) >= 3)
        .select("doc_id", ts.alias("ts"))
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("ts"), 1, n - 2).alias("w1"),
                    F.slice(F.col("ts"), 2, n - 2).alias("w2"),
                    F.slice(F.col("ts"), 3, n - 2).alias("w3"),
                )
            ).alias("z"),
        )
        .select(
            "doc_id",
            F.col("z.w1").alias("w1"),
            F.col("z.w2").alias("w2"),
            F.col("z.w3").alias("w3"),
        )
        .transform(stage)
    )


def _kn_perplexity_frame(docs):
    """(doc_id, n_trigrams, kn_nll_micro, kn_logppl_micro) — shared
    by the standalone scorer and the rank-agreement query. Split
    into `doc_trigrams_frame` → `kn_cost_frame` (train) →
    `kn_score_frame` (apply) so the streaming admission gate can
    freeze the cost table as broadcast model state (the classifier-
    weights discipline) and score each micro-batch against it; this
    composition is the identical plan those halves came from."""
    tg = doc_trigrams_frame(docs)
    return kn_score_frame(tg, kn_cost_frame(tg))


def kn_cost_frame(tg):
    """TRAIN half: the interpolated-KN per-trigram-type cost table
    (w1, w2, w3, nll_micro) from a (doc_id, w1, w2, w3) trigram
    frame — every back-off level's continuation counts derived from
    the ONE trigram-type table, cost as the shared `_KN_COST`
    micro-nat expression. This is the gate's MODEL STATE: |V|³-
    bounded in theory, trigram-TYPE-bounded in fact."""
    types = (
        tg.groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("bigint").alias("c3"))
        .transform(stage)
    )
    ctx = types.groupBy("w1", "w2").agg(
        F.sum("c3").cast("bigint").alias("ctx"),
        F.count("*").cast("bigint").alias("n1p"),
    )
    mid = types.groupBy("w2").agg(
        F.count("*").cast("bigint").alias("mid2"),
        F.count_distinct("w3").cast("bigint").alias("fol2"),
    )
    sfx = types.groupBy("w2", "w3").agg(
        F.count("*").cast("bigint").alias("ct23")
    )
    fin = types.groupBy("w3").agg(
        F.count("*").cast("bigint").alias("pre3")
    )
    tot = types.agg(F.count("*").cast("bigint").alias("tt"))
    return (
        types.join(ctx, ["w1", "w2"])
        .join(mid, ["w2"])
        .join(sfx, ["w2", "w3"])
        .join(fin, ["w3"])
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "w3", F.expr(_KN_COST).alias("nll_micro"))
    )


def kn_score_frame(tg, tcost):
    """APPLY half: per-doc KN scores (doc_id, n_trigrams,
    kn_nll_micro, kn_logppl_micro) for a (doc_id, w1, w2, w3)
    trigram frame against a frozen cost table. Inner join: trigram
    types absent from the model contribute nothing (impossible when
    the model was trained on the same corpus — the batch-pipeline
    case; for a frozen model scoring NEW text, unseen types are
    skipped and the perplexity is over seen types only, the
    documented streaming-gate semantics)."""
    return (
        tg.join(tcost, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_trigrams"),
            F.sum("nll_micro").cast("bigint").alias("kn_nll_micro"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "kn_nll_micro",
            F.expr("kn_nll_micro div n_trigrams")
            .cast("bigint")
            .alias("kn_logppl_micro"),
        )
    )


# rho_ppm's exact-integer form needs 10⁶·n·(n²−1) < 2⁶³ → n ≤ 20_000
# per source; the Spark side enforces it loudly (see the guard below).
RHO_PPM_MAX_N = 20_000


def _rank_agreement_oracle() -> str:
    return f"""
WITH {trigram_lm_ctes()},
{kn_lm_ctes()},
j AS (
  SELECT d.source, a.doc_id, a.logppl_micro AS s1,
         k.kn_logppl_micro AS s2
  FROM docppl a
  JOIN kn_docppl k USING (doc_id)
  JOIN documents d USING (doc_id)
),
rk AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
                            ORDER BY s1, doc_id) AS r1,
         row_number() OVER (PARTITION BY source
                            ORDER BY s2, doc_id) AS r2
  FROM j
),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
  FROM rk GROUP BY 1
)
SELECT source, n, sum_d2,
       CAST((1000000 * (n * (n * n - 1) - 6 * sum_d2))
            // (n * (n * n - 1)) AS BIGINT) AS rho_ppm
FROM agg WHERE n >= 2
"""


@register(
    "curation_lm_rank_agreement",
    oracle=_rank_agreement_oracle(),
    tags=("curation", "evaluation", "statistics", "quality"),
    doc="Spearman rank agreement between the two LM quality scorers "
    "(add-1 vs interpolated-KN trigram log-perplexity), per source: "
    "do the smoothing methods ORDER documents the same way — the "
    "question that decides whether upgrading the gate's LM changes "
    "which documents a curation pipeline keeps. ρ = 1 − 6Σd²/"
    "(n(n²−1)) is an exact rational of exact integer ranks "
    "(row_number with doc_id tie-breaks), emitted as truncated ppm — "
    "no floating point anywhere, both engines agree bit-for-bit. "
    "Scale shape: both scorer subplans are the shared corpus-level "
    "frames; ranking windows PARTITION BY source (never one global "
    "sort — the source is the parallel unit; sub-shard with the "
    "range-prefix-sum trick at larger per-source counts); the "
    "int64 headroom bound n ≤ 20k per source (10⁶·n³ < 2⁶³) is "
    "ENFORCED with a loud raise_error guard, not just documented.",
)
def curation_lm_rank_agreement(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    add1 = _trigram_perplexity_frame(docs).select(
        "doc_id", F.col("logppl_micro").alias("s1")
    )
    kn = _kn_perplexity_frame(docs).select(
        "doc_id", F.col("kn_logppl_micro").alias("s2")
    )
    j = (
        add1.join(kn, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    w1 = Window.partitionBy("source").orderBy("s1", "doc_id")
    w2 = Window.partitionBy("source").orderBy("s2", "doc_id")
    rk = j.select(
        "source",
        F.row_number().over(w1).alias("r1"),
        F.row_number().over(w2).alias("r2"),
    )
    agg = rk.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("(r1 - r2) * (r1 - r2)"))
        .cast("bigint")
        .alias("sum_d2"),
    )
    # Loud int64-headroom guard (winnow discipline): 10⁶·n·(n²−1)
    # needs n ≤ 20_000 to stay inside 2⁶³ — beyond that the product
    # would throw under ANSI or silently wrap otherwise. The
    # when/otherwise keeps raise_error off the evaluated path for
    # every compliant row, so pinned hashes are untouched; at a
    # larger per-source count the query now FAILS NAMING THE FIX
    # (sub-shard ranks with the range-prefix-sum trick) instead of
    # emitting a wrong rho_ppm.
    agg = agg.withColumn(
        "n",
        F.when(F.col("n") <= F.lit(RHO_PPM_MAX_N), F.col("n")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("curation_lm_rank_agreement: source "),
                    F.col("source"),
                    F.lit(" has n = "),
                    F.col("n").cast("string"),
                    F.lit(
                        f" > {RHO_PPM_MAX_N}; 1e6*n*(n^2-1) exceeds"
                        " int64 — sub-shard the per-source ranking"
                        " (range prefix-sum) before computing rho"
                    ),
                )
            ).cast("bigint")
        ),
    )
    return agg.filter(F.col("n") >= 2).select(
        "source",
        "n",
        "sum_d2",
        F.expr(
            "CAST((1000000 * (n * (n * n - 1) - 6 * sum_d2))"
            " div (n * (n * n - 1)) AS BIGINT)"
        ).alias("rho_ppm"),
    )


# --------------------------------------------------------------------
# BM25 retrieval scoring (quality-classifier / nearest-benchmark
# retrieval pattern)
# --------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
# Terms span the corpus df range: 'dup' is discriminative (~5% df),
# the rest are common — so idf weighting, not raw tf, decides the
# ranking and the query actually exercises the scoring model.
BM25_QUERY_TERMS = ("dup", "window", "stream", "spark")
BM25_TOPK = 20

# Cross-engine determinism: the ONLY transcendental is ln() in the
# idf, computed once per query term (4 distinct values), quantized to
# integer micro-nats with boundary margin asserted by
# tests/test_operators.py::test_bm25_idf_quantization_margin. All
# other arithmetic is IEEE-754 double +,-,*,/ written with IDENTICAL
# parenthesization on both engines (exact-rounded ops on identical
# inputs are bit-identical), then rounded to integer micro-units, so
# the per-doc sum is exact BIGINT arithmetic. Lucene's ln(1 + ...)
# idf variant keeps every score positive, so HALF_UP (Spark) and
# half-away-from-zero (DuckDB) rounding agree.
_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
           AS tok
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         CAST(count(*) AS DOUBLE) AS n_docs
  FROM dl
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN {BM25_QUERY_TERMS!r}
  GROUP BY doc_id, tok
), idf AS (
  SELECT tok,
         CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6)
              AS BIGINT) AS idf_micro
  FROM (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
       AS dfq, stats
), scored AS (
  SELECT tf.doc_id,
         CAST(round(CAST(idf_micro AS DOUBLE) *
              ((CAST(tf AS DOUBLE) * {BM25_K1 + 1.0!r}) /
               (CAST(tf AS DOUBLE) + {BM25_K1!r} *
                ({1.0 - BM25_B!r} + {BM25_B!r} *
                 (CAST(dl AS DOUBLE) / avgdl))))) AS BIGINT) AS s_micro
  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), stats
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS terms_hit,
       CAST(sum(s_micro) AS BIGINT) AS score_micro
FROM scored GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT {BM25_TOPK}
"""


@register(
    "text_bm25_topk",
    oracle=_BM25_ORACLE,
    tags=("curation", "ranking", "text"),
    doc="BM25 top-k retrieval over the corpus for a fixed term query "
    "(Lucene idf variant, k1=1.2 b=0.75) — the scoring half of "
    "retrieval-based curation: rank training docs against a probe "
    "query (benchmark contamination probes, quality-classifier "
    "nearest-neighbor seeds). Scores quantized to integer micro-units "
    "so ranking and hash are engine-exact. Scale shape: ONE corpus "
    "token shuffle (per-doc tf vector via map-side-combined groupBy), "
    "then everything downstream is doc-sized or term-sized; idf/avgdl "
    "are broadcast one-row frames; top-k is TakeOrderedAndProject, "
    "never a global sort.",
)
def text_bm25_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    # One corpus-wide groupBy: per-doc length AND per-query-term tf in
    # the same map-side-combined aggregation — the token explosion is
    # never shuffled, only (doc_id, dl, tf...) partials are.
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum((F.col("tok") == t).cast("long")).alias(f"tf_{i}")
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    )
    stats = per_doc.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").cast("double").alias("n_docs"),
    )
    stack_args = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(BM25_QUERY_TERMS)
    )
    melted = per_doc.select(
        "doc_id",
        "dl",
        F.expr(
            f"stack({len(BM25_QUERY_TERMS)}, {stack_args}) AS (tok, tf)"
        ),
    ).filter(F.col("tf") > 0)
    idf = (
        melted.groupBy("tok")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "tok",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * 1e6
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = (
        melted.join(F.broadcast(idf), "tok")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            F.round(
                F.col("idf_micro").cast("double")
                * (
                    (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0))
                    / (
                        F.col("tf").cast("double")
                        + F.lit(BM25_K1)
                        * (
                            F.lit(1.0 - BM25_B)
                            + F.lit(BM25_B)
                            * (F.col("dl").cast("double") / F.col("avgdl"))
                        )
                    )
                )
            )
            .cast("long")
            .alias("s_micro"),
        )
    )
    per_doc_score = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("terms_hit"),
        F.sum("s_micro").cast("long").alias("score_micro"),
    )
    return per_doc_score.orderBy(
        F.col("score_micro").desc(), "doc_id"
    ).limit(BM25_TOPK)


# --------------------------------------------------------------------
# Weak-supervision quality classifier (fixed-point logistic GD)
# --------------------------------------------------------------------
def qc_oracle_fragments() -> tuple[str, str, str, str]:
    """Shared DuckDB CTE fragments for the fixed-point GD classifier
    — returned as (feats_ctes, gd_ctes, p_expr, final_w_cte) so both
    `quality_classifier_train`'s oracle and the learned-gate pipeline
    oracle (`pipeline_training_corpus_v2`, plans/training_queries.py)
    unroll the IDENTICAL training computation. `feats_ctes` defines
    raw → derived → hinge → feats (per-doc, WITH doc_id — training
    aggregates ignore it, the serving join needs it); `gd_ctes`
    defines w0 and the unrolled g1/w1 … chain ending at
    `final_w_cte`; `p_expr` is the hard-sigmoid over a feats row
    joined with a weight row. Identical milli/micro scaling,
    hard-sigmoid clamp, and truncating division (DuckDB `//` and
    Spark `div` both truncate toward zero) as
    operators/classifier.py. Gradient sums are HUGEINT in DuckDB;
    cast to BIGINT immediately so the update arithmetic matches
    Spark's int64 exactly."""
    from ..operators import classifier as C

    toks = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
    sw = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    punct_re = "[^.,;:!?''\"()-]"  # doubled quote for the SQL literal
    z = " + ".join(
        f"{w} * {x}"
        for (_, w), x in zip(C.WEIGHT_COLS, C.FEATURE_COLS)
    )
    p = f"least(greatest(500 + ({z}) // {4 * C.Q}, 0), {C.S})"
    epochs = []
    prev = "w0"
    for t in range(1, C.EPOCHS + 1):
        gsums = ", ".join(
            f"CAST(sum(d * {x}) AS BIGINT) AS g_{w}"
            for (_, w), x in zip(C.WEIGHT_COLS, C.FEATURE_COLS)
        )
        upd = ", ".join(
            f"CAST({w} - ({C.LR_NUM} * (coalesce(g_{w}, 0)"
            f" // greatest(n, 1))) // {C.LR_DEN} AS BIGINT) AS {w}"
            for _, w in C.WEIGHT_COLS
        )
        epochs.append(
            f"g{t} AS (SELECT count(*) AS n, {gsums} FROM"
            f" (SELECT f.*, ({p}) - y AS d FROM feats f, {prev})),\n"
            f"w{t} AS (SELECT {upd} FROM {prev}, g{t})"
        )
        prev = f"w{t}"
    feats_ctes = f"""raw AS (
  SELECT doc_id,
         CAST(len({toks}) AS BIGINT) AS n_tok,
         CAST(len(list_filter({toks}, t -> list_contains([{sw}], t)))
           AS BIGINT) AS n_sw,
         CAST(greatest(length(text), 1) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
           AS BIGINT) AS n_digit,
         CAST(length(regexp_replace(text, '{punct_re}', '', 'g'))
           AS BIGINT) AS n_punct
  FROM documents
), derived AS (
  SELECT doc_id, n_tok,
         (n_sw * {C.S}) // greatest(n_tok, 1) AS swm,
         (n_digit * {C.S}) // n_chars
           + (n_punct * {C.S}) // n_chars AS noise
  FROM raw
), hinge AS (
  SELECT doc_id,
         CAST({C.S} AS BIGINT) AS x_bias,
         CAST(least(greatest({C.MIN_TOKENS} - n_tok, 0) * 200, {C.S})
           AS BIGINT) AS x_short,
         CAST(least(greatest({C.SW_LO} - swm, 0) * 20, {C.S})
           AS BIGINT) AS x_sw_lo,
         CAST(least(greatest(swm - {C.SW_HI}, 0) * 2, {C.S})
           AS BIGINT) AS x_sw_hi,
         CAST(least(greatest(noise - {C.NOISE_MAX - 1}, 0), {C.S})
           AS BIGINT) AS x_noise
  FROM derived
), feats AS (
  SELECT *,
         CAST(CASE WHEN x_short = 0 AND x_sw_lo = 0
                    AND x_sw_hi = 0 AND x_noise = 0
              THEN {C.S} ELSE 0 END AS BIGINT) AS y
  FROM hinge
)"""
    gd_ctes = (
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS {w}" for _, w in C.WEIGHT_COLS)
        + "),\n"
        + ",".join(epochs)
    )
    return feats_ctes, gd_ctes, p, prev


def _qc_oracle() -> str:
    """The train-audit oracle, assembled from the shared fragments
    (see qc_oracle_fragments)."""
    from ..operators import classifier as C

    feats_ctes, gd_ctes, p, prev = qc_oracle_fragments()
    cut = C.QUALITY_MIN_P
    weight_rows = "\nUNION ALL ".join(
        f"SELECT '{m}' AS metric, {w} AS value FROM {prev}"
        for m, w in C.WEIGHT_COLS
    )
    return f"""
WITH {feats_ctes},
{gd_ctes},
pred AS (SELECT y, {p} AS p FROM feats f, {prev})
{weight_rows}
UNION ALL SELECT 'n_docs', count(*) FROM feats
UNION ALL SELECT 'n_label_pos',
  CAST(coalesce(sum(CASE WHEN y = {C.S} THEN 1 ELSE 0 END), 0)
    AS BIGINT) FROM feats
UNION ALL SELECT 'n_pred_pos',
  CAST(coalesce(sum(CASE WHEN p > {cut} THEN 1 ELSE 0 END), 0)
    AS BIGINT) FROM pred
UNION ALL SELECT 'n_true_pos',
  CAST(coalesce(sum(CASE WHEN p > {cut} AND y = {C.S} THEN 1 ELSE 0 END),
    0) AS BIGINT) FROM pred
"""


@register(
    "quality_classifier_train",
    oracle=_qc_oracle(),
    tags=("curation", "quality", "iterative", "ml"),
    doc="Weak-supervision quality classifier: fixed-point logistic "
    "regression (hard-sigmoid link, micro-unit integer weights, "
    "hinge violation features — the rule's stopword BAND is not "
    "linearly separable in the raw ratio) trained by 8 unrolled "
    "epochs of full-batch gradient descent — the CCNet-style "
    "rule-teacher/linear-student curation pattern. "
    "Each epoch is ONE map-side-combined aggregation of a slim, "
    "once-checkpointed integer feature table down to a single "
    "gradient row (the corpus is never shuffled); the 9-row output "
    "(learned weights + label/prediction audit counts) value-hashes "
    "the entire iterative computation bit-for-bit against the "
    "oracle's unrolled CTEs.",
)
def quality_classifier_train(spark, sf_dir):
    from ..operators.classifier import train_quality_classifier

    return train_quality_classifier(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------
# Distributed K-means over embeddings (fixed-point Lloyd's)
# --------------------------------------------------------------------
# The corpus's int8 codes: the head CTEs (q, codes) of the K-means,
# PQ and residual-PQ oracles.
_INT8_CODES_CTES = int8_code_ctes()


def _kmeans_cte_prefix(k_sql: str | None = None) -> tuple[str, str]:
    """The unrolled fixed-point K-means as a DuckDB WITH-clause
    prefix, shared by the `embedding_kmeans_clusters` oracle and the
    SemDeDup oracle (which continues the chain with per-cluster pair
    scoring). Returns (prefix, final_centroid_cte_name); the prefix
    ends at `asg_f` (final assignment) with no trailing comma.

    `k_sql` overrides the seed-count LIMIT (default: the fixed KM_K
    literal, byte-identical to the pre-parameterized text so the
    kmeans pin survives); SemDeDup passes a scalar subquery that
    sizes K from the corpus.

    Mirrors operators/clustering.py exactly: the hash-verified
    absmax/floor int8 quantization, exploded (vec_id, dim, val)
    representation, exact integer squared-L2 distances, QUALIFY
    row_number argmin with the same (dist, cid) tiebreak,
    truncating-integer centroid means (`//` = Spark `div`), empty
    clusters keeping their previous coordinates. HUGEINT sums cast
    to BIGINT before the division so the arithmetic matches Spark's
    int64."""
    from ..operators import clustering as KM

    if k_sql is None:
        k_sql = str(KM.KM_K)
    its = []
    prev = "cent0"
    for t in range(1, KM.KM_ITERS + 1):
        its.append(f"""
d{t} AS (
  SELECT f.vec_id, c.cid,
         sum((f.val - c.cval) * (f.val - c.cval)) AS dist
  FROM flat f JOIN {prev} c USING (dim)
  GROUP BY f.vec_id, c.cid
),
asg{t} AS (
  SELECT vec_id, cid FROM d{t}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
),
cent{t} AS (
  SELECT c.cid, c.dim, coalesce(u.nval, c.cval) AS cval
  FROM {prev} c LEFT JOIN (
    SELECT a.cid, f.dim,
           CAST(sum(f.val) AS BIGINT) // count(*) AS nval
    FROM asg{t} a JOIN flat f USING (vec_id)
    GROUP BY a.cid, f.dim
  ) u ON u.cid = c.cid AND u.dim = c.dim
)""")
        prev = f"cent{t}"
    prefix = f"""
WITH {_INT8_CODES_CTES},
flat AS (
  SELECT vec_id,
         CAST(unnest(range(len(code))) AS BIGINT) AS dim,
         unnest(code) AS val
  FROM codes
),
seeds AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
  FROM (SELECT vec_id FROM codes ORDER BY vec_id LIMIT {k_sql})
),
cent0 AS (
  SELECT s.cid, f.dim, f.val AS cval FROM seeds s JOIN flat f USING (vec_id)
),
{",".join(its)},
df_ AS (
  SELECT f.vec_id, c.cid,
         sum((f.val - c.cval) * (f.val - c.cval)) AS dist
  FROM flat f JOIN {prev} c USING (dim)
  GROUP BY f.vec_id, c.cid
),
asg_f AS (
  SELECT vec_id, cid FROM df_
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
)"""
    return prefix, prev


def _kmeans_oracle() -> str:
    prefix, prev = _kmeans_cte_prefix()
    return f"""{prefix}
SELECT c.cid, c.dim, CAST(c.cval AS BIGINT) AS cval,
       CAST(coalesce(n.n_members, 0) AS BIGINT) AS n_members
FROM {prev} c LEFT JOIN (
  SELECT cid, count(*) AS n_members FROM asg_f GROUP BY cid
) n USING (cid)
"""


@register(
    "embedding_kmeans_clusters",
    oracle=_kmeans_oracle(),
    tags=("curation", "embedding", "clustering", "iterative", "ml"),
    doc="Distributed K-means over int8-quantized embeddings, "
    "bit-exact: 3 unrolled Lloyd's rounds (product quantization's "
    "loop with one subspace) where assignment is an Arrow numpy "
    "argmin against the driver-side centroids (the corpus never "
    "shuffles) and the update shuffles only map-side-combined "
    "(cid, dim) partial sums — "
    "O(partitions × K × d) per round. Integer squared-L2 distances, "
    "truncating-integer means, smallest-cid tiebreaks; every "
    "centroid coordinate + final cluster sizes value-hash against "
    "the oracle's unrolled CTEs. Complements the IVF build, whose "
    "per-list refinement is driver-side model state by design.",
)
def embedding_kmeans_clusters(spark, sf_dir):
    from ..operators.clustering import kmeans_audit

    return kmeans_audit(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------
# Semantic deduplication (SemDeDup: cluster-bucketed near-dup removal)
# --------------------------------------------------------------------
def _semdedup_oracle() -> str:
    """Continues the K-means CTE chain with the quantized-exact
    per-cluster pair scoring of operators/semdedup.py: 1e8
    floor-quantized integer dot/norm sums (the `dedup_embedding_cosine`
    formula), pairs restricted to a shared cluster, keep-lowest-id
    duplicate rule."""
    from ..operators import clustering as KM
    from ..operators.semdedup import SEMDEDUP_T, SEMDEDUP_TARGET
    from ..operators.similarity import QUANT

    k_sql = (
        f"(SELECT greatest({KM.KM_K}, CAST(ceil(count(*) /"
        f" {SEMDEDUP_TARGET}.0) AS BIGINT)) FROM codes)"
    )
    prefix, _ = _kmeans_cte_prefix(k_sql)
    return f"""{prefix},
norms AS (
  SELECT vec_id,
         sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {QUANT})
             AS BIGINT)) AS qn
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
members AS (
  SELECT f.vec_id, f.cid, e.embedding, n.qn
  FROM asg_f f
  JOIN embeddings e USING (vec_id)
  JOIN norms n USING (vec_id)
  WHERE n.qn > 0
),
prods AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.qn AS na, b.qn AS nb,
         unnest(a.embedding) AS xa, unnest(b.embedding) AS xb
  FROM members a JOIN members b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
),
close AS (
  SELECT vb AS vec_id
  FROM (
    SELECT va, vb, na, nb,
           sum(CAST(floor(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)
               * {QUANT}) AS BIGINT)) AS qd
    FROM prods GROUP BY va, vb, na, nb
  )
  WHERE CAST(qd AS DOUBLE)
        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        >= {SEMDEDUP_T}
),
prior AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_close_prior
  FROM close GROUP BY vec_id
)
SELECT CAST(f.vec_id AS BIGINT) AS vec_id,
       CAST(f.cid AS BIGINT) AS cid,
       coalesce(p.n_close_prior, 0) AS n_close_prior,
       CAST(CASE WHEN coalesce(p.n_close_prior, 0) > 0
            THEN 1 ELSE 0 END AS BIGINT) AS is_dup
FROM asg_f f LEFT JOIN prior p USING (vec_id)
"""


@register(
    "dedup_semantic_clusters",
    oracle=_semdedup_oracle(),
    tags=("curation", "dedup", "embedding", "clustering", "iterative"),
    doc="SemDeDup (Abbas et al. 2023): semantic near-dup removal "
    "bucketed by the certified fixed-point K-means — cosine pairs "
    "are scored ONLY within a cluster, turning the global O(n²) "
    "all-pairs problem into K independent per-cluster problems "
    "whose size stays bounded as K grows with the corpus. The "
    "corpus shuffles once per side on cid (and not at all when "
    "vectors were cluster-routed at ingest by assign_stream); "
    "scoring is the same quantized-exact cosine as "
    "dedup_embedding_cosine, so clustering + pairing + keep-lowest-"
    "id flags value-hash end to end against the oracle's unrolled "
    "K-means CTEs.",
)
def dedup_semantic_clusters(spark, sf_dir):
    from ..operators.semdedup import semantic_dup_flags

    return semantic_dup_flags(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------
# Gopher quality-rule suite (Rae et al. 2021, appendix A1)
# --------------------------------------------------------------------
# Thresholds adapted to the synthetic corpus so every rule actually
# discriminates (the paper's [3, 10] mean-word-length band would pass
# 100% of this vocabulary); each bound is documented next to the
# paper's original. All comparisons are exact integer arithmetic —
# mean word length is tested as sum_chars*10 vs bound*n_tok, never as
# a float division — so the per-rule counts value-hash bit-exactly.
GOPHER_MIN_WORDS = 30  # paper: 50
GOPHER_MAX_WORDS = 100_000  # paper: 100k
GOPHER_MWL_MIN_X10 = 44  # mean word length >= 4.4 (paper: 3)
GOPHER_MWL_MAX_X10 = 100  # mean word length <= 10 (paper: 10)
GOPHER_TOP_FRAC_DEN = 8  # most-frequent word <= 1/8 of tokens
GOPHER_STOP_WORDS = ("the", "a")  # paper: 2+ of a curated stop list
GOPHER_MIN_STOP = 2

_GOPHER_SW = ", ".join(f"'{w}'" for w in GOPHER_STOP_WORDS)

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(lower(text), ' '),
                            x -> x <> '')) AS tok
  FROM documents
), c AS (
  SELECT doc_id, lang, tok, count(*) AS c
  FROM t GROUP BY doc_id, lang, tok
), d AS (
  SELECT doc_id, lang,
         CAST(sum(c) AS BIGINT) AS n_tok,
         CAST(max(c) AS BIGINT) AS max_c,
         CAST(sum(len(tok) * c) AS BIGINT) AS sum_chars,
         CAST(sum(CASE WHEN tok IN ({_GOPHER_SW}) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_stop
  FROM c GROUP BY doc_id, lang
), r AS (
  SELECT lang,
         (n_tok >= {GOPHER_MIN_WORDS}
          AND n_tok <= {GOPHER_MAX_WORDS}) AS ok_words,
         (sum_chars * 10 >= {GOPHER_MWL_MIN_X10} * n_tok
          AND sum_chars * 10 <= {GOPHER_MWL_MAX_X10} * n_tok)
           AS ok_wordlen,
         (max_c * {GOPHER_TOP_FRAC_DEN} <= n_tok) AS ok_topfrac,
         (n_stop >= {GOPHER_MIN_STOP}) AS ok_stopwords
  FROM d
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ok_words THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_words,
       CAST(sum(CASE WHEN ok_wordlen THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_wordlen,
       CAST(sum(CASE WHEN ok_topfrac THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_topfrac,
       CAST(sum(CASE WHEN ok_stopwords THEN 0 ELSE 1 END) AS BIGINT)
         AS fail_stopwords,
       CAST(sum(CASE WHEN ok_words AND ok_wordlen AND ok_topfrac
                      AND ok_stopwords THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep
FROM r GROUP BY lang
"""


@register(
    "curation_gopher_rules",
    oracle=_GOPHER_ORACLE,
    tags=("curation", "quality", "text"),
    doc="Gopher rule-based quality suite (Rae et al. 2021 A1): "
    "word-count bounds, mean-word-length band, most-frequent-word "
    "fraction cap, and minimum distinct stopwords, reported as "
    "per-language per-rule failure counts plus the all-rules keep "
    "count. One corpus scan: explode → per-(doc, token) counts "
    "(map-side combine collapses each partition's token runs before "
    "the exchange) → per-doc stats → per-lang rollup; shuffle rows "
    "shrink at every stage and the corpus text never moves twice. "
    "Every signal — including mean word length — is exact integer "
    "arithmetic, so the suite value-hashes with no float drift.",
)
def curation_gopher_rules(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    cnt = tok.groupBy("doc_id", "lang", "tok").agg(
        F.count("*").alias("c")
    )
    stop_set = F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS])
    per_doc = cnt.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.max("c").cast("bigint").alias("max_c"),
        F.sum(F.length("tok") * F.col("c"))
        .cast("bigint")
        .alias("sum_chars"),
        F.sum(
            F.when(F.array_contains(stop_set, F.col("tok")), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_stop"),
    )
    ok_words = (F.col("n_tok") >= GOPHER_MIN_WORDS) & (
        F.col("n_tok") <= GOPHER_MAX_WORDS
    )
    ok_wordlen = (
        F.col("sum_chars") * 10 >= GOPHER_MWL_MIN_X10 * F.col("n_tok")
    ) & (F.col("sum_chars") * 10 <= GOPHER_MWL_MAX_X10 * F.col("n_tok"))
    ok_topfrac = F.col("max_c") * GOPHER_TOP_FRAC_DEN <= F.col("n_tok")
    ok_stop = F.col("n_stop") >= GOPHER_MIN_STOP
    flags = per_doc.select(
        "lang",
        ok_words.alias("ok_words"),
        ok_wordlen.alias("ok_wordlen"),
        ok_topfrac.alias("ok_topfrac"),
        ok_stop.alias("ok_stopwords"),
    )
    return flags.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("ok_words"), 0).otherwise(1))
        .cast("bigint")
        .alias("fail_words"),
        F.sum(F.when(F.col("ok_wordlen"), 0).otherwise(1))
        .cast("bigint")
        .alias("fail_wordlen"),
        F.sum(F.when(F.col("ok_topfrac"), 0).otherwise(1))
        .cast("bigint")
        .alias("fail_topfrac"),
        F.sum(F.when(F.col("ok_stopwords"), 0).otherwise(1))
        .cast("bigint")
        .alias("fail_stopwords"),
        F.sum(
            F.when(
                F.col("ok_words")
                & F.col("ok_wordlen")
                & F.col("ok_topfrac")
                & F.col("ok_stopwords"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_keep"),
    )


# ---------------------------------------------------------------------------
# Gopher REPETITION suite (round 12): the MassiveText repetition
# filters (Rae et al. 2021 A1.1) the rules suite doesn't cover — the
# fraction of a document's characters covered by its most frequent
# n-gram (n = 2, 3, 4) and by all DUPLICATED n-grams (n = 5, 10).
# Occurrence-weighted coverage (count · ngram chars, Gopher's own
# accounting — overlaps are not de-duplicated), exact integer ppm.
# ---------------------------------------------------------------------------
GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 10)


def _gopher_repetition_oracle() -> str:
    gram_selects = []
    for n in (*GOPHER_TOP_NS, *GOPHER_DUP_NS):
        gram_selects.append(f"""  SELECT doc_id, nch, CAST({n} AS BIGINT) AS n, unnest(
    list_transform(generate_series(1, greatest(len(ts) - {n - 1}, 0)),
                   i -> array_to_string(list_slice(ts, i, i + {n - 1}),
                                        ' '))) AS g
  FROM toks""")
    grams_sql = "\n  UNION ALL\n".join(gram_selects)
    top_cols = ",\n".join(
        f"""       CAST(coalesce(max(CASE WHEN p.n = {n} THEN p.top_cov END)
              * 1000000 // greatest(d.nch, 1), 0) AS BIGINT)
         AS top{n}_ppm"""
        for n in GOPHER_TOP_NS
    )
    dup_cols = ",\n".join(
        f"""       CAST(coalesce(max(CASE WHEN p.n = {n} THEN p.dup_cov END)
              * 1000000 // greatest(d.nch, 1), 0) AS BIGINT)
         AS dup{n}_ppm"""
        for n in GOPHER_DUP_NS
    )
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS nch,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents
),
grams AS (
{grams_sql}
),
tf AS (
  SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c,
         CAST(count(*) * length(g) AS BIGINT) AS cov
  FROM grams GROUP BY doc_id, n, g
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n
                               ORDER BY c DESC, g) AS rn
  FROM tf
),
per_n AS (
  SELECT doc_id, n,
         CAST(max(CASE WHEN rn = 1 THEN cov END) AS BIGINT) AS top_cov,
         CAST(sum(CASE WHEN c >= 2 THEN cov ELSE 0 END) AS BIGINT)
           AS dup_cov
  FROM ranked GROUP BY doc_id, n
)
SELECT d.doc_id,
{top_cols},
{dup_cols}
FROM (SELECT doc_id, nch FROM toks) d
LEFT JOIN per_n p ON p.doc_id = d.doc_id
GROUP BY d.doc_id, d.nch
"""


@register(
    "curation_gopher_repetition",
    oracle=_gopher_repetition_oracle(),
    tags=("curation", "quality", "text"),
    doc="Gopher/MassiveText repetition filters (Rae et al. 2021 "
    "A1.1) — the signals the rules suite doesn't cover: per "
    "document, the character-coverage fraction of the single most "
    "frequent n-gram for n ∈ {2,3,4} (looping/boilerplate text "
    "repeats one phrase) and of ALL duplicated n-grams for n ∈ "
    "{5,10} (templated text repeats long spans). Coverage is "
    "Gopher's own occurrence-weighted accounting (count · n-gram "
    "chars; overlaps not de-duplicated), reported in exact integer "
    "ppm of the document's characters — ties on the top n-gram "
    "break (count DESC, gram), so every value hashes across "
    "engines. Scale shape (round 13): one doc_id-keyed fan-out of "
    "the raw text, then ONE tokenization pass emits all five "
    "families via literal-n gram arrays + stack(); every later "
    "grouping keys on doc_id, so the fanned partitioning carries "
    "the whole pipeline with no further exchange. The corpus text "
    "moves once.",
)
def curation_gopher_repetition(spark, sf_dir):
    from ..io import ensure_min_parallelism

    docs = load_table(spark, sf_dir, "documents")
    # Fan the RAW text out BY doc_id BEFORE tokenizing. Two effects
    # (measured ×10, round-13 probe): (a) the regex tokenization
    # runs at session parallelism instead of the scan's split count
    # (tokenize-before-exchange was a 2-task 4.8 s/task stage), and
    # (b) hashpartitioning(doc_id) satisfies EVERY downstream
    # distribution here — groupBy(doc_id,n,g), the (doc_id,n)
    # window, the final (doc_id,nch) rollup — so Catalyst plans the
    # whole pipeline after the fan as ONE fused stage with ZERO
    # further exchanges: 2×8 MB of text shuffle total where the
    # checkpoint shape moved 8+301+409 MB (wall 24.7 → 16.9 s). The
    # base branch re-materializes the same 0.6 s exchange (AQE
    # didn't dedupe the twin stages — accepted). On a real
    # many-split scan (the 100 TB case) the fan is a no-op and the
    # tf groupBy keeps its normal exchange.
    fan = ensure_min_parallelism(
        docs.select("doc_id", "text"), keys=["doc_id"]
    )
    toks = fan.select(
        "doc_id",
        F.length("text").cast("bigint").alias("nch"),
        tokens(F.col("text")).alias("ts"),
    )

    # One pass emits all five n-gram families: the 5 gram arrays are
    # computed with LITERAL n (whole-stage codegen keeps the slice/
    # concat loop compiled — a dynamic-n column variant measured 2×
    # the CPU), stack() pivots them onto 5 slim (n, garr) rows, and
    # one explode streams the grams out. Tokenization runs ONCE —
    # the previous 5-way unionAll re-read a lazy checkpoint from 5
    # branches of one job, racing the cache population and
    # re-tokenizing partitions up to 5× (round-13 probe: max-task
    # 4× median). Transient per-row state is the 5 arrays
    # (O(25·|doc| chars) for the n=10 family) — same order as one
    # family at a time.
    ns = list((*GOPHER_TOP_NS, *GOPHER_DUP_NS))

    def gram_arr(n: int):
        return F.when(
            F.size("ts") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - F.lit(n - 1)),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("ts"), i, n)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    arrs = toks.select(
        "doc_id",
        "nch",
        *[gram_arr(n).alias(f"g{n}") for n in ns],
    )
    stacked = arrs.selectExpr(
        "doc_id",
        "nch",
        "stack({}, {}) AS (n, garr)".format(
            len(ns),
            ", ".join(f"CAST({n} AS BIGINT), g{n}" for n in ns),
        ),
    )
    grams = stacked.select(
        "doc_id", "nch", "n", F.explode("garr").alias("g")
    )
    tf = grams.groupBy("doc_id", "n", "g").agg(
        F.count("*").cast("bigint").alias("c"),
        (F.count("*") * F.length("g")).cast("bigint").alias("cov"),
    )
    w = Window.partitionBy("doc_id", "n").orderBy(
        F.col("c").desc(), "g"
    )
    per_n = (
        tf.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id", "n")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cov")))
            .cast("bigint")
            .alias("top_cov"),
            F.sum(F.when(F.col("c") >= 2, F.col("cov")).otherwise(0))
            .cast("bigint")
            .alias("dup_cov"),
        )
    )
    base = toks.select("doc_id", "nch")
    agg_exprs = []
    for n in GOPHER_TOP_NS:
        agg_exprs.append(
            F.coalesce(
                F.expr(
                    f"max(CASE WHEN n = {n} THEN top_cov END)"
                    " * 1000000 div greatest(nch, 1)"
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"top{n}_ppm")
        )
    for n in GOPHER_DUP_NS:
        agg_exprs.append(
            F.coalesce(
                F.expr(
                    f"max(CASE WHEN n = {n} THEN dup_cov END)"
                    " * 1000000 div greatest(nch, 1)"
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"dup{n}_ppm")
        )
    return (
        base.join(per_n, "doc_id", "left")
        .groupBy("doc_id", "nch")
        .agg(*agg_exprs)
        .select("doc_id", *[c for c in (
            "top2_ppm", "top3_ppm", "top4_ppm", "dup5_ppm", "dup10_ppm"
        )])
    )


def _clustering_oracle() -> str:
    """Local clustering coefficient over the same chunk graph: the
    triangle CTEs verbatim (same degree-oriented order), then
    c(v) = 2·T(v) / (d(v)·(d(v)−1)) bucketed ×10 via exact BIGINT
    floor division — no float ever materializes."""
    return f"""{_chunk_graph_prefix()},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY node
),
ori AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         THEN e.u ELSE e.v END AS a,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         THEN e.v ELSE e.u END AS b,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         THEN dv.d ELSE du.d END AS bd
  FROM und e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tris AS (
  SELECT o1.a, o1.b AS y, o2.b AS z
  FROM ori o1
  JOIN ori o2 ON o1.a = o2.a
   AND (o1.bd < o2.bd OR (o1.bd = o2.bd AND o1.b < o2.b))
  JOIN ori oc ON oc.a = o1.b AND oc.b = o2.b
),
tcnt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT a AS node FROM tris
    UNION ALL SELECT y AS node FROM tris
    UNION ALL SELECT z AS node FROM tris
  )
  GROUP BY node
)
SELECT CAST(least(
         (20 * coalesce(t.n_triangles, 0)) // (g.d * (g.d - 1)), 9)
       AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM deg g LEFT JOIN tcnt t ON t.node = g.node
WHERE g.d >= 2
GROUP BY 1
"""


@register(
    "graph_clustering_coeff_buckets",
    oracle=_clustering_oracle(),
    tags=("curation", "graph"),
    doc="Local clustering coefficient c(v) = 2·T(v)/(d(v)·(d(v)−1)) "
    "over the duplicate-chunk graph, bucketed ×10 into a histogram "
    "(c≈1 → document sits inside a near-clique of duplicates; c≈0 "
    "→ hub stitching unrelated near-dup groups). Reuses the "
    "degree-oriented compact-forward triangle operator — O(m^1.5) "
    "wedge bound, slim (node,node) shuffles — plus one broadcast-"
    "sized degree join; the bucket is exact BIGINT floor division "
    "(floor(10·c) = 20·T div d·(d−1)), so the histogram value-"
    "hashes with no float drift.",
)
def graph_clustering_coeff_buckets(spark, sf_dir):
    from ..operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    und = _dup_chunk_und(docs).transform(stage)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    tri = triangle_counts(und)
    joined = (
        deg.filter(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            "d",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("t"),
        )
    )
    bucket = F.least(
        F.expr("CAST(20 * t AS BIGINT) div (d * (d - 1))"), F.lit(9)
    ).cast("bigint")
    return (
        joined.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# --------------------------------------------------------------------
# Deterministic proportional interleave (training read order)
# --------------------------------------------------------------------
INTERLEAVE_WEIGHTS = {"web": 3, "books": 2, "code": 1}
INTERLEAVE_LCM = 6  # lcm of the weights: stride_d = LCM / w_d
INTERLEAVE_N = 100  # emitted prefix of the global order

_ILV_STRIDES = " ".join(
    f"WHEN '{d}' THEN {INTERLEAVE_LCM // w}"
    for d, w in INTERLEAVE_WEIGHTS.items()
)

_INTERLEAVE_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CASE TRY_CAST(substring(source, 4, 10) AS INT) % 3
              WHEN 0 THEN 'web' WHEN 1 THEN 'books'
              ELSE 'code' END AS domain
  FROM documents
), r AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM d
), keyed AS (
  SELECT doc_id, domain, rn,
         (2 * rn - 1) * (CASE domain {_ILV_STRIDES} END) AS k
  FROM r WHERE rn <= {INTERLEAVE_N}
), pos AS (
  SELECT doc_id, domain,
         row_number() OVER (ORDER BY k, domain, rn) AS pos
  FROM keyed
)
SELECT CAST(pos AS BIGINT) AS pos, domain, doc_id
FROM pos WHERE pos <= {INTERLEAVE_N}
"""


@register(
    "training_interleave_order",
    oracle=_INTERLEAVE_ORACLE,
    tags=("curation", "training", "mixture", "ordering"),
    doc="Deterministic proportional interleave — the read order a "
    "trainer consumes a weighted mixture in (weight 3:2:1 over "
    "web/books/code): each domain's docs get a reproducible "
    "hash-shuffled rank, doc k of domain d takes interleave key "
    "(2k−1)·(LCM/w_d) (the exact-rational low-discrepancy stride — "
    "same mechanism as tokenizer-level data mixing), and the global "
    "order is the key sort. Emits the first 100 positions. Scale "
    "shape: the per-domain rank filter compiles to WindowGroupLimit "
    "(each partition forwards ≤ N rows per domain), so the global "
    "ordering ranks ≤ |domains|·N candidate rows — never the "
    "corpus; the full-order variant at production scale is the "
    "sharded prefix-sum pattern (batch_by_token_budget), with this "
    "prefix form as its anchor.",
)
def training_interleave_order(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # try_cast on BOTH engines: ANSI-mode Spark (4.x default) throws
    # on a malformed cast, and non-numeric source suffixes must
    # route to the ELSE domain, not kill the job.
    dom_idx = (
        F.expr("try_cast(substring(source, 4, 10) AS int)") % 3
    )
    domain = (
        F.when(dom_idx == 0, "web")
        .when(dom_idx == 1, "books")
        .otherwise("code")
    )
    d = docs.select("doc_id", domain.alias("domain"))
    wdom = Window.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = d.withColumn("rn", F.row_number().over(wdom)).filter(
        F.col("rn") <= INTERLEAVE_N
    )
    stride = F.create_map(
        *[
            x
            for dd, w in INTERLEAVE_WEIGHTS.items()
            for x in (F.lit(dd), F.lit(INTERLEAVE_LCM // w))
        ]
    )[F.col("domain")]
    keyed = r.select(
        "doc_id",
        "domain",
        "rn",
        ((2 * F.col("rn") - 1) * stride).alias("k"),
    )
    wg = Window.orderBy("k", "domain", "rn")
    return (
        keyed.withColumn("pos", F.row_number().over(wg).cast("bigint"))
        .filter(F.col("pos") <= INTERLEAVE_N)
        .select("pos", "domain", "doc_id")
    )


# --------------------------------------------------------------------
# Classifier calibration curve (predicted-probability deciles)
# --------------------------------------------------------------------

def _qc_calibration_oracle() -> str:
    from ..operators import classifier as C

    feats_ctes, gd_ctes, p, prev = qc_oracle_fragments()
    return f"""
WITH {feats_ctes},
{gd_ctes},
pred AS (SELECT f.y, {p} AS p FROM feats f, {prev}),
b AS (
  SELECT least(p // 100, 9) AS bucket, y, p FROM pred
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN y = {C.S} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pos,
       CAST(sum(p) AS BIGINT) AS sum_p_milli,
       (CAST(sum(CASE WHEN y = {C.S} THEN 1 ELSE 0 END) AS BIGINT)
        * 1000000) // count(*) AS obs_pos_ppm
FROM b GROUP BY bucket
"""


@register(
    "quality_classifier_calibration",
    oracle=_qc_calibration_oracle(),
    tags=("curation", "quality", "ml", "evaluation"),
    doc="Calibration curve for the trained quality classifier: "
    "predicted hard-sigmoid probabilities (milli-units) bucketed "
    "into deciles against the observed rule-label positive rate "
    "(exact ppm) — the reliability diagram every classifier gate "
    "should ship with, as a query. Composes the same once-"
    "checkpointed feature table and unrolled fixed-point GD the "
    "train/serve queries use (oracle shares qc_oracle_fragments), "
    "so train → score → bucket costs ONE corpus text scan and the "
    "whole iterative computation value-hashes bit-for-bit. The "
    "decile rollup exchanges ≤10 rows.",
)
def quality_classifier_calibration(spark, sf_dir):
    from ..operators import classifier as C
    from ..operators.classifier import _p_expr, fit_quality_classifier

    feats, w = fit_quality_classifier(
        load_table(spark, sf_dir, "documents")
    )
    pred = feats.crossJoin(F.broadcast(w)).select(
        "y", F.expr(_p_expr()).alias("p")
    )
    b = pred.select(
        "y",
        "p",
        F.least(F.expr("p div 100"), F.lit(9)).alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("y") == C.S, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum("p").cast("bigint").alias("sum_p_milli"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs",
            "n_pos",
            "sum_p_milli",
            F.expr("(n_pos * 1000000) div n_docs").alias("obs_pos_ppm"),
        )
    )


def _degree_dist_oracle() -> str:
    return f"""{_chunk_graph_prefix()},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY node
)
SELECT CAST(length(printf('%b', d)) - 1 AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(d) AS BIGINT) AS min_deg,
       CAST(max(d) AS BIGINT) AS max_deg
FROM deg GROUP BY 1
"""


@register(
    "graph_degree_distribution",
    oracle=_degree_dist_oracle(),
    tags=("curation", "graph", "statistics"),
    doc="Degree distribution of the duplicate-chunk graph in exact "
    "log₂ buckets — floor(log2(d)) computed as the binary-digit "
    "count (bin()/printf('%%b') length, identical on both engines; "
    "a float log2 would drift one ulp at exact powers of two), with "
    "per-bucket min/max degree. The heavy-tail health check run "
    "before any per-node graph algorithm: a bucket appearing at "
    "2¹⁵ means a boilerplate chunk slipped the df cap. Slim "
    "(node, node) shuffles; the histogram is |buckets| rows.",
)
def graph_degree_distribution(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    und = _dup_chunk_und(docs).transform(stage)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    return (
        deg.select(
            (F.length(F.bin(F.col("d"))) - 1)
            .cast("bigint")
            .alias("log2_bucket"),
            "d",
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("d").cast("bigint").alias("min_deg"),
            F.max("d").cast("bigint").alias("max_deg"),
        )
    )


# --------------------------------------------------------------------
# Embedding-curation composite pipeline (SemDeDup + Mahalanobis gate)
# --------------------------------------------------------------------

def _embedding_pipeline_oracle() -> str:
    from .northstar_queries import _MAHAL_ORACLE

    return f"""
WITH sd AS (SELECT * FROM ({_semdedup_oracle()})),
mh AS (SELECT * FROM ({_MAHAL_ORACLE})),
lab AS (SELECT vec_id, label FROM embeddings)
SELECT l.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(sd.is_dup) AS BIGINT) AS n_dup,
       CAST(sum(CASE WHEN m.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outlier,
       CAST(sum(CASE WHEN sd.is_dup = 0 AND m.vec_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM sd
JOIN lab l ON l.vec_id = sd.vec_id
LEFT JOIN mh m ON m.vec_id = sd.vec_id
GROUP BY l.label
"""


@register(
    "pipeline_embedding_curation",
    oracle=_embedding_pipeline_oracle(),
    tags=("curation", "embedding", "pipeline", "dedup", "quality"),
    doc="The embedding-side flagship composition, mirroring the text "
    "corpus pipeline: SemDeDup semantic near-dup flags (K-means-"
    "bucketed cosine) and the diagonal-Mahalanobis outlier sweep "
    "gate the corpus together, rolled up per label into kept / "
    "dup-flagged / outlier-flagged counts — dedup and quality "
    "filtering composed in ONE declarative plan, value-hashed end "
    "to end through the clustering, the per-cluster GEMM kernels, "
    "the variance statistics, and the top-k. The outlier set is a "
    "broadcast 10-row join; the label rollup exchanges "
    "|labels|-row model state.",
)
def pipeline_embedding_curation(spark, sf_dir):
    from ..operators.semdedup import semantic_dup_flags
    from .northstar_queries import embedding_mahalanobis_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    flags = semantic_dup_flags(emb)
    outliers = embedding_mahalanobis_outliers(spark, sf_dir).select(
        "vec_id", F.lit(1).alias("is_out")
    )
    lab = emb.select("vec_id", "label")
    j = (
        flags.join(lab, "vec_id")
        .join(F.broadcast(outliers), "vec_id", "left")
        .select(
            "label",
            "is_dup",
            F.coalesce(F.col("is_out"), F.lit(0)).alias("is_out"),
        )
    )
    return j.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("is_dup").cast("bigint").alias("n_dup"),
        F.sum("is_out").cast("bigint").alias("n_outlier"),
        F.sum(
            F.when((F.col("is_dup") == 0) & (F.col("is_out") == 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_keep"),
    )


# --------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval rankings (BM25 × bigram LM)
# --------------------------------------------------------------------
RRF_K = 60       # the standard RRF dampening constant
RRF_TOPK = 20    # depth of each fused list

_RRF_ORACLE = f"""
WITH bm_raw AS ({_BM25_ORACLE}),
bm AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
              AS BIGINT) AS rank_bm
  FROM bm_raw
),
lm_raw AS ({_BIGRAM_LM_ORACLE}),
lm AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY im DESC, doc_id) AS BIGINT)
           AS rank_lm
  FROM (
    SELECT doc_id, sum_logprob_micro // n_bigrams AS im
    FROM lm_raw
    ORDER BY im DESC, doc_id LIMIT {RRF_TOPK}
  )
)
SELECT coalesce(bm.doc_id, lm.doc_id) AS doc_id,
       rank_bm, rank_lm,
       coalesce(1000000 // ({RRF_K} + rank_bm), 0)
         + coalesce(1000000 // ({RRF_K} + rank_lm), 0) AS rrf_micro
FROM bm FULL OUTER JOIN lm USING (doc_id)
"""


@register(
    "retrieval_rrf_fusion",
    oracle=_RRF_ORACLE,
    tags=("curation", "ranking", "retrieval", "text"),
    doc="Reciprocal-rank fusion (Cormack et al.) of two retrieval "
    "rankings over the corpus: the BM25 top-20 for the fixed probe "
    "query and the bigram-LM fluency top-20 (integer mean micro-"
    "nats), fused as Σ 1/(60+rank) in exact micro units over the "
    "union (a doc missing from one list contributes only the "
    "other's term) — the standard way hybrid lexical+quality (or "
    "lexical+vector) retrieval combines lists without score "
    "calibration. Scale shape: each leg is its own bounded query "
    "ending in TakeOrderedAndProject(20); the rank windows and the "
    "full-outer fuse touch ≤20-row model-state frames only.",
)
def retrieval_rrf_fusion(spark, sf_dir):
    from pyspark.sql import Window

    bm = text_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_micro").desc(), "doc_id"))
        .cast("bigint")
        .alias("rank_bm"),
    )
    lm = (
        text_bigram_logprob(spark, sf_dir)
        .select(
            "doc_id",
            F.expr("sum_logprob_micro div n_bigrams").alias("im"),
        )
        .orderBy(F.col("im").desc(), "doc_id")
        .limit(RRF_TOPK)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("im").desc(), "doc_id"))
            .cast("bigint")
            .alias("rank_lm"),
        )
    )
    rrf = F.coalesce(
        F.expr(f"1000000 div ({RRF_K} + rank_bm)"), F.lit(0)
    ) + F.coalesce(F.expr(f"1000000 div ({RRF_K} + rank_lm)"), F.lit(0))
    return bm.join(lm, "doc_id", "full_outer").select(
        "doc_id", "rank_bm", "rank_lm", rrf.alias("rrf_micro")
    )


# --------------------------------------------------------------------
# Product quantization: joint subspace codebook training + ADC audit
# --------------------------------------------------------------------
def pq_train_ctes() -> str:
    """The PQ training chain as a reusable WITH-clause FRAGMENT
    (codes → sflat → seeds → pcent0 → unrolled Lloyd rounds →
    pasg_f): everything the `embedding_pq_adc` oracle and the
    IVF-PQ serving oracle share — one definition, so the two can
    never train different codebooks. Starts after `WITH` (callers
    prepend their own opening) and ends WITHOUT a trailing comma."""
    from ..operators import pq as PQ

    m, k, iters = PQ.PQ_M, PQ.PQ_K, PQ.PQ_ITERS
    its = []
    prev = "pcent0"
    for t in range(1, iters + 1):
        its.append(f"""
pd{t} AS MATERIALIZED (
  SELECT f.vec_id, f.sub, c.cid,
         sum((f.val - c.cval) * (f.val - c.cval)) AS dist
  FROM sflat f JOIN {prev} c ON c.sub = f.sub AND c.sdim = f.sdim
  GROUP BY f.vec_id, f.sub, c.cid
),
pasg{t} AS MATERIALIZED (
  SELECT vec_id, sub, cid FROM pd{t}
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY dist, cid) = 1
),
pcent{t} AS MATERIALIZED (
  SELECT c.sub, c.cid, c.sdim, coalesce(u.nval, c.cval) AS cval
  FROM {prev} c LEFT JOIN (
    SELECT a.sub, a.cid, f.sdim,
           CAST(sum(f.val) AS BIGINT) // count(*) AS nval
    FROM pasg{t} a
    JOIN sflat f ON f.vec_id = a.vec_id AND f.sub = a.sub
    GROUP BY a.sub, a.cid, f.sdim
  ) u ON u.sub = c.sub AND u.cid = c.cid AND u.sdim = c.sdim
)""")
        prev = f"pcent{t}"
    return f"""{_INT8_CODES_CTES},
sflat AS MATERIALIZED (
  SELECT vec_id,
         CAST(unnest(range(len(code))) AS BIGINT) // {64 // m} AS sub,
         CAST(unnest(range(len(code))) AS BIGINT) % {64 // m} AS sdim,
         unnest(code) AS val
  FROM codes
),
seeds AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
  FROM (SELECT vec_id FROM codes ORDER BY vec_id LIMIT {k})
),
pcent0 AS (
  SELECT s.cid, f.sub, f.sdim, f.val AS cval
  FROM seeds s JOIN sflat f USING (vec_id)
),
{",".join(its)},
pdf_ AS MATERIALIZED (
  SELECT f.vec_id, f.sub, c.cid,
         sum((f.val - c.cval) * (f.val - c.cval)) AS dist
  FROM sflat f JOIN {prev} c ON c.sub = f.sub AND c.sdim = f.sdim
  GROUP BY f.vec_id, f.sub, c.cid
),
pasg_f AS MATERIALIZED (
  SELECT vec_id, sub, cid FROM pdf_
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY dist, cid) = 1
)
"""


def pq_final_cent() -> str:
    """Name of the training fragment's final codebook CTE."""
    from ..operators import pq as PQ

    return f"pcent{PQ.PQ_ITERS}"


def _pq_oracle() -> str:
    prev = pq_final_cent()
    return (
        "WITH "
        + pq_train_ctes()
        + f""",
qv AS (
  SELECT sub, sdim, val AS qval FROM sflat
  WHERE vec_id = (SELECT min(vec_id) FROM codes)
),
lut AS (
  SELECT c.sub, c.cid,
         CAST(sum((c.cval - q2.qval) * (c.cval - q2.qval)) AS BIGINT)
           AS d
  FROM {prev} c JOIN qv q2 ON q2.sub = c.sub AND q2.sdim = c.sdim
  GROUP BY c.sub, c.cid
),
adc AS (
  SELECT a.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM pasg_f a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
  GROUP BY a.vec_id
),
ex AS (
  SELECT f.vec_id,
         CAST(sum((f.val - q3.qval) * (f.val - q3.qval)) AS BIGINT)
           AS exact_dist
  FROM sflat f JOIN qv q3 ON q3.sub = f.sub AND q3.sdim = f.sdim
  GROUP BY f.vec_id
)
SELECT a.vec_id, a.adc_dist, e.exact_dist
FROM adc a JOIN ex e USING (vec_id)
ORDER BY adc_dist, vec_id LIMIT 20
"""
    )


@register(
    "embedding_pq_adc",
    oracle=_pq_oracle(),
    tags=("curation", "embedding", "quantization", "iterative", "ann"),
    doc="Product quantization end to end, bit-exact: the corpus's "
    "int8 codes split into 4 subspaces, each training its own 8-"
    "centroid codebook — ALL subspaces in ONE joint Lloyd loop "
    "(assignment is an Arrow numpy argmin against the driver-side "
    "codebooks, zero corpus shuffle; updates combine map-side to "
    "M·K·subdim rows; 2 rounds, integer distances, truncating "
    "means, smallest-cid ties) — then every vector is stored as 4 "
    "sub-centroid ids and served by ADC: the query's distance to a "
    "candidate is 4 lookups in a per-query (sub, cid) distance "
    "table. Output: top-20 by ADC for the min-vec_id query with the "
    "EXACT int8 distance alongside — the PQ approximation audited "
    "on the rows it would serve. The M-byte compression tier below "
    "IVF-SQ8 (64× smaller than SQ8; production pairs it with IVF "
    "lists and K=256 codebooks — same plan, bigger model state).",
)
def embedding_pq_adc(spark, sf_dir):
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    cent, coded, subdim = PQ.pq_train_encode(emb)
    return PQ.adc_topk(cent, coded, PQ.PQ_M, subdim)


# --------------------------------------------------------------------
# k-core peeling (bounded rounds) over the duplicate-chunk graph
# --------------------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    k, rounds = KCORE_K, KCORE_ROUNDS
    its = []
    prev = "und1"
    stage_rows = []
    for t in range(1, rounds + 1):
        nxt = f"und{t + 1}"
        its.append(f"""
deg{t} AS (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM {prev}
        UNION ALL SELECT v AS node FROM {prev})
  GROUP BY node
),
peel{t} AS (
  SELECT node FROM deg{t} WHERE d < {k}
),
{nxt} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u NOT IN (SELECT node FROM peel{t})
    AND v NOT IN (SELECT node FROM peel{t})
)""")
        stage_rows.append(
            f"SELECT 'peel_{t}' AS stage,"
            f" CAST((SELECT count(*) FROM peel{t}) AS BIGINT)"
            f" AS n_nodes,"
            f" CAST((SELECT count(*) FROM {nxt}) AS BIGINT) AS n_edges"
        )
        prev = nxt
    stage_rows.append(
        "SELECT 'core' AS stage,"
        " CAST((SELECT count(DISTINCT node) FROM"
        f" (SELECT u AS node FROM {prev}"
        f"  UNION ALL SELECT v AS node FROM {prev})) AS BIGINT)"
        " AS n_nodes,"
        f" CAST((SELECT count(*) FROM {prev}) AS BIGINT) AS n_edges"
    )
    return f"""{_chunk_graph_prefix()},
und1 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges
),
{",".join(its)}
{" UNION ALL ".join(stage_rows)}
"""


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("curation", "graph", "iterative"),
    doc=f"Bounded k-core peeling of the duplicate-chunk graph: "
    f"{KCORE_ROUNDS} unrolled rounds of remove-degree-<{KCORE_K} "
    "nodes, reporting nodes peeled and edges surviving per round "
    "plus the residual core — the dense-duplication-community "
    "extractor (a k-core that survives peeling is a tight cluster "
    "of cross-copied documents, the structure SemDeDup-style "
    "pruning targets). Bounded rounds make the semantics exact and "
    "engine-portable (true k-core iterates to fixpoint; at "
    f"{KCORE_ROUNDS} rounds the peel has converged on every corpus "
    "this repo tests — the 'core' row equals the fixpoint whenever "
    "round N peels zero nodes). Scale shape: each round is a "
    "map-side-combined degree count over the slim undirected pair "
    "table + two anti-joins, checkpointed so the iterative plan "
    "stays linear; every exchanged row is (node) or (u, v).",
)
def graph_kcore_peel(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    und = _dup_chunk_und(docs).transform(stage)
    stages = []
    edges = und
    for t in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        peel = deg.filter(F.col("d") < KCORE_K).select("node")
        edges = (
            edges.join(
                peel.select(F.col("node").alias("u")), "u", "left_anti"
            )
            .join(
                peel.select(F.col("node").alias("v")), "v", "left_anti"
            )
            .select("u", "v")
            .transform(stage)
        )
        stages.append(
            peel.agg(
                F.lit(f"peel_{t}").alias("stage"),
                F.count("*").cast("bigint").alias("n_nodes"),
            ).crossJoin(
                F.broadcast(
                    edges.agg(
                        F.count("*").cast("bigint").alias("n_edges")
                    )
                )
            )
        )
    core_nodes = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .agg(
            F.lit("core").alias("stage"),
            F.countDistinct("node").cast("bigint").alias("n_nodes"),
        )
    )
    stages.append(
        core_nodes.crossJoin(
            F.broadcast(
                edges.agg(F.count("*").cast("bigint").alias("n_edges"))
            )
        )
    )
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


# --------------------------------------------------------------------
# Weighted k-sample without replacement (Efraimidis–Spirakis A-Res)
# --------------------------------------------------------------------
RESERVOIR_K = 20

_RESERVOIR_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         greatest(n_chars, 1) AS w,
         ({" + ".join(
            f"(instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), {1 + j}, 1)) - 1)"
            f" * {16 ** (13 - j)}"
            for j in range(14)
         )}) + 1 AS u_int
  FROM documents
), q AS (
  SELECT doc_id, w,
         CAST(round(ln(CAST(u_int AS DOUBLE) / 72057594037927936.0)
                    * 1e6) AS BIGINT) AS qlnu
  FROM keyed
), scored AS (
  SELECT doc_id, w, (qlnu * 1000000) // w AS skey
  FROM q
)
SELECT doc_id, CAST(w AS BIGINT) AS w, skey,
       CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS BIGINT)
         AS rnk
FROM scored
ORDER BY skey DESC, doc_id LIMIT {RESERVOIR_K}
"""


@register(
    "sample_weighted_reservoir",
    oracle=_RESERVOIR_ORACLE,
    tags=("curation", "sample", "topk"),
    doc="Weighted k-sample WITHOUT replacement (Efraimidis–Spirakis "
    "A-Res): each doc draws u from its doc_id's md5 (deterministic "
    "uniform — the repeatable-pipeline requirement) and the sample "
    "is the top-k by u^(1/w), implemented in the exact-integer "
    "order key (round(ln u · 1e6) · 1e6) div w — the one "
    "transcendental is the quantized ln the information-theory tier "
    "already uses; everything compared is BIGINT, so the selected "
    "set is engine-exact. Complements mixture_weighted_sample "
    "(Bernoulli per-domain rates, approximate size): this is "
    "exact-k with per-ROW weights (n_chars — longer docs "
    "proportionally likelier), the form a budgeted curation step "
    "uses. Scale shape: keys are per-row expressions over one scan; "
    "top-k is TakeOrderedAndProject, never a global sort; the rank "
    "window orders the ≤k survivors.",
)
def sample_weighted_reservoir(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    u_int = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 14),
            16,
            10,
        ).cast("bigint")
        + 1
    )
    w = F.greatest(F.col("n_chars"), F.lit(1))
    qlnu = F.round(
        F.log(u_int.cast("double") / F.lit(72057594037927936.0)) * 1e6
    ).cast("bigint")
    scored = docs.select(
        "doc_id",
        w.cast("bigint").alias("w"),
        qlnu.alias("qlnu"),
    ).select(
        "doc_id", "w", F.expr("(qlnu * 1000000) div w").alias("skey")
    )
    top = scored.orderBy(F.col("skey").desc(), "doc_id").limit(
        RESERVOIR_K
    )
    return top.select(
        "doc_id",
        "w",
        "skey",
        F.row_number()
        .over(Window.orderBy(F.col("skey").desc(), "doc_id"))
        .cast("bigint")
        .alias("rnk"),
    )


# --------------------------------------------------------------------
# IVF-PQ serving (partition-pruned ADC) — fully value-hash-checked
# --------------------------------------------------------------------
def _ivf_coarse_sql(n_list: int, n_probe: int, ids: str) -> str:
    """Coarse quantizer CTEs (REFINED centroids → quantized-cosine
    assignment → probe selection), structurally identical to the
    `ann_cosine_ivf_int8` oracle's prefix (one behavioral definition
    lives in operators/similarity.py, which both mirror
    expression-for-expression). Round 9: the centroid block replays
    `build_ivf_centroids(refine=True)` — seed + one fixed-point
    Lloyd step (`ivf_refined_cents_sql`) — so every PQ serving
    oracle downstream certifies the production quantizer, not the
    seed floor."""
    from .northstar_queries import _QUANT, ivf_refined_cents_sql

    return f"""{ivf_refined_cents_sql(n_list, final="ccents", idcol="ccid")},
ccnorm AS (
  SELECT ccid,
         greatest(CAST(sum(CAST(floor(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT), 1) AS cqn
  FROM (SELECT ccid, unnest(cvec) AS c FROM ccents) GROUP BY ccid
),
cvnorm AS (
  SELECT vec_id,
         greatest(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT), 1) AS vq
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY vec_id
),
ccprod AS (
  SELECT e.vec_id, c.ccid, unnest(e.embedding) AS x, unnest(c.cvec) AS cc
  FROM embeddings e CROSS JOIN ccents c
),
ccdots AS (
  SELECT vec_id, ccid,
         CAST(sum(CAST(floor(CAST(x AS DOUBLE) * CAST(cc AS DOUBLE)
                  * {_QUANT}) AS BIGINT)) AS BIGINT) AS qd
  FROM ccprod GROUP BY vec_id, ccid
),
ccos AS (
  SELECT d.vec_id, d.ccid,
         CAST(d.qd AS DOUBLE)
           / (sqrt(CAST(v.vq AS DOUBLE)) * sqrt(CAST(n.cqn AS DOUBLE)))
           AS ccos
  FROM ccdots d JOIN cvnorm v USING (vec_id)
  JOIN ccnorm n ON n.ccid = d.ccid
),
cassign AS (
  SELECT vec_id, ccid AS list_id FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, ccid) AS rn
    FROM ccos
  ) WHERE rn = 1
),
cprobes AS (
  SELECT vec_id AS query_id, ccid AS list_id FROM (
    SELECT vec_id, ccid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, ccid) AS rn
    FROM ccos WHERE vec_id IN ({ids})
  ) WHERE rn <= {n_probe}
)"""


def _ivf_pq_oracle() -> str:
    from .northstar_queries import (
        _ANN_K,
        _ANN_QUERY_IDS,
        _IVF_INT8_N_LIST,
        _IVF_INT8_N_PROBE,
    )

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    prev = pq_final_cent()
    return (
        "WITH "
        + _ivf_coarse_sql(_IVF_INT8_N_LIST, _IVF_INT8_N_PROBE, ids)
        + ",\n"
        + pq_train_ctes()
        + f""",
qlut AS (
  -- per-query ADC table: exact integer squared L2 between the
  -- query's int8 subvectors and every sub-centroid
  SELECT f.vec_id AS query_id, c.sub, c.cid,
         CAST(sum((f.val - c.cval) * (f.val - c.cval)) AS BIGINT) AS d
  FROM sflat f JOIN {prev} c ON c.sub = f.sub AND c.sdim = f.sdim
  WHERE f.vec_id IN ({ids})
  GROUP BY f.vec_id, c.sub, c.cid
),
cpairs AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM cprobes p
  JOIN cassign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
cadc AS (
  SELECT pr.query_id, pr.cand_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM cpairs pr
  JOIN pasg_f a2 ON a2.vec_id = pr.cand_id
  JOIN qlut l ON l.query_id = pr.query_id
             AND l.sub = a2.sub AND l.cid = a2.cid
  GROUP BY pr.query_id, pr.cand_id
)
SELECT query_id, cand_id, adc_dist, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, cand_id) AS rnk
  FROM cadc
) WHERE rnk <= {_ANN_K}
"""
    )


@register(
    "ann_ivf_pq_adc",
    oracle=_ivf_pq_oracle(),
    tags=("curation", "similarity", "quantization", "approx", "ann"),
    doc="IVF-PQ serving, fully value-hash-checked — the production "
    "ANN composition (FAISS IVFx,PQy, residual-free variant): the "
    "jointly-trained PQ codebooks compress every vector to 4 "
    "sub-centroid ids stored INSIDE the partition-pruned IVF lists, "
    "so a request batch reads ~n_probe/n_list of a corpus that is "
    "itself d/M× smaller than SQ8 — pruning cuts which bytes are "
    "read, PQ cuts how many bytes a vector IS, ADC cuts the per-"
    "candidate work to M table lookups. Refined (fixed-point "
    "Lloyd-mean, round 9) coarse centroids + the exact-integer PQ "
    "chain keep every stage reproducible, so "
    "unlike typical IVF-PQ entries this one's PRUNED result "
    "value-hashes cross-engine: the oracle replays seed build, "
    "Lloyd refinement, coarse assignment, probe selection, codebook "
    "training AND the ADC "
    "lookups. Serving cost notes: the layout is built once per "
    "corpus (the build/serve split); recall vs the exact int8 tier "
    "is pinned numerically in tests/test_ivf_pq.py.",
)
def ann_ivf_pq_adc(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from ..operators import pq as PQ
    from .northstar_queries import (
        _ANN_K,
        _ANN_QUERY_IDS,
        _IVF_INT8_N_LIST,
        _IVF_INT8_N_PROBE,
        _IVF_PQ_LAYOUT_CACHE,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ent = _IVF_PQ_LAYOUT_CACHE.get(sf_dir)
    if ent is None:
        from ..operators import similarity

        cents = similarity.build_ivf_centroids(
            emb, n_list=_IVF_INT8_N_LIST, refine=True
        )
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"jly_ivf_pq_{tag}", "corpus"
        )
        pq_state, subdim = PQ.persist_ivf_pq(emb, path, cents)
        ent = (path, cents, pq_state, subdim)
        _IVF_PQ_LAYOUT_CACHE[sf_dir] = ent
    path, cents, pq_state, subdim = ent
    queries = emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS))
    return PQ.serve_ann_topk_ivf_pq(
        spark,
        queries,
        path,
        cents,
        pq_state,
        subdim,
        k=_ANN_K,
        n_probe=_IVF_INT8_N_PROBE,
    )


def _ivf_pq_refine_oracle() -> str:
    from ..operators import pq as PQ
    from .northstar_queries import (
        _ANN_K,
        _ANN_QUERY_IDS,
        _IVF_INT8_N_LIST,
        _IVF_INT8_N_PROBE,
    )

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    prev = pq_final_cent()
    return (
        "WITH "
        + _ivf_coarse_sql(_IVF_INT8_N_LIST, _IVF_INT8_N_PROBE, ids)
        + ",\n"
        + pq_train_ctes()
        + f""",
qlut AS (
  SELECT f.vec_id AS query_id, c.sub, c.cid,
         CAST(sum((f.val - c.cval) * (f.val - c.cval)) AS BIGINT) AS d
  FROM sflat f JOIN {prev} c ON c.sub = f.sub AND c.sdim = f.sdim
  WHERE f.vec_id IN ({ids})
  GROUP BY f.vec_id, c.sub, c.cid
),
cpairs AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM cprobes p
  JOIN cassign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
cadc AS MATERIALIZED (
  SELECT pr.query_id, pr.cand_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM cpairs pr
  JOIN pasg_f a2 ON a2.vec_id = pr.cand_id
  JOIN qlut l ON l.query_id = pr.query_id
             AND l.sub = a2.sub AND l.cid = a2.cid
  GROUP BY pr.query_id, pr.cand_id
),
cshort AS MATERIALIZED (
  SELECT query_id, cand_id, adc_dist FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, cand_id) AS srnk
    FROM cadc
  ) WHERE srnk <= {PQ.PQ_REFINE_R}
),
cexact AS (
  SELECT s.query_id, s.cand_id, s.adc_dist,
         CAST(sum((fq.val - fc.val) * (fq.val - fc.val)) AS BIGINT)
           AS exact_dist
  FROM cshort s
  JOIN sflat fq ON fq.vec_id = s.query_id
  JOIN sflat fc ON fc.vec_id = s.cand_id
              AND fc.sub = fq.sub AND fc.sdim = fq.sdim
  GROUP BY s.query_id, s.cand_id, s.adc_dist
)
SELECT query_id, cand_id, adc_dist, exact_dist, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY exact_dist, cand_id) AS rnk
  FROM cexact
) WHERE rnk <= {_ANN_K}
"""
    )


@register(
    "ann_ivf_pq_refine",
    oracle=_ivf_pq_refine_oracle(),
    tags=("curation", "similarity", "quantization", "approx", "ann"),
    doc="IVF-PQ with EXACT REFINE — how production actually serves "
    "PQ (the FAISS refine stage): ADC ranks the pruned lists' "
    "candidates at M lookups each, the per-query top-200 shortlist "
    "is re-scored with the exact int8 squared L2 on the full codes "
    "(stored in their own parquet COLUMN of the same layout — the "
    "pure-ADC tier's scan never reads it, columnar pruning gives "
    "one layout two serving costs), and the final top-k follows "
    "the exact order. ADC's quantization error then only costs "
    "recall when a true neighbor misses the shortlist — measured "
    "and pinned in tests/test_ivf_pq.py (the synthetic near-uniform "
    "embeddings are PQ's worst case; production codebooks are "
    "K=256 over clustered real embeddings). Fully value-hash-"
    "checked: coarse assignment, probe selection, codebook "
    "training, ADC shortlist AND the refine rescore all replay in "
    "the oracle.",
)
def ann_ivf_pq_refine(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from ..operators import pq as PQ
    from .northstar_queries import (
        _ANN_K,
        _ANN_QUERY_IDS,
        _IVF_INT8_N_LIST,
        _IVF_INT8_N_PROBE,
        _IVF_PQ_LAYOUT_CACHE,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ent = _IVF_PQ_LAYOUT_CACHE.get(sf_dir)
    if ent is None:
        from ..operators import similarity

        cents = similarity.build_ivf_centroids(
            emb, n_list=_IVF_INT8_N_LIST, refine=True
        )
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"jly_ivf_pq_{tag}", "corpus"
        )
        pq_state, subdim = PQ.persist_ivf_pq(emb, path, cents)
        ent = (path, cents, pq_state, subdim)
        _IVF_PQ_LAYOUT_CACHE[sf_dir] = ent
    path, cents, pq_state, subdim = ent
    queries = emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS))
    return PQ.serve_ann_topk_ivf_pq_refine(
        spark,
        queries,
        path,
        cents,
        pq_state,
        subdim,
        k=_ANN_K,
        n_probe=_IVF_INT8_N_PROBE,
    )


# --------------------------------------------------------------------
# Link prediction: common-neighbor top-k over the dup-chunk graph
# --------------------------------------------------------------------
LINKPRED_TOPK = 20


def _linkpred_oracle() -> str:
    return f"""{_chunk_graph_prefix()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges
),
adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v AS node, u AS nbr FROM und
),
wedges AS (
  -- candidate pairs = two distinct neighbors of a shared node
  SELECT a.nbr AS x, b.nbr AS y,
         CAST(count(*) AS BIGINT) AS common
  FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
  GROUP BY a.nbr, b.nbr
),
nonedges AS (
  SELECT w.x, w.y, w.common FROM wedges w
  LEFT JOIN und e ON e.u = w.x AND e.v = w.y
  WHERE e.u IS NULL
)
SELECT x AS doc_a, y AS doc_b, common AS n_common,
       CAST(row_number() OVER (ORDER BY common DESC, x, y) AS BIGINT)
         AS rnk
FROM nonedges
ORDER BY common DESC, x, y LIMIT {LINKPRED_TOPK}
"""


@register(
    "graph_link_prediction_topk",
    oracle=_linkpred_oracle(),
    tags=("curation", "graph", "topk"),
    doc="Common-neighbors link prediction over the duplicate-chunk "
    "graph: the top-20 NON-adjacent doc pairs by shared-neighbor "
    "count — the pairs the dedup graph is most likely missing an "
    "edge for (two docs each near-duplicating the same third "
    "documents but not each other — exactly where a banding scheme "
    "drops a true pair). Candidate generation is the wedge join the "
    "triangle counter already bounds (Σ degree² under the chunk df "
    "caps), the existing-edge anti-join removes known pairs, and "
    "the global top-20 is TakeOrderedAndProject over the slim "
    "(pair, count) combine. The quality-audit companion to "
    "dedup_lsh_eval_metrics: prediction strength on non-edges "
    "estimates the candidate-miss rate. Round 9: candidates come "
    "from graph.wedge_pairs — one groupBy(node) exchange + map-side "
    "combination explode, emitting each wedge once — instead of the "
    "adj self-join that shuffled the adjacency twice.",
)
def graph_link_prediction_topk(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.graph import wedge_pairs, wedge_unpack

    docs = load_table(spark, sf_dir, "documents")
    und = _dup_chunk_und(docs).transform(stage)
    adj = und.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    # packed=True: the groupBy key is one 8-byte xy = x·2³² + y
    # instead of two longs — the pair count is by far the widest
    # shuffle in this family (round-9 ×10 probe: 1.22 GB write on the
    # adamic-adar sibling); unpack after the combine.
    ux, uy = wedge_unpack("xy")
    wp, post_filter = _wedges_sans_edges(
        wedge_pairs(adj, max_degree=WEDGE_DEGREE_CAP, packed=True),
        und,
        memo_key=(spark.sparkContext.applicationId, sf_dir),
    )
    wedges = (
        wp.groupBy("xy")
        .agg(F.count("*").cast("bigint").alias("common"))
        .select(ux.alias("x"), uy.alias("y"), "common")
    )
    nonedges = (
        wedges.join(
            und,
            (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
            "left_anti",
        )
        if post_filter
        else wedges
    )
    top = nonedges.orderBy(
        F.col("common").desc(), "x", "y"
    ).limit(LINKPRED_TOPK)
    return top.select(
        F.col("x").alias("doc_a"),
        F.col("y").alias("doc_b"),
        F.col("common").alias("n_common"),
        F.row_number()
        .over(Window.orderBy(F.col("common").desc(), "x", "y"))
        .cast("bigint")
        .alias("rnk"),
    )


# --------------------------------------------------------------------
# Residual-encoded IVF-PQ (FAISS IVFx,PQy proper) — round 8
# --------------------------------------------------------------------
_IVF_PQ_RES_LAYOUT_CACHE: dict[str, tuple] = {}


def pq_residual_train_ctes() -> str:
    """The RESIDUAL PQ training chain as a WITH-clause fragment:
    codes → sflat (same text as `pq_train_ctes`'s prefix) → the
    coarse centroids' own int8 codes (ccflat) → residual values
    (rflat = code − assigned centroid's code) → seeds → unrolled
    Lloyd rounds on the residuals → final assignment rasg_f. Assumes
    the caller already emitted `_ivf_coarse_sql`'s CTEs (ccents,
    cassign). Starts after a comma and ends WITHOUT one."""
    from ..operators import pq as PQ

    m, k, iters = PQ.PQ_M, PQ.PQ_K, PQ.PQ_ITERS
    sub = 64 // m
    its = []
    prev = "rcent0"
    for t in range(1, iters + 1):
        its.append(f"""
rd{t} AS MATERIALIZED (
  SELECT f.vec_id, f.sub, c.cid,
         sum((f.val - c.cval) * (f.val - c.cval)) AS dist
  FROM rflat f JOIN {prev} c ON c.sub = f.sub AND c.sdim = f.sdim
  GROUP BY f.vec_id, f.sub, c.cid
),
rasg{t} AS MATERIALIZED (
  SELECT vec_id, sub, cid FROM rd{t}
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY dist, cid) = 1
),
rcent{t} AS MATERIALIZED (
  SELECT c.sub, c.cid, c.sdim, coalesce(u.nval, c.cval) AS cval
  FROM {prev} c LEFT JOIN (
    SELECT a.sub, a.cid, f.sdim,
           CAST(sum(f.val) AS BIGINT) // count(*) AS nval
    FROM rasg{t} a
    JOIN rflat f ON f.vec_id = a.vec_id AND f.sub = a.sub
    GROUP BY a.sub, a.cid, f.sdim
  ) u ON u.sub = c.sub AND u.cid = c.cid AND u.sdim = c.sdim
)""")
        prev = f"rcent{t}"
    return f"""{_INT8_CODES_CTES},
sflat AS MATERIALIZED (
  SELECT vec_id,
         CAST(unnest(range(len(code))) AS BIGINT) // {sub} AS sub,
         CAST(unnest(range(len(code))) AS BIGINT) % {sub} AS sdim,
         unnest(code) AS val
  FROM codes
),
{int8_code_ctes("ccents", key="ccid", vec="cvec", prefix="cc")},
ccflat AS MATERIALIZED (
  SELECT ccid,
         CAST(unnest(range(len(code))) AS BIGINT) // {sub} AS sub,
         CAST(unnest(range(len(code))) AS BIGINT) % {sub} AS sdim,
         unnest(code) AS cval
  FROM cccodes
),
rflat AS MATERIALIZED (
  SELECT f.vec_id, f.sub, f.sdim, f.val - cc.cval AS val
  FROM sflat f
  JOIN cassign a ON a.vec_id = f.vec_id
  JOIN ccflat cc ON cc.ccid = a.list_id
                AND cc.sub = f.sub AND cc.sdim = f.sdim
),
rseeds AS (
  SELECT vec_id,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
  FROM (SELECT vec_id FROM codes ORDER BY vec_id LIMIT {k})
),
rcent0 AS (
  SELECT s.cid, f.sub, f.sdim, f.val AS cval
  FROM rseeds s JOIN rflat f USING (vec_id)
),
{",".join(its)},
rdf_ AS MATERIALIZED (
  SELECT f.vec_id, f.sub, c.cid,
         sum((f.val - c.cval) * (f.val - c.cval)) AS dist
  FROM rflat f JOIN {prev} c ON c.sub = f.sub AND c.sdim = f.sdim
  GROUP BY f.vec_id, f.sub, c.cid
),
rasg_f AS MATERIALIZED (
  SELECT vec_id, sub, cid FROM rdf_
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY dist, cid) = 1
)"""


def _ivf_pq_residual_oracle() -> str:
    from ..operators import pq as PQ
    from .northstar_queries import (
        _ANN_K,
        _ANN_QUERY_IDS,
        _IVF_INT8_N_LIST,
        _IVF_INT8_N_PROBE,
    )

    ids = ", ".join(str(i) for i in _ANN_QUERY_IDS)
    final = f"rcent{PQ.PQ_ITERS}"
    return (
        "WITH "
        + _ivf_coarse_sql(_IVF_INT8_N_LIST, _IVF_INT8_N_PROBE, ids)
        + ",\n"
        + pq_residual_train_ctes()
        + f""",
qlut AS MATERIALIZED (
  -- per-(query, probe-list) residual ADC table: the query's code
  -- minus THAT list's centroid code, against the residual codebooks
  SELECT p.query_id, p.list_id, c.sub, c.cid,
         CAST(sum(((f.val - cc.cval) - c.cval)
                * ((f.val - cc.cval) - c.cval)) AS BIGINT) AS d
  FROM cprobes p
  JOIN sflat f ON f.vec_id = p.query_id
  JOIN ccflat cc ON cc.ccid = p.list_id
                AND cc.sub = f.sub AND cc.sdim = f.sdim
  JOIN {final} c ON c.sub = f.sub AND c.sdim = f.sdim
  GROUP BY p.query_id, p.list_id, c.sub, c.cid
),
cpairs AS (
  SELECT p.query_id, p.list_id, a.vec_id AS cand_id
  FROM cprobes p
  JOIN cassign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
),
cadc AS (
  SELECT pr.query_id, pr.cand_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM cpairs pr
  JOIN rasg_f a2 ON a2.vec_id = pr.cand_id
  JOIN qlut l ON l.query_id = pr.query_id AND l.list_id = pr.list_id
             AND l.sub = a2.sub AND l.cid = a2.cid
  GROUP BY pr.query_id, pr.cand_id
)
SELECT query_id, cand_id, adc_dist, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, cand_id) AS rnk
  FROM cadc
) WHERE rnk <= {_ANN_K}
"""
    )


@register(
    "ann_ivf_pq_residual",
    oracle=_ivf_pq_residual_oracle(),
    tags=("curation", "similarity", "quantization", "approx", "ann"),
    doc="RESIDUAL-encoded IVF-PQ serving — the FAISS IVFx,PQy "
    "composition proper, closing the r7 verdict's documented "
    "deviation: PQ trains on code − coarse-centroid-code, so the "
    "K=16 sub-codebooks spend their capacity on the WITHIN-list "
    "spread instead of re-encoding the coarse offset the list id "
    "already captures; the ADC lookup table becomes per-(query, "
    "probe-list) — the query's residual against that list's "
    "centroid — still M lookups per candidate. Residuals are exact "
    "bigint subtractions of two int8-coded vectors, so the whole "
    "build (coarse assignment, centroid codes, residuals, Lloyd "
    "rounds, ADC) replays in the oracle and the PRUNED result "
    "value-hashes cross-engine. Round 9 closes the r8 verdict's gap: "
    "the coarse quantizer is the REFINED (fixed-point Lloyd-mean) "
    "configuration — the one round 8 measured residual PQ actually "
    "beating raw ADC under (0.23/0.34 vs 0.13/0.12) — not the "
    "seed-point floor the oracle previously required; "
    "ivf_refined_cents_sql replays the refinement exactly. Recall@5 "
    "pinned strictly above raw ADC in tests/test_ivf_pq.py.",
)
def ann_ivf_pq_residual(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from ..operators import pq as PQ
    from .northstar_queries import (
        _ANN_K,
        _ANN_QUERY_IDS,
        _IVF_INT8_N_LIST,
        _IVF_INT8_N_PROBE,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ent = _IVF_PQ_RES_LAYOUT_CACHE.get(sf_dir)
    if ent is None:
        from ..operators import similarity

        cents = similarity.build_ivf_centroids(
            emb, n_list=_IVF_INT8_N_LIST, refine=True
        )
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            tempfile.gettempdir(), f"jly_ivf_pq_res_{tag}", "corpus"
        )
        pq_state, subdim = PQ.persist_ivf_pq_residual(emb, path, cents)
        ent = (path, cents, pq_state, subdim)
        _IVF_PQ_RES_LAYOUT_CACHE[sf_dir] = ent
    path, cents, pq_state, subdim = ent
    queries = emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS))
    return PQ.serve_ann_topk_ivf_pq_residual(
        spark,
        queries,
        path,
        cents,
        pq_state,
        subdim,
        k=_ANN_K,
        n_probe=_IVF_INT8_N_PROBE,
    )


# --------------------------------------------------------------------
# Adamic–Adar link prediction (round 8): the degree-weighted upgrade
# of common-neighbors — a shared RARE neighbor is stronger evidence
# than a shared hub
# --------------------------------------------------------------------
AA_SCALE = 1_000_000_000_000  # 1e12: micro-units over qln's 1e6

# Loud-guard bound on per-pair n_common for the packed count+sum long
# (round 13, ADVICE): WEDGE_DEGREE_CAP bounds wedge CENTERS only —
# n_common per (x, y) pair is bounded by min(deg x, deg y), which is
# uncapped, so a hub pair could overflow the packing silently (ANSI
# off wraps int64). Every pk the guard passes is provably exact:
# n_common ≤ 2²⁰ ⇒ Σaaterm ≤ 2²⁰ · 1,442,695 ≈ 1.51e12 < 2⁴², so the
# sum never spills into the count bits, and pk < 2⁶² never wraps.
AA_PACKED_NCOMMON_MAX = 1 << 20


def _aa_packed_guard():
    """Guarded `pk` column: passes provably-exact packed values,
    raises loudly otherwise (see AA_PACKED_NCOMMON_MAX). Wrapping
    clean PAST this guard would need n_common within 2²⁰ of a
    multiple of 2²² (≥ 4.19M common neighbors on one pair) — switch
    to separate count/sum agg columns before running a graph whose
    endpoint degrees can reach that."""
    ok = (F.col("pk") >= F.lit(1 << 42)) & (
        F.expr(f"pk div {1 << 42}") <= F.lit(AA_PACKED_NCOMMON_MAX)
    )
    return F.when(ok, F.col("pk")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "graph_adamic_adar_topk: packed count+sum overflow"
                    " on pair xy="
                ),
                F.col("xy").cast("string"),
                F.lit(
                    f" (n_common > {AA_PACKED_NCOMMON_MAX} or wrapped)"
                    " — endpoint degrees exceed the packing margin;"
                    " use separate count/sum agg columns"
                ),
            )
        ).cast("bigint")
    )


def _adamic_adar_oracle() -> str:
    return f"""{_chunk_graph_prefix()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges
),
adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v AS node, u AS nbr FROM und
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY node
),
wedges AS (
  SELECT a.nbr AS x, b.nbr AS y,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum({AA_SCALE} // CAST(round(ln(CAST(g.d AS DOUBLE))
              * 1000000) AS BIGINT)) AS BIGINT) AS aa_micro
  FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
  JOIN deg g ON g.node = a.node
  GROUP BY a.nbr, b.nbr
),
nonedges AS (
  SELECT w.x, w.y, w.n_common, w.aa_micro FROM wedges w
  LEFT JOIN und e ON e.u = w.x AND e.v = w.y
  WHERE e.u IS NULL
)
SELECT x AS doc_a, y AS doc_b, n_common, aa_micro,
       CAST(row_number() OVER (ORDER BY aa_micro DESC, x, y) AS BIGINT)
         AS rnk
FROM nonedges
ORDER BY aa_micro DESC, x, y LIMIT {LINKPRED_TOPK}
"""


# Pre-shuffle adjacency filter bound (round 12): edge lists at or
# under this many rows broadcast as ~16 MB of packed 8-byte keys.
LINKPRED_PREFILTER_MAX_EDGES = 2_000_000

# Per-(application, sf_dir) memo of the staged dup-chunk edge count.
# The broadcast-vs-post-filter decision is data-dependent, so the
# FIRST link-prediction plan built in a session pays one count job;
# the memo keeps the other two family members (and repeated builds,
# e.g. explain-only inspection after any query ran) side-effect-free.
# Plan-stats estimates are no substitute here: the edge list is a
# join→distinct chain whose sizeInBytes estimate is off by orders of
# magnitude, and a false "too big" silently re-inflates the ×10
# probe's largest shuffle from 884 MB back to 1 GB.
_UND_EDGE_COUNT_MEMO: dict[tuple[str, str], int] = {}


def _wedges_sans_edges(wp, und, memo_key=None):
    """Drop ADJACENT pairs from packed wedge rows BEFORE the
    groupBy(xy) exchange, when the edge list broadcasts. Near-dup
    chunk cliques make adjacent wedge pairs the dominant share of
    all wedges (every wedge pair inside a k-clique is adjacent), and
    the link-prediction family shuffled all of them only to
    anti-join them away after the combine — the ×10 probe's single
    largest shuffle (1,004 MB, rounds 9–11). The same packed und
    keys filter identically on either side of the aggregate, so
    semantics are exact. Above the bound (the 100 TB case, where
    edges outgrow the driver) the caller's post-agg anti-join stays:
    returns (wedges, post_filter_needed)."""
    from ..operators.graph import WEDGE_PACK_BASE

    # und is staged — this count materializes the checkpoint once
    # and every downstream read (adj, the broadcast, any post
    # anti-join) reuses it. Memoized per (application, sf_dir) so
    # plan construction triggers at most one job per session/corpus.
    n_edges = _UND_EDGE_COUNT_MEMO.get(memo_key) if memo_key else None
    if n_edges is None:
        n_edges = und.count()
        if memo_key:
            _UND_EDGE_COUNT_MEMO[memo_key] = n_edges
    if n_edges > LINKPRED_PREFILTER_MAX_EDGES:
        return wp, True
    undxy = und.select(
        (
            F.col("u").cast("bigint") * F.lit(WEDGE_PACK_BASE)
            + F.col("v").cast("bigint")
        ).alias("xy")
    )
    return wp.join(F.broadcast(undxy), "xy", "left_anti"), False


@register(
    "graph_adamic_adar_topk",
    oracle=_adamic_adar_oracle(),
    tags=("curation", "graph", "topk"),
    doc="Adamic–Adar link prediction over the duplicate-chunk graph: "
    "the top-20 NON-adjacent doc pairs by Σ 1/ln(deg(z)) over shared "
    "neighbors z — the degree-weighted refinement of "
    "graph_link_prediction_topk (a shared RARE neighbor is stronger "
    "duplicate evidence than a shared hub; hubs in this graph are "
    "boilerplate chunks shared by many docs, exactly the neighbors "
    "that should count least). Exact integer scoring: per wedge "
    "center, 1e12 div round(ln(deg)·1e6) — the quantized-ln trick "
    "the information-theory tier uses, deg ≥ 2 on any wedge so the "
    "divisor is never 0 — summed as BIGINT, so both engines rank "
    "identically. Scale shape (round 9): wedge candidates come from "
    "graph.wedge_pairs — one groupBy(node) exchange + map-side "
    "combination explode over df-capped neighbor lists, each wedge "
    "emitted once (the old adj self-join shuffled the adjacency "
    "twice) — and the center degree rides along on the wedge row, "
    "so the separate degree join disappears; TakeOrdered top-20, "
    "never a global sort. Round 12 shuffle shave: adjacent pairs "
    "drop BEFORE the exchange via a broadcast anti-join on packed "
    "edge keys (size-guarded; the post-agg anti-join returns when "
    "edges outgrow the driver) and count+sum ride one packed long — "
    "×10 probe 1,004 → 884 MB at unchanged wall/skew. The remainder "
    "is the candidate set itself (66M distinct pairs ≈ the lz4 "
    "floor): top-k score-bound pruning was MEASURED dead on this "
    "graph — degree-bound min(dx,dy)·aaterm_max prunes 0 of 66M "
    "(every bound ≥ 2.89e6 vs floor 3.24e6), the tighter "
    "neighbor-aaterm-sum bound prunes 1.7%, min-neighbor wedge "
    "clustering −5% at +3 s wall — so the fabric-bound lever is the "
    "documented SPARK_GRAFT_IO_CODEC=zstd (−48% on this exchange).",
)
def graph_adamic_adar_topk(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.graph import wedge_pairs, wedge_unpack

    docs = load_table(spark, sf_dir, "documents")
    und = _dup_chunk_und(docs).transform(stage)
    adj = und.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    # wedge_pairs carries the center's degree d on every wedge row —
    # the per-center AA term needs no degree join at all. packed=True
    # shrinks the widest shuffle here (1.22 GB at ×10 in the round-9
    # probe) to (xy, aaterm) longs; unpack after the combine.
    # Round 12: count and sum ride ONE long — the wedge value is
    # 2⁴² + aaterm, so Σ carries n_common in the high bits and
    # aa_micro in the low 42, dropping a third 8-byte column from
    # every partial-agg shuffle row. Headroom (corrected round 13):
    # WEDGE_DEGREE_CAP caps wedge CENTERS, not endpoints — n_common
    # per pair is ≤ min(deg x, deg y), which is uncapped — so the
    # packing is exact only while n_common ≤ 2⁴²/1,442,695 ≈ 3.0M
    # and int64-safe while n_common < 2²¹. _aa_packed_guard below
    # raises loudly at n_common > 2²⁰, far inside both bounds,
    # instead of ranking on silently-wrapped scores.
    wp = wedge_pairs(
        adj, max_degree=WEDGE_DEGREE_CAP, packed=True
    ).withColumn(
        "aapacked",
        F.expr(
            f"{1 << 42} + {AA_SCALE} div"
            " cast(round(ln(cast(d as double)) * 1000000) as bigint)"
        ),
    )
    wp, post_filter = _wedges_sans_edges(
        wp, und, memo_key=(spark.sparkContext.applicationId, sf_dir)
    )
    ux, uy = wedge_unpack("xy")
    wedges = (
        wp.groupBy("xy")
        .agg(F.sum("aapacked").alias("pk"))
        .withColumn("pk", _aa_packed_guard())
        .select(
            ux.alias("x"),
            uy.alias("y"),
            F.expr(f"pk div {1 << 42}").cast("bigint").alias("n_common"),
            F.expr(f"pk % {1 << 42}").cast("bigint").alias("aa_micro"),
        )
    )
    nonedges = (
        wedges.join(
            und,
            (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
            "left_anti",
        )
        if post_filter
        else wedges
    )
    top = nonedges.orderBy(
        F.col("aa_micro").desc(), "x", "y"
    ).limit(LINKPRED_TOPK)
    return top.select(
        F.col("x").alias("doc_a"),
        F.col("y").alias("doc_b"),
        "n_common",
        "aa_micro",
        F.row_number()
        .over(Window.orderBy(F.col("aa_micro").desc(), "x", "y"))
        .cast("bigint")
        .alias("rnk"),
    )


def _jaccard_linkpred_oracle() -> str:
    return f"""{_chunk_graph_prefix()},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges
),
adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v AS node, u AS nbr FROM und
),
deg AS (
  SELECT nbr AS node, CAST(count(*) AS BIGINT) AS d
  FROM adj GROUP BY nbr
),
wedges AS (
  SELECT a.nbr AS x, b.nbr AS y,
         CAST(count(*) AS BIGINT) AS n_common
  FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
  GROUP BY a.nbr, b.nbr
),
nonedges AS (
  SELECT w.x, w.y, w.n_common,
         CAST(w.n_common * 1000000
              // (dx.d + dy.d - w.n_common) AS BIGINT) AS jaccard_ppm
  FROM wedges w
  JOIN deg dx ON dx.node = w.x
  JOIN deg dy ON dy.node = w.y
  LEFT JOIN und e ON e.u = w.x AND e.v = w.y
  WHERE e.u IS NULL
)
SELECT x AS doc_a, y AS doc_b, n_common, jaccard_ppm,
       CAST(row_number() OVER (ORDER BY jaccard_ppm DESC, x, y)
            AS BIGINT) AS rnk
FROM nonedges
ORDER BY jaccard_ppm DESC, x, y LIMIT {LINKPRED_TOPK}
"""


@register(
    "graph_jaccard_linkpred_topk",
    oracle=_jaccard_linkpred_oracle(),
    tags=("curation", "graph", "topk"),
    doc="Neighborhood-Jaccard link prediction over the duplicate-"
    "chunk graph: top-20 NON-adjacent pairs by |Γ(x)∩Γ(y)| / "
    "|Γ(x)∪Γ(y)| in exact ppm — the normalized third member of the "
    "link-prediction family (common-neighbors counts raw overlap, "
    "Adamic–Adar discounts hubs among the SHARED neighbors, Jaccard "
    "discounts pairs whose OWN neighborhoods are large, i.e. "
    "boilerplate-heavy docs that overlap with everything). Exact "
    "integers throughout: union size = deg(x)+deg(y)−common, no "
    "transcendental needed. Scale shape (round 9): wedge candidates "
    "come from graph.wedge_pairs — one groupBy(node) exchange + "
    "map-side combination explode, each wedge emitted once; the "
    "degree join here attaches to the wedge ENDPOINTS "
    "(two broadcast-sized joins on the pair table, which is already "
    "df-cap-bounded), TakeOrdered top-20.",
)
def graph_jaccard_linkpred_topk(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.graph import wedge_pairs, wedge_unpack

    docs = load_table(spark, sf_dir, "documents")
    und = _dup_chunk_und(docs).transform(stage)
    adj = und.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("nbr").agg(
        F.count("*").cast("bigint").alias("d")
    ).select(F.col("nbr").alias("node"), "d")
    ux, uy = wedge_unpack("xy")
    wp, post_filter = _wedges_sans_edges(
        wedge_pairs(adj, max_degree=WEDGE_DEGREE_CAP, packed=True),
        und,
        memo_key=(spark.sparkContext.applicationId, sf_dir),
    )
    wedges = (
        wp.groupBy("xy")
        .agg(F.count("*").cast("bigint").alias("n_common"))
        .select(ux.alias("x"), uy.alias("y"), "n_common")
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    scored = (
        wedges.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .withColumn(
            "jaccard_ppm",
            F.expr("n_common * 1000000 div (dx + dy - n_common)")
            .cast("bigint"),
        )
    )
    nonedges = (
        scored.join(
            und,
            (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
            "left_anti",
        )
        if post_filter
        else scored
    )
    top = nonedges.orderBy(
        F.col("jaccard_ppm").desc(), "x", "y"
    ).limit(LINKPRED_TOPK)
    return top.select(
        F.col("x").alias("doc_a"),
        F.col("y").alias("doc_b"),
        "n_common",
        "jaccard_ppm",
        F.row_number()
        .over(Window.orderBy(F.col("jaccard_ppm").desc(), "x", "y"))
        .cast("bigint")
        .alias("rnk"),
    )


# --------------------------------------------------------------------
# Silhouette clustering-quality audit (round 8) — zero pair join
# --------------------------------------------------------------------
def _silhouette_oracle() -> str:
    prefix, prev = _kmeans_cte_prefix()
    return f"""{prefix},
vq2 AS (
  SELECT vec_id, CAST(sum(val * val) AS BIGINT) AS m2 FROM flat
  GROUP BY vec_id
),
cn AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg_f GROUP BY cid
),
cs2 AS (
  SELECT a.cid, CAST(sum(v.m2) AS BIGINT) AS s2
  FROM asg_f a JOIN vq2 v USING (vec_id) GROUP BY a.cid
),
cs1 AS (
  SELECT a.cid, f.dim, CAST(sum(f.val) AS BIGINT) AS s1
  FROM asg_f a JOIN flat f USING (vec_id) GROUP BY a.cid, f.dim
),
dots AS (
  -- dot(x_i, S1_c) for EVERY (vector, cluster): O(n*K*d) slim rows
  SELECT f.vec_id, s.cid, CAST(sum(f.val * s.s1) AS BIGINT) AS dt
  FROM flat f JOIN cs1 s USING (dim) GROUP BY f.vec_id, s.cid
),
sums AS (
  -- sum of squared L2 from x_i to every member of cluster c
  SELECT d.vec_id, d.cid,
         n.n * v.m2 + s2.s2 - 2 * d.dt AS tot,
         n.n AS n
  FROM dots d
  JOIN cn n USING (cid) JOIN cs2 s2 USING (cid)
  JOIN vq2 v ON v.vec_id = d.vec_id
),
ab AS (
  SELECT s.vec_id, a.cid,
         CASE WHEN own.n >= 2
              THEN CAST(own.tot // (own.n - 1) AS BIGINT) END AS a_i,
         CAST(min(CASE WHEN s.cid <> a.cid
                  THEN s.tot // s.n END) AS BIGINT) AS b_i
  FROM sums s
  JOIN asg_f a ON a.vec_id = s.vec_id
  JOIN sums own ON own.vec_id = s.vec_id AND own.cid = a.cid
  GROUP BY s.vec_id, a.cid, own.tot, own.n
),
sil AS (
  SELECT cid,
         CASE WHEN a_i IS NULL THEN 0
              ELSE (b_i - a_i) * 1000000
                   // greatest(a_i, b_i, 1) END AS s_micro
  FROM ab
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(s_micro) // count(*) AS BIGINT)
         AS mean_silhouette_micro,
       CAST(min(s_micro) AS BIGINT) AS min_silhouette_micro
FROM sil GROUP BY cid
"""


@register(
    "embedding_silhouette_by_cluster",
    oracle=_silhouette_oracle(),
    tags=("curation", "embedding", "clustering", "ml"),
    doc="Silhouette clustering-quality audit over the K-means "
    "assignment — squared-L2 variant in exact integer micro units: "
    "per vector, a = mean within-cluster squared distance, b = best "
    "other-cluster mean, s = (b−a)/max(a,b); per cluster, mean and "
    "min s (singleton clusters contribute s=0, the standard "
    "convention). THE scale trick: Σ_j d²(i,j) over a cluster "
    "equals n·|x_i|² + Σ|x_j|² − 2·x_i·Σx_j, so the audit needs "
    "only per-cluster sufficient statistics (size, Σ|x|², the "
    "Σx vector — K·d model state) and ONE slim (vector × cluster) "
    "dot pass — NO pairwise join, O(n·K·d) instead of O(n²·d). "
    "Everything is exact int64 on the certified int8 codes, so the "
    "oracle replays training AND the audit bit for bit.",
)
def embedding_silhouette_by_cluster(spark, sf_dir):
    from ..operators.clustering import KM_ITERS, KM_K
    from ..operators.pq import pq_train_encode

    emb = load_table(spark, sf_dir, "embeddings")
    # K-means is PQ with one subspace: its coded frame carries both
    # the int8 codes and the final assignment, quantized once
    _, coded, _ = pq_train_encode(emb, m=1, k=KM_K, iterations=KM_ITERS)
    coded = coded.transform(stage)
    flat = coded.select(
        "vec_id", F.posexplode("code").alias("dim", "val")
    )
    vq2 = coded.select(
        "vec_id",
        F.aggregate(
            "code",
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v * v,
        ).alias("m2"),
    )
    a = coded.select("vec_id", F.col("pq")[0].alias("cid"))
    cn = a.groupBy("cid").agg(F.count("*").cast("bigint").alias("n"))
    cs2 = a.join(vq2, "vec_id").groupBy("cid").agg(
        F.sum("m2").cast("bigint").alias("s2")
    )
    cs1 = a.join(flat, "vec_id").groupBy("cid", "dim").agg(
        F.sum("val").cast("bigint").alias("s1")
    )
    dots = (
        flat.join(cs1, "dim")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.col("val") * F.col("s1")).cast("bigint").alias("dt"))
    )
    sums = (
        dots.join(F.broadcast(cn), "cid")
        .join(F.broadcast(cs2), "cid")
        .join(vq2, "vec_id")
        .select(
            "vec_id",
            "cid",
            (F.col("n") * F.col("m2") + F.col("s2") - 2 * F.col("dt"))
            .alias("tot"),
            "n",
        )
        .transform(stage)
    )
    mine = a.join(sums, ["vec_id", "cid"]).select(
        "vec_id",
        F.col("cid").alias("own_cid"),
        F.when(F.col("n") >= 2, F.expr("tot div (n - 1)"))
        .cast("bigint")
        .alias("a_i"),
    )
    others = (
        sums.join(a.withColumnRenamed("cid", "own_cid"), "vec_id")
        .filter(F.col("cid") != F.col("own_cid"))
        .groupBy("vec_id")
        .agg(F.min(F.expr("tot div n")).cast("bigint").alias("b_i"))
    )
    sil = mine.join(others, "vec_id").select(
        F.col("own_cid").alias("cid"),
        F.when(F.col("a_i").isNull(), F.lit(0))
        .otherwise(
            F.expr(
                "(b_i - a_i) * 1000000 div greatest(a_i, b_i, 1)"
            )
        )
        .cast("bigint")
        .alias("s_micro"),
    )
    return sil.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.expr("sum(s_micro) div count(*)")
        .cast("bigint")
        .alias("mean_silhouette_micro"),
        F.min("s_micro").cast("bigint").alias("min_silhouette_micro"),
    )


# --------------------------------------------------------------------
# Per-source domain cap (round 9) — RefinedWeb-style curation
# --------------------------------------------------------------------
# Cap = greatest(floor, corpus // DEN): relative with a floor, the
# Apriori lesson applied to sampling — a cap that scales with the
# corpus keeps per-source retention meaningful at every SF, while an
# absolute constant silently becomes all-of-source (tiny corpora) or
# a rounding error (100 TB).
SOURCE_CAP_MIN = 2
SOURCE_CAP_DEN = 100


@register(
    "curation_source_cap_sample",
    oracle=f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
  FROM documents
)
SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk
FROM ranked, n
WHERE rnk <= greatest({SOURCE_CAP_MIN}, total // {SOURCE_CAP_DEN})
""",
    tags=("curation", "sampling", "window"),
    doc="Per-source domain cap (the RefinedWeb curation move the "
    "mixture tier lacked): no source may contribute more than "
    "cap = max(2, corpus//100) documents, the survivors chosen by a "
    "DETERMINISTIC hash ranking (md5 of doc_id) so the sample is "
    "reproducible across engines, runs, and partitionings — no RNG, "
    "no sampleBy. One row_number window per source over the slim "
    "(doc_id, source) projection; the text column is never read "
    "(scan prunes to two columns). Skew note for a real crawl: a "
    "single domain can be percent-scale of a 100 TB corpus, making "
    "its window partition a straggler — the fix is the sharded "
    "rank decomposition in operators/ranking.py (boundary_sharded "
    "on the hash key within the hot source); the synthetic corpus's "
    "uniform sources keep the direct window the honest benchmark "
    "shape here.",
)
def curation_source_cap_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # model-state scalar, mirroring the oracle's scalar subquery
    total = docs.count()
    cap = max(SOURCE_CAP_MIN, total // SOURCE_CAP_DEN)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= cap)
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights (round 12): the classic
# multilingual/multi-source sampling rule p_d ∝ n_d^(1/T) with T=2
# (Arivazhagan et al. 2019; mT5's exponent family) — the static
# companion to DoReMi's learned update: upsample the tail, damp the
# head, with an exactly-apportioned ppm budget.
# ---------------------------------------------------------------------------
MIX_TEMP_SQRT_MILLI = 1_000  # sqrt quantization: floor(sqrt(n)·1e3)


@register(
    "mixture_temperature_weights",
    oracle=f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({{toks}})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
sq AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))
              * {MIX_TEMP_SQRT_MILLI}) AS BIGINT) AS s_milli
  FROM per
),
tot AS (SELECT CAST(sum(s_milli) AS BIGINT) AS s FROM sq),
base AS (
  SELECT q.source, q.n_docs, q.n_tokens, q.s_milli,
         CAST(q.s_milli * 1000000 // greatest(t.s, 1) AS BIGINT)
           AS w_floor,
         CAST(q.s_milli * 1000000 % greatest(t.s, 1) AS BIGINT) AS rem
  FROM sq q, tot t
),
lo AS (SELECT CAST(1000000 - sum(w_floor) AS BIGINT) AS l FROM base)
SELECT b.source, b.n_docs, b.n_tokens, b.s_milli,
       CAST(b.w_floor + CASE WHEN
              CAST(row_number() OVER (ORDER BY b.rem DESC, b.source)
                   AS BIGINT) <= lo.l
            THEN 1 ELSE 0 END AS BIGINT) AS weight_ppm
FROM base b, lo
""".replace(
        "{toks}",
        "list_filter(string_split(lower(text), ' '), t -> t <> '')",
    ),
    tags=("curation", "mixture", "training"),
    doc="Temperature-scaled source sampling weights, T=2 "
    "(Arivazhagan et al. 2019 / the mT5 exponent family): "
    "p_d ∝ n_d^(1/2) over per-source token counts — upsample the "
    "tail, damp the head, the static mixture rule next to DoReMi's "
    "learned one. Exact arithmetic: ONE milli-quantized IEEE sqrt "
    "per source (correctly rounded on both engines — the "
    "round(·1e6) libm discipline's square-root sibling), then pure "
    "integers: floor-div ppm shares plus LARGEST-REMAINDER "
    "apportionment (Hamilton's method; remainder DESC, source "
    "ties), so Σ weight_ppm = 1,000,000 EXACTLY — a real sampler "
    "can consume the row as-is with no renormalization drift. "
    "Headroom: s_milli ≤ 1e9 at 10¹² tokens/source; ·1e6 stays "
    "under 2⁶³ until ~8.5e24 tokens. Scale shape: one map-side-"
    "combined (source) count aggregation over the corpus; every "
    "later step runs on |sources| rows behind a broadcast total.",
)
def mixture_temperature_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text"))))
        .cast("bigint")
        .alias("n_tokens"),
    )
    # stage the |sources|-row agg result: it feeds BOTH the total
    # (for the broadcast) and the apportionment below — unstaged,
    # each branch re-runs the corpus tokenization scan (measured ×10:
    # two identical 2.6 s stages, round-13 probe)
    sq = stage(
        per.withColumn(
            "s_milli",
            F.floor(
                F.sqrt(F.col("n_tokens").cast("double"))
                * F.lit(float(MIX_TEMP_SQRT_MILLI))
            ).cast("bigint"),
        )
    )
    tot = sq.agg(F.sum("s_milli").cast("bigint").alias("s"))
    # |sources|-row frame read twice (the leftover count AND the
    # final apportionment) — cut lineage so the corpus aggregation
    # under it runs once, not once per reader.
    base = stage(
        sq.crossJoin(F.broadcast(tot)).select(
            "source",
            "n_docs",
            "n_tokens",
            "s_milli",
            # greatest(s, 1): an all-empty-text corpus makes every
            # s_milli (hence the total) 0, where Spark's div yields
            # NULL but DuckDB's // raises — the guard makes both
            # engines emit 0 identically (nch's existing pattern).
            F.expr("s_milli * 1000000 div greatest(s, 1)")
            .cast("bigint")
            .alias("w_floor"),
            F.expr("s_milli * 1000000 % greatest(s, 1)")
            .cast("bigint")
            .alias("rem"),
        )
    )
    lo = base.agg(
        (F.lit(1_000_000) - F.sum("w_floor"))
        .cast("bigint")
        .alias("l")
    )
    w = Window.orderBy(F.col("rem").desc(), "source")
    return (
        base.crossJoin(F.broadcast(lo))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "s_milli",
            (
                F.col("w_floor")
                + F.when(F.col("rn") <= F.col("l"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("weight_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (round 11): one multiplicative-
# weights update over per-domain EXCESS LOSS (proxy LM − reference
# LM), α-smoothed toward uniform — the Domain Reweighting with
# Minimax Optimization weight-update step (Xie et al. 2023) with the
# repo's two corpus-trained LMs playing proxy (interpolated KN) and
# reference (add-1), in exact integer arithmetic.
# ---------------------------------------------------------------------------
DOREMI_EXCESS_CAP_MILLI = 2_000  # clamp excess at 2 nats: e² ≈ 7.39
# keeps n_d · expq · 10⁶ inside int64 for n_d ≤ ~10⁶ docs per domain
DOREMI_MAX_DOMAIN_DOCS = 1_000_000
DOREMI_ALPHA_DEN = 5  # α = 1/5 uniform smoothing (final = (4w+u)/5)


def _doremi_oracle() -> str:
    return f"""
WITH {trigram_lm_ctes()},
{kn_lm_ctes()},
j AS (
  SELECT d.source,
         CAST(k.kn_logppl_micro // 1000 AS BIGINT) AS py,
         CAST(a.logppl_micro // 1000 AS BIGINT) AS ry
  FROM kn_docppl k
  JOIN docppl a USING (doc_id)
  JOIN documents d USING (doc_id)
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(py) AS BIGINT) AS sp,
         CAST(sum(ry) AS BIGINT) AS sr
  FROM j GROUP BY 1
),
stats AS (
  SELECT source, n_docs,
         CAST(sp // n_docs AS BIGINT) AS proxy_mean_milli,
         CAST(sr // n_docs AS BIGINT) AS ref_mean_milli,
         least(greatest(CAST(sp // n_docs AS BIGINT)
                        - CAST(sr // n_docs AS BIGINT), 0),
               {DOREMI_EXCESS_CAP_MILLI}) AS excess_milli
  FROM per_src
),
num AS (
  SELECT *, n_docs * CAST(round(exp(CAST(excess_milli AS DOUBLE)
                / 1000.0) * 1000000) AS BIGINT) AS num
  FROM stats
),
tot AS (
  SELECT CAST(sum(num) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS n_src
  FROM num
)
SELECT n.source, n.n_docs, n.proxy_mean_milli, n.ref_mean_milli,
       n.excess_milli,
       CAST((1000000 * n.num) // t.tot AS BIGINT) AS weight_ppm,
       CAST((({DOREMI_ALPHA_DEN - 1} * ((1000000 * n.num) // t.tot))
            + (1000000 // t.n_src)) // {DOREMI_ALPHA_DEN} AS BIGINT)
         AS doremi_ppm
FROM num n, tot t
"""


@register(
    "mixture_doremi_weights",
    oracle=_doremi_oracle(),
    tags=("curation", "mixture", "ml"),
    doc="DoReMi-style domain reweighting: per source, the mean "
    "milli-nat log-perplexity under the interpolated-KN LM (proxy) "
    "and the add-1 trigram LM (reference) — both corpus-trained, "
    "both already hash-anchored — give excess_d = clamp(proxy − "
    "reference, 0, 2000 milli-nats); one multiplicative-weights "
    "update w_d ∝ (n_d/N)·exp(excess_d) (micro-quantized exp, the "
    "established round(·1e6) libm discipline), normalized to ppm "
    "and α=1/5-smoothed toward uniform — the published DoReMi "
    "update with the proxy-retraining loop collapsed to its one "
    "deterministic step (retraining per round is a training-loop "
    "concern, not a query). Exact integers after the one quantized "
    "exp; a LOUD int64-headroom guard fails any domain past 10⁶ "
    "scored docs (n_d·e²·10⁶·10⁶ approaches 2⁶³) naming the fix. "
    "Scale shape: both scorer subplans are corpus-level count "
    "aggregations (trigram-TYPE-bounded cost tables, broadcast "
    "1-row totals); the weight arithmetic runs on |domains| rows.",
)
def mixture_doremi_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    kn = _kn_perplexity_frame(docs).select(
        "doc_id", F.expr("kn_logppl_micro div 1000").alias("py")
    )
    ref = _trigram_perplexity_frame(docs).select(
        "doc_id", F.expr("logppl_micro div 1000").alias("ry")
    )
    per_src = (
        kn.join(ref, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("py").cast("bigint").alias("sp"),
            F.sum("ry").cast("bigint").alias("sr"),
        )
    )
    per_src = per_src.withColumn(
        "n_docs",
        F.when(
            F.col("n_docs") <= F.lit(DOREMI_MAX_DOMAIN_DOCS),
            F.col("n_docs"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("mixture_doremi_weights: domain "),
                    F.col("source"),
                    F.lit(" has n_docs = "),
                    F.col("n_docs").cast("string"),
                    F.lit(
                        f" > {DOREMI_MAX_DOMAIN_DOCS}; n·expq·1e6"
                        " approaches int64 — rescale the exp"
                        " quantization (micro → deci) before"
                        " raising the cap"
                    ),
                )
            ).cast("bigint")
        ),
    )
    stats = per_src.select(
        "source",
        "n_docs",
        F.expr("sp div n_docs").alias("proxy_mean_milli"),
        F.expr("sr div n_docs").alias("ref_mean_milli"),
    ).withColumn(
        "excess_milli",
        F.expr(
            "least(greatest(proxy_mean_milli - ref_mean_milli, 0),"
            f" {DOREMI_EXCESS_CAP_MILLI})"
        ),
    )
    num = stats.withColumn(
        "num",
        F.expr(
            "n_docs * CAST(round(exp(CAST(excess_milli AS DOUBLE)"
            " / 1000.0) * 1000000) AS BIGINT)"
        ),
    )
    tot = num.agg(
        F.sum("num").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n_src"),
    )
    return (
        num.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "proxy_mean_milli",
            "ref_mean_milli",
            "excess_milli",
            F.expr("(1000000 * num) div tot").alias("weight_ppm"),
            F.expr(
                f"(({DOREMI_ALPHA_DEN - 1} * ((1000000 * num) div tot))"
                f" + (1000000 div n_src)) div {DOREMI_ALPHA_DEN}"
            ).alias("doremi_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum ordering (round 11): easy→hard training order with
# round-robin source interleaving — the data-ordering op between
# mixture weighting and sequence packing in a training pipeline.
# ---------------------------------------------------------------------------
def _curriculum_oracle() -> str:
    return f"""
WITH {kn_lm_ctes()},
scored AS (
  SELECT d.doc_id, d.source,
         CAST(k.kn_logppl_micro // 1000 AS BIGINT) AS kn_milli
  FROM kn_docppl k JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
              ORDER BY kn_milli, doc_id) AS BIGINT) AS wrank
  FROM scored
)
SELECT doc_id, source, kn_milli, wrank,
       CAST(row_number() OVER (ORDER BY wrank, source, doc_id)
            AS BIGINT) AS curriculum_pos
FROM ranked
"""


@register(
    "training_curriculum_order",
    oracle=_curriculum_oracle(),
    tags=("curation", "training", "ranking"),
    doc="Curriculum order over the corpus: each document's "
    "difficulty is its interpolated-KN milli-nat log-perplexity "
    "(the hash-anchored scorer), ranked EASY→HARD within its source "
    "(wrank, a partitioned window), then globally interleaved "
    "round-robin — curriculum_pos is the exact dense position under "
    "(wrank, source, doc_id), so round r of every source precedes "
    "round r+1 of any source: difficulty ramps while domains stay "
    "mixed (the anti-clumping property naive global difficulty "
    "sorts lack). Docs too short to score (<3 tokens) are excluded "
    "by definition. Scale shape: the per-source rank is a "
    "partitioned window (source = the parallel unit); the GLOBAL "
    "dense position comes from global_rank_analytics' sharded "
    "prefix-sum (numeric key wrank, no single-task window "
    "anywhere); both LM subplans are the shared corpus-level count "
    "aggregations.",
)
def training_curriculum_order(spark, sf_dir):
    from ..operators.ranking import global_rank_analytics

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        _kn_perplexity_frame(docs)
        .select(
            "doc_id", F.expr("kn_logppl_micro div 1000").alias("kn_milli")
        )
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    w = Window.partitionBy("source").orderBy("kn_milli", "doc_id")
    ranked = scored.withColumn(
        "wrank", F.row_number().over(w).cast("bigint")
    )
    out = global_rank_analytics(
        ranked,
        "wrank",
        tiebreak=("source", "doc_id"),
        row_number_only=True,
    )
    return out.select(
        "doc_id",
        "source",
        "kn_milli",
        "wrank",
        F.col("g_row_number").cast("bigint").alias("curriculum_pos"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth (round 11): V(N) ≈ K·N^β measured at
# doubling corpus prefixes — the companion to text_zipf_fit (Zipf:
# frequency vs rank at one size; Heaps: vocabulary vs corpus size),
# and the curve that predicts tokenizer-vocab pressure as a corpus
# grows toward 100 TB.
# ---------------------------------------------------------------------------
HEAPS_MIN_DOCS = 16  # first checkpoint; doubles until the corpus ends


def _heaps_oracle() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
  FROM documents
),
tok1 AS (
  SELECT tok, min(rnk) AS first_rnk FROM (
    SELECT d.doc_id, unnest(list_filter(string_split(lower(d.text),
           ' '), t -> t <> '')) AS tok
    FROM documents d
  ) t JOIN ranked r USING (doc_id)
  GROUP BY tok
),
nd AS (SELECT max(rnk) AS n FROM ranked),
cps AS (
  SELECT CAST(p AS BIGINT) AS n_docs
  FROM (SELECT {HEAPS_MIN_DOCS} * (1 << g) AS p
        FROM unnest(generate_series(0, 50)) AS t(g)), nd
  WHERE p < n
  UNION
  SELECT CAST(n AS BIGINT) AS n_docs FROM nd
),
curve AS (
  SELECT c.n_docs,
         CAST(count(t.first_rnk) AS BIGINT) AS vocab
  FROM cps c LEFT JOIN tok1 t ON t.first_rnk <= c.n_docs
  GROUP BY 1
),
pts AS (
  SELECT n_docs, vocab,
         CAST(round(ln(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(greatest(vocab, 1) AS DOUBLE)) * 1000000)
           AS BIGINT) AS y
  FROM curve
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y // 1000000) AS BIGINT) AS sxy,
         CAST(sum(x * x // 1000000) AS BIGINT) AS sxx
  FROM pts
)
SELECT p.n_docs, p.vocab, f.k,
       CAST((1000000 * (f.k * f.sxy - f.sx // 1000 * (f.sy // 1000)))
            // (f.k * f.sxx - f.sx // 1000 * (f.sx // 1000)) AS BIGINT)
         AS beta_ppm
FROM pts p, fit f
"""


@register(
    "text_heaps_fit",
    oracle=_heaps_oracle(),
    tags=("curation", "text", "ml"),
    doc="Heaps'-law fit over doubling corpus prefixes: checkpoints "
    "N ∈ {16, 32, …} docs (doc_id order); V(N) = distinct tokens in "
    "the first N docs, computed in ONE pass — each token's FIRST-"
    "OCCURRENCE doc rank (min doc rank per token, one groupBy) turns "
    "every V(N) into a count of first-occurrences ≤ N, so the curve "
    "costs one token aggregation regardless of checkpoint count "
    "(the naive per-checkpoint distinct would rescan the corpus "
    "log N times). β comes from exact least squares over micro-"
    "quantized (ln N, ln V) pairs — integer sums, one final ppm "
    "division — so both engines agree bit-for-bit. Output: one row "
    "per checkpoint (n_docs, vocab) plus the shared fitted "
    "beta_ppm/intercept_micro on every row (window-free broadcast "
    "of a 1-row fit). Scale shape: one token explode + groupBy, a "
    "|vocab|-row first-occurrence frame, checkpoint rollup is "
    "log N rows.",
)
def text_heaps_fit(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # doc rank = dense position by doc_id (ids may be sparse);
    # checkpoints are powers of two over ranks. The rank window is
    # over the slim (doc_id) projection — at larger corpora swap in
    # global_rank_analytics' sharded path (ids here are ≤ ~100k).
    from ..operators.ranking import global_rank_analytics

    ranked = global_rank_analytics(
        docs.select("doc_id"), "doc_id", row_number_only=True
    ).select("doc_id", F.col("g_row_number").alias("rnk"))
    tok1 = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .join(ranked, "doc_id")
        .groupBy("tok")
        .agg(F.min("rnk").alias("first_rnk"))
    )
    n_docs = ranked.agg(F.max("rnk").alias("n")).head()["n"]
    cps = []
    n = HEAPS_MIN_DOCS
    while n < n_docs:
        cps.append(n)
        n *= 2
    cps.append(int(n_docs))
    cp_df = spark.createDataFrame([(c,) for c in cps], "n_docs long")
    curve = (
        cp_df.join(
            tok1.select("first_rnk"),
            F.col("first_rnk") <= F.col("n_docs"),
            "left",
        )
        .groupBy("n_docs")
        .agg(F.count("first_rnk").cast("bigint").alias("vocab"))
    )
    pts = curve.select(
        "n_docs",
        "vocab",
        F.expr("CAST(round(ln(CAST(n_docs AS DOUBLE)) * 1000000)"
               " AS BIGINT)").alias("x"),
        F.expr("CAST(round(ln(CAST(greatest(vocab, 1) AS DOUBLE))"
               " * 1000000) AS BIGINT)").alias("y"),
    )
    fit = pts.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * y div 1000000")).cast("bigint").alias("sxy"),
        F.sum(F.expr("x * x div 1000000")).cast("bigint").alias("sxx"),
    ).select(
        "k",
        F.expr(
            "CAST((1000000 * (k * sxy - sx div 1000 * (sy div 1000)))"
            " div (k * sxx - sx div 1000 * (sx div 1000)) AS BIGINT)"
        ).alias("beta_ppm"),
    )
    return (
        pts.select("n_docs", "vocab", "x", "y")
        .crossJoin(F.broadcast(fit))
        .select("n_docs", "vocab", "k", "beta_ppm")
        .orderBy("n_docs")
    )
