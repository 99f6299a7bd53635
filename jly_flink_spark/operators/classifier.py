"""Distributed weak-supervision quality classifier: fixed-point
logistic regression trained by full-batch gradient descent, unrolled
declaratively over the DataFrame API.

The standard corpus-curation pattern (CCNet / GPT-3 / LLaMA data
pipelines): a cheap rule labels an anchor slice, a linear model is fit
on per-document features, and the LEARNED scores — which generalize
past the rule's hard edges — gate the corpus. The reference
(an 823-LoC Flink CDC job, SURVEY.md §2.2) has no analog; this
extends the LLM-pipeline surface next to the heuristic
`quality_filter_composite`.

Feature design: the weak rule is a BAND on the stopword ratio plus
one-sided cuts, and a band is not linearly separable in the raw
ratio — so the features are hinge-style VIOLATION distances
(deficit below the band, excess above it, noise over the cut, tokens
under the floor), each 0 exactly when the rule passes. In that space
a linear separator exists (positive bias, negative violation
weights) and GD finds it; the clamp in the hard sigmoid gives
perceptron-like dynamics (confidently-correct docs drop out of the
gradient, so later epochs focus on the boundary).

Why fixed-point integers: floats make iterative GD engine-dependent
(fold order, FMA, libm), which would force a rows-only oracle. Every
quantity here is a scaled BIGINT — features in milli-units (S=1000),
weights in micro-units (Q=1e6), a hard-sigmoid link (clamped linear,
exactly representable), truncating `div` for every rescale (Spark
`div` and DuckDB `//` both truncate toward zero, verified) — so the
unrolled epochs produce bit-identical weights on both engines and
the driver can value-hash the whole iterative computation.

Scale shape (the 100-TB argument):
- ONE corpus scan computes the slim feature table (6 BIGINTs/doc,
  ~48 bytes — 1e11 docs ≈ 5 TB spread across executors), which is
  staged (io.stage) so the regex-heavy text pass never re-executes
  per epoch.
- Each epoch is a single map-side-combined aggregation of the
  feature table down to ONE row of gradient sums (no shuffle of the
  corpus, no per-key exchange — partial aggregation does all the
  work), crossJoin-broadcast back for the next epoch. Epochs are
  unrolled in one lazy plan, PageRank-style (operators/graph.py).
- Weight updates normalize the gradient by n BEFORE applying the
  learning rate ((g div n), then lr), so sums stay within int64 for
  any corpus up to ~9e12 docs (|d·x| ≤ S² = 1e6 per doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import stage

S = 1000  # feature / probability scale (milli-units)
Q = 1_000_000  # weight scale (micro-units)
LR_NUM, LR_DEN = 8, 1  # learning rate 8 (clamped link tolerates it;
# picked by simulating the exact integer recurrence on the corpus —
# boundary false-positives fall 188 → 57 vs lr=1/2)
EPOCHS = 8  # fixed unroll depth (like PR_ITERS)
# The decision threshold: a doc is predicted good (and passes the
# corpus quality gate) iff its hard-sigmoid score p > QUALITY_MIN_P —
# the midpoint of the 0..S scale.
QUALITY_MIN_P = 500

# Weak-rule constants (mirror quality_filter_composite's shape).
MIN_TOKENS = 5
SW_LO, SW_HI = 50, 600  # healthy stopword band, milli-units
NOISE_MAX = 200  # digit+punct milli-ratio cut

# (metric label, weight column) — fold order is part of the contract.
WEIGHT_COLS = (
    ("w_bias", "wb"),
    ("w_short", "wsh"),
    ("w_sw_deficit", "wlo"),
    ("w_sw_excess", "whi"),
    ("w_noise", "wno"),
)
FEATURE_COLS = ("x_bias", "x_short", "x_sw_lo", "x_sw_hi", "x_noise")

_PUNCT_RE = r"[^.,;:!?'\"()-]"


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, x_bias, x_short, x_sw_lo, x_sw_hi, x_noise, y) — all
    BIGINT milli-unit hinge features plus the weak rule label
    (S = good, 0 = bad). Each violation feature is 0 exactly when its
    rule clause passes and grows with the violation distance, capped
    at S; the label is positive iff every violation is 0.
    """
    from .text import stopword_count, token_count

    t = F.col(text_col)
    n_tok = token_count(t).cast("bigint")
    n_sw = stopword_count(t).cast("bigint")
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("bigint")
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("bigint")
    n_punct = F.length(F.regexp_replace(t, _PUNCT_RE, "")).cast("bigint")
    base = docs.select(
        "doc_id",
        n_tok.alias("_nt"),
        n_sw.alias("_ns"),
        n_chars.alias("_nc"),
        n_digit.alias("_nd"),
        n_punct.alias("_np"),
    )
    derived = base.select(
        "doc_id",
        F.col("_nt").alias("_nt"),
        F.expr(f"(_ns * {S}) div greatest(_nt, 1)").alias("_swm"),
        F.expr(f"(_nd * {S}) div _nc + (_np * {S}) div _nc").alias(
            "_noise"
        ),
    )
    x_short = F.expr(
        f"least(greatest({MIN_TOKENS} - _nt, 0) * 200, {S})"
    )
    x_sw_lo = F.expr(f"least(greatest({SW_LO} - _swm, 0) * 20, {S})")
    x_sw_hi = F.expr(f"least(greatest(_swm - {SW_HI}, 0) * 2, {S})")
    x_noise = F.expr(f"least(greatest(_noise - {NOISE_MAX - 1}, 0), {S})")
    out = derived.select(
        "doc_id",
        F.lit(S).cast("bigint").alias("x_bias"),
        x_short.cast("bigint").alias("x_short"),
        x_sw_lo.cast("bigint").alias("x_sw_lo"),
        x_sw_hi.cast("bigint").alias("x_sw_hi"),
        x_noise.cast("bigint").alias("x_noise"),
    )
    label = (
        F.when(
            (F.col("x_short") == 0)
            & (F.col("x_sw_lo") == 0)
            & (F.col("x_sw_hi") == 0)
            & (F.col("x_noise") == 0),
            F.lit(S),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    return out.withColumn("y", label)


def _p_expr() -> str:
    """Hard-sigmoid probability in milli-units: p = clamp(1/2 + z/4,
    0, 1) with z = w·x in real units (w micro × x milli → raw scale
    Q·S; the milli rescale folds to `div 4Q`). Clamped-linear is the
    ONLY sigmoid that is exactly representable in integer arithmetic,
    and its gradient (p − y)·x is the logistic-loss gradient shape."""
    z = " + ".join(f"{w} * {x}" for (_, w), x in zip(WEIGHT_COLS, FEATURE_COLS))
    return f"least(greatest(500 + ({z}) div {4 * Q}, 0), {S})"


def fit_quality_classifier(
    docs: DataFrame, epochs: int = EPOCHS
) -> tuple[DataFrame, DataFrame]:
    """The GD loop itself: returns (feats, w) — the once-checkpointed
    per-doc integer feature table (doc_id + hinge features + y) and
    the 1-row frame of final micro-unit weights, both LAZY. Callers
    compose them declaratively: `train_quality_classifier` folds them
    into the 9-row audit frame; `pipeline_training_corpus_v2` reuses
    the SAME feature table to score the surviving docs, so the
    train→freeze→apply composition costs ONE corpus text scan
    total."""
    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    spark = docs.sparkSession
    # Slim integer feature table, checkpointed once: the regex-heavy
    # text scan runs ONE time, not epochs+1 times.
    feats = quality_features(docs).transform(stage)

    w = spark.range(1).select(
        *[F.lit(0).cast("bigint").alias(c) for _, c in WEIGHT_COLS]
    )
    for _ in range(epochs):
        # `w` must be referenced exactly ONCE per epoch: the update
        # needs both the gradient (which depends on w) and the old
        # weights, and reading w in two places duplicates the whole
        # prior-epoch subtree — 2^epochs plan blowup. So the old
        # weights ride THROUGH the gradient aggregation as constant
        # columns (min of a 1-value column), keeping the plan linear
        # in epochs.
        scored = feats.crossJoin(F.broadcast(w)).select(
            *FEATURE_COLS,
            *[F.col(c) for _, c in WEIGHT_COLS],
            F.expr(f"({_p_expr()}) - y").alias("d"),
        )
        # ONE row out: map-side partial aggregation does all the
        # reduction; the only exchange is the single-partition gather.
        grads = scored.agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.expr(f"d * {x}")).alias(f"g_{w_col}")
                for (_, w_col), x in zip(WEIGHT_COLS, FEATURE_COLS)
            ],
            *[F.min(c).alias(f"prev_{c}") for _, c in WEIGHT_COLS],
        )
        # g div n first (bounds the int64 range for any corpus size),
        # then the rational learning rate; Q/S² = 1 so no rescale.
        # Empty-corpus guards: sums/min are NULL and n is 0 over zero
        # rows — coalesce + greatest keep the weights at their init
        # instead of NULL/div-by-zero (ANSI mode errors on div 0).
        w = grads.select(
            *[
                F.expr(
                    f"coalesce(prev_{c}, 0) - ({LR_NUM} *"
                    f" (coalesce(g_{c}, 0) div greatest(n, 1)))"
                    f" div {LR_DEN}"
                ).alias(c)
                for _, c in WEIGHT_COLS
            ]
        )
    return feats, w


def train_quality_classifier(
    docs: DataFrame, epochs: int = EPOCHS
) -> DataFrame:
    """Train the fixed-point logistic model and return a 9-row audit
    frame (metric STRING, value BIGINT): the five learned micro-unit
    weights plus corpus/label/prediction counts — a value-hash of
    this frame certifies every epoch of the training computation.

    Rows: w_bias w_short w_sw_deficit w_sw_excess w_noise (weights)
          n_docs n_label_pos n_pred_pos n_true_pos (final-pass audit)
    """
    feats, w = fit_quality_classifier(docs, epochs)

    pred = feats.crossJoin(F.broadcast(w)).select(
        "y", F.expr(_p_expr()).alias("p")
    )
    audit = pred.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(
            F.sum(F.expr(f"CASE WHEN y = {S} THEN 1 ELSE 0 END")), F.lit(0)
        ).alias("n_label_pos"),
        F.coalesce(
            F.sum(
                F.expr(f"CASE WHEN p > {QUALITY_MIN_P} THEN 1 ELSE 0 END")
            ),
            F.lit(0),
        ).alias("n_pred_pos"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"CASE WHEN p > {QUALITY_MIN_P} AND y = {S}"
                    " THEN 1 ELSE 0 END"
                )
            ),
            F.lit(0),
        ).alias("n_true_pos"),
    )
    weight_rows = w.selectExpr(
        "stack({n}, {pairs}) AS (metric, value)".format(
            n=len(WEIGHT_COLS),
            pairs=", ".join(f"'{m}', {c}" for m, c in WEIGHT_COLS),
        )
    )
    audit_rows = audit.selectExpr(
        "stack(4, 'n_docs', n_docs, 'n_label_pos', n_label_pos,"
        " 'n_pred_pos', n_pred_pos, 'n_true_pos', n_true_pos)"
        " AS (metric, value)"
    )
    return weight_rows.unionAll(audit_rows).select(
        "metric", F.col("value").cast("bigint").alias("value")
    )


def extract_weights(trained: DataFrame) -> dict[str, int]:
    """Collect the learned weights out of the train audit frame as
    plain ints — model state (9 rows), like the IVF centroid list:
    the train-offline/serve-online boundary."""
    rows = {r["metric"]: r["value"] for r in trained.collect()}
    return {m: int(rows[m]) for m, _ in WEIGHT_COLS}


def score_quality(docs: DataFrame, weights: dict[str, int]) -> DataFrame:
    """(doc_id, p, keep): hard-sigmoid score in milli-units against
    FROZEN weights embedded as literals — a stateless per-row
    projection (zero shuffle, whole-stage codegen) that runs
    unchanged on a batch frame or a streaming micro-batch. The same
    integer arithmetic as training, so batch and stream scores are
    bit-identical."""
    feats = quality_features(docs)
    z = " + ".join(
        f"{weights[m]}L * {x}" for (m, _), x in zip(WEIGHT_COLS, FEATURE_COLS)
    )
    p = f"least(greatest(500 + ({z}) div {4 * Q}, 0), {S})"
    return feats.select(
        "doc_id",
        F.expr(p).cast("bigint").alias("p"),
        (F.expr(p) > QUALITY_MIN_P).alias("keep"),
    )


def with_quality_p(
    docs: DataFrame, weights: dict[str, int], text_col: str = "text"
) -> DataFrame:
    """``docs`` with an added milli-unit ``p`` column — the SAME
    hard-sigmoid arithmetic as `score_quality` (bit-identical p,
    pinned by test) computed as layered projections on the input
    frame itself. For callers that gate a survivor frame on p this
    removes the score-side subtree and the doc_id semi-join back
    (one exchange pair fewer, guide §2.4): the filter fuses into the
    survivor pass. Layered like `quality_features` so the interpreted
    stopword filter chain is referenced once per layer, not inlined
    per use site."""
    from .text import stopword_count, token_count

    t = F.col(text_col)
    n_tok = token_count(t).cast("bigint")
    n_sw = stopword_count(t).cast("bigint")
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("bigint")
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("bigint")
    n_punct = F.length(F.regexp_replace(t, _PUNCT_RE, "")).cast("bigint")
    base = docs.withColumns(
        {
            "_nt": n_tok,
            "_ns": n_sw,
            "_nc": n_chars,
            "_nd": n_digit,
            "_np": n_punct,
        }
    )
    derived = base.withColumns(
        {
            "_swm": F.expr(f"(_ns * {S}) div greatest(_nt, 1)"),
            "_noise": F.expr(
                f"(_nd * {S}) div _nc + (_np * {S}) div _nc"
            ),
        }
    ).drop("_ns", "_nc", "_nd", "_np")
    feats = derived.withColumns(
        {
            "x_bias": F.lit(S).cast("bigint"),
            "x_short": F.expr(
                f"least(greatest({MIN_TOKENS} - _nt, 0) * 200, {S})"
            ).cast("bigint"),
            "x_sw_lo": F.expr(
                f"least(greatest({SW_LO} - _swm, 0) * 20, {S})"
            ).cast("bigint"),
            "x_sw_hi": F.expr(
                f"least(greatest(_swm - {SW_HI}, 0) * 2, {S})"
            ).cast("bigint"),
            "x_noise": F.expr(
                f"least(greatest(_noise - {NOISE_MAX - 1}, 0), {S})"
            ).cast("bigint"),
        }
    ).drop("_nt", "_swm", "_noise")
    z = " + ".join(
        f"{weights[m]}L * {x}" for (m, _), x in zip(WEIGHT_COLS, FEATURE_COLS)
    )
    p = f"least(greatest(500 + ({z}) div {4 * Q}, 0), {S})"
    return feats.withColumn("p", F.expr(p).cast("bigint")).drop(
        *FEATURE_COLS
    )


def serve_quality_stream(
    docs_sdf: DataFrame,
    weights: dict[str, int],
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming quality gate: score a document stream against the
    offline-trained weights and append (doc_id, p, keep) — the
    classifier analog of `similarity.serve_ann_stream`. Stateless
    (each doc scores independently), so recovery is plain
    source-offset replay; per-epoch work is one projection pass.
    Returns the StreamingQuery."""
    return (
        score_quality(docs_sdf, weights)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
