"""One cheap streaming-admission check for the default run (the full
admission suite in test_admission.py is marked slow): the v5 policy
from empty state over a small corpus, with the Kneser-Ney σ gate and
an absolute per-source cap checked against plain-Python replays of
their rules."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from jly_flink_spark.io import load_table
from jly_flink_spark.streaming.admission import (
    BENCH_MAX_DOC,
    admission_decisions,
    empty_state,
)

SF = "/root/testdata/sf0.001"
CAP = 3
# frozen quality-classifier weights: what fit_quality_classifier learns
# on this corpus, passed in as model state the way a stream receives it
WEIGHTS = {
    "w_bias": 537_696,
    "w_short": 0,
    "w_sw_deficit": -3_824_136,
    "w_sw_excess": 0,
    "w_noise": 0,
}


def test_v5_sigma_gate_and_source_cap(spark):
    from jly_flink_spark.plans.curation_queries import (
        doc_trigrams_frame,
        kn_cost_frame,
    )

    corpus = load_table(spark, SF, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    state = empty_state(
        spark,
        corpus.filter(F.col("doc_id") < BENCH_MAX_DOC),
        kn_cost=kn_cost_frame(doc_trigrams_frame(corpus)),
    )
    rows = admission_decisions(
        spark, corpus, state, WEIGHTS, source_cap=CAP, policy="v5"
    ).collect()

    # σ gate: every scored quality survivor carries kn_y; from empty
    # state the statistics pool exactly those scores, so the rule
    # replays on the collected values (truncating mean, squared
    # comparison — all scores are positive, so // truncates as div).
    scored = [r for r in rows if r["kn_y"] is not None]
    n = len(scored)
    sy = sum(r["kn_y"] for r in scored)
    syy = sum(r["kn_y"] ** 2 for r in scored)
    m = sy // n
    want_drop = {
        r["doc_id"]
        for r in scored
        if r["kn_y"] > m
        and (r["kn_y"] - m) ** 2 * n > syy - 2 * m * sy + n * m * m
    }
    got_drop = {r["doc_id"] for r in scored if not r["passed4"]}
    assert got_drop == want_drop and want_drop

    # cap: per source, the first CAP stage-5 survivors in md5 order
    by_source: dict[str, list[int]] = {}
    for r in rows:
        if r["passed5"]:
            by_source.setdefault(r["source"], []).append(r["doc_id"])
    want_admitted = {
        d
        for ids in by_source.values()
        for d in sorted(
            ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
        )[:CAP]
    }
    got_admitted = {r["doc_id"] for r in rows if r["admitted"]}
    assert got_admitted == want_admitted
    assert any(len(ids) > CAP for ids in by_source.values())
