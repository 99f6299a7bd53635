#!/usr/bin/env python
"""Benchmark harness (driver-run per round → BENCH_r{N}.json).

Runs the headline queries from the registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the `noop` sink (full physical
execution, no driver-side collect overhead), which is how you time a
plan the way a cluster would run it.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative headline set: one per workload family (CDC pipeline,
# scan-heavy agg, multiway joins, window analytics, streaming-window
# batch analog, JSON extraction, dedup, ANN, text analysis).
HEADLINE = [
    "cdc_delete_archive",
    "agg_q1_pricing_summary",
    "agg_q6_forecast_revenue",
    "join_multiway_q3",
    "join_multiway_q5",
    "join_q18_large_orders",
    "join_broadcast_agg",
    "window_topk_per_group",
    "events_tumbling_hourly",
    "events_json_props",
    "dedup_minhash_candidates",
    "dedup_exact_corpus",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_cosine_ivf",
    "text_stats",
    "join_asof_events",
    "join_range_banded",
    "udf_mapinpandas_tokens",
    "window_range_30d",
    "tpch_q10_returned_items",
    "events_multigrain_rollup",
    "batch_by_token_budget",
    "contamination_ngram_overlap",
    "train_test_split_hash",
    # Round-4 heavy operators, pinned round 5 so the regression gate
    # covers them (graph, int8 ANN serving, SimHash, KMV sketch,
    # curation chunk-dup fraction).
    "graph_pagerank_dup_chunks",
    "ann_cosine_int8_adc",
    "dedup_simhash_hamming",
    "agg_kmv_distinct",
    "curation_dup_chunk_fraction",
    # Round-5: pruned IVF-SQ8 serving (the corpus-fraction answer to
    # the flat int8 scan). First iteration builds + persists the
    # layout per sf_dir; min-of-3 therefore times the SERVING path,
    # which is the recurring cost the tier exists to bound.
    "ann_cosine_ivf_int8",
    # Round-5: iterative fixed-point GD (8 unrolled epochs over a
    # checkpointed feature table) — times the multi-pass/checkpoint
    # orchestration pattern the graph + classifier family shares.
    "quality_classifier_train",
    # Round-5: declarative K-means (broadcast-fold assignment, K*d
    # partial-sum updates) — the embedding-clustering wall.
    "embedding_kmeans_clusters",
    # Round-5 third wave: SemDeDup (K-means-bucketed near-dup),
    # Bloom decontamination (per-row probe over a literal bit
    # array), and BPE merge training (8 vocabulary-table rounds) —
    # pinned so the regression gate covers them from day one.
    "dedup_semantic_clusters",
    "contamination_bloom_prefilter",
    "bpe_train_merges",
    # Round-5 fifth wave: triangle counting over the dup-chunk graph
    # (degree-oriented wedge enumeration)
    "graph_triangles_dup_chunks",
    # Round-6: the flagship corpus pipeline with the LEARNED quality
    # gate (dedup chain + decontamination + 8 GD epochs + broadcast
    # frozen-weight gating in one plan) and the KMV sketch
    # set-algebra overlap matrix — pinned so the regression gate
    # covers the train->freeze->apply composition and the sketch
    # algebra from day one.
    "pipeline_training_corpus_v2",
    "agg_kmv_source_overlap",
    # Round-6 second wave: the Gopher rule suite (one-scan integer
    # quality signals), clustering-coefficient histogram (triangle
    # chain + degree join), blocked fuzzy ER (distinct-value pair
    # space), DSIR importance weights (two-pass broadcast model),
    # TF-IDF top-k (WindowGroupLimit rank), and the bounded-tail
    # EWMA fold — pinned so the regression gate covers each new
    # family from day one.
    "curation_gopher_rules",
    "graph_clustering_coeff_buckets",
    "er_blocked_fuzzy_matches",
    "mixture_dsir_weights",
    "text_tfidf_topk",
    "events_ewma_fixedpoint",
    # Round-6 third wave: sequence/segmentation/statistics families
    # (Markov transitions, skyline, median/MAD, RFM, basket pairs,
    # growth accounting, ABC) and the linalg pair (partition-GEMM
    # covariance + fixed-point PCA power iteration).
    "events_transition_matrix",
    "pareto_front_parts",
    "events_anomaly_mad",
    "customer_rfm_segments",
    "orders_basket_pairs",
    "events_new_users_daily",
    "lineitem_abc_classes",
    "embedding_covariance_matrix",
    "embedding_pca_power",
    # Round-6 fourth wave: association rules, temporal lookup, the
    # PMI codebook, and the classifier calibration composite.
    "text_pmi_collocations",
    "events_point_in_time_join",
    "quality_classifier_calibration",
    # Round-7 wave: MOSS winnowing (per-doc fingerprints + the
    # df-capped cross-doc pair join), product quantization with ADC
    # serving, run-algebra quantified pattern matching, item-item
    # co-occurrence neighbors, and RRF retrieval fusion — pinned so
    # the regression gate covers each new family from day one.
    "text_winnowing_fingerprints",
    "dedup_winnow_pairs",
    "embedding_pq_adc",
    "events_pattern_quantified",
    "orders_item_neighbors_topk",
    "retrieval_rrf_fusion",
    # IVF-PQ refine serving (layout built+memoized on iteration 1,
    # min-of-3 times the recurring serving path — the ivf_int8
    # convention)
    "ann_ivf_pq_refine",
    # Round-8 wave: residual IVF-PQ serving (per-(query,list) LUT over
    # the pruned layout), degree-weighted link prediction, Apriori
    # triple mining, the user-keyed banded attribution join, and the
    # variant-container multimodal decode — pinned so the regression
    # gate covers each new family from day one.
    "ann_ivf_pq_residual",
    "graph_adamic_adar_topk",
    "itemsets_apriori_triples",
    "events_attribution_linear",
    "multimodal_variant_decode_stats",
    # round-9 pins: the ExactSubstr dedup pass, the pixel-tier
    # near-dup, the iterative HITS scorer, the expression-folded JL
    # audit, and the per-source cap window — one floor per new
    # family so the regression gate covers them from day one.
    "dedup_substring_spans",
    "multimodal_phash_near_dups",
    "graph_hits_authorities",
    "embedding_jl_distortion",
    "curation_source_cap_sample",
    # the six-stage curation pipeline (v2 + retention gate + source
    # cap) — the composed flagship of the round
    "pipeline_training_corpus_v3",
    # round-9 wave-D floors (registered late r9, pinned r10): rank
    # statistics, cohort retention, weighted percentiles, and the
    # canonical-representative pick over near-dup components
    "customer_gini_by_nation",
    "orders_trimmed_mean",
    "orders_retention_triangle",
    "events_time_to_convert",
    "dedup_canonical_representatives",
    # round-10 pins: the audio-tier near-dup (planted PCM + energy
    # fingerprint banding), the unigram-LM train->apply composition,
    # the trigram-LM perplexity scorer, the streaming admission
    # gate's batch equivalent (the per-epoch policy), and pipeline
    # v4 (v3 + the LM gate) — one floor per new family.
    "multimodal_audio_near_dups",
    "unigram_lm_tokenize_stats",
    "text_trigram_perplexity",
    "pipeline_streaming_admission",
    "pipeline_training_corpus_v4",
    # round-10 second wave: the Kneser-Ney trigram scorer (five
    # rollups over one staged type table), WordPiece merge training
    # (two shuffles per vocabulary round), recursive-CTE BFS
    # (UnionLoop execution), and the deterministic HLL register
    # sketch — one floor per new family.
    "text_trigram_kn_perplexity",
    "wordpiece_train_merges",
    "graph_bfs_reachability",
    "agg_hll_registers",
    # round-10 third wave: the video near-dup tier (Y4M decode +
    # temporally-aligned banding) — one floor for the new modality.
    "multimodal_video_near_dups",
    # round-11: the v5 admission gate (three media tiers + the KN
    # σ-gate — the full ingest policy per epoch), the DoReMi domain
    # reweighting step (two LM trainings in one plan), the pruned-
    # IVF recall eval (both top-k chains), the curriculum ordering
    # (sharded global rank), and hard-negative mining.
    "pipeline_streaming_admission_v5",
    "mixture_doremi_weights",
    "ann_recall_at_k",
    "training_curriculum_order",
    "ann_hard_negatives",
    # round-12: MMR diversity re-rank (8 unrolled greedy rounds over
    # the int8-ADC candidate set), temperature-scaled mixture
    # weights (largest-remainder ppm apportionment), and the
    # training-shard balance audit — one floor per new family.
    "ann_mmr_rerank",
    "mixture_temperature_weights",
    "training_shard_assignment",
    # the Gopher repetition suite (five n-gram families over one
    # staged token scan)
    "curation_gopher_repetition",
    # round-13: web-ingest URL canonicalization (scan-local string
    # algebra + two-grain dup groups) and the per-benchmark
    # decontamination report (broadcast multi-benchmark shingle
    # index; corpus never shuffles)
    "dedup_url_canonicalize",
    "contamination_benchmark_report",
    # the composed ingest funnel (canonicalize -> URL keep-first ->
    # exact-text keep-first -> per-host report; text never shuffles)
    "pipeline_web_ingest",
]


# Fixed sentinel subset for the compact stdout line (round-14, r13
# verdict task 2): the 30 slowest headline queries by pin
# (BENCH_BASELINE.json r13 floors) plus the two ANN serving paths
# under active observation (`ann_cosine_ivf` idle-band work item,
# `ann_cosine_int8_adc` rewritten r13). Same names printed every
# round regardless of current timings, so the driver's
# round-over-round common set is stable and improved queries stay
# visible instead of rotating out as "dropped". Every headline query
# is still TIMED and included in `value` / the persisted artifact —
# this list only selects what is inlined on the 2000-char line.
SENTINEL_PRINT = [
    "pipeline_streaming_admission_v5",
    "pipeline_streaming_admission",
    "dedup_canonical_representatives",
    "pipeline_training_corpus_v4",
    "multimodal_video_near_dups",
    "pipeline_training_corpus_v3",
    "pipeline_training_corpus_v2",
    "multimodal_audio_near_dups",
    "dedup_minhash_candidates",
    "dedup_semantic_clusters",
    "embedding_pq_adc",
    "graph_adamic_adar_topk",
    "embedding_kmeans_clusters",
    "graph_triangles_dup_chunks",
    "graph_bfs_reachability",
    "graph_hits_authorities",
    "graph_clustering_coeff_buckets",
    "graph_pagerank_dup_chunks",
    "orders_item_neighbors_topk",
    "dedup_simhash_hamming",
    "quality_classifier_train",
    "contamination_bloom_prefilter",
    "embedding_jl_distortion",
    "mixture_doremi_weights",
    "join_multiway_q5",
    "pipeline_web_ingest",
    "wordpiece_train_merges",
    "bpe_train_merges",
    "training_curriculum_order",
    "embedding_pca_power",
    "ann_cosine_ivf",
    "ann_cosine_int8_adc",
]


def _force(df) -> None:
    """Execute the full plan; noop sink avoids collect() overhead."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    # Sampled BEFORE the session/warmup so the recorded value reflects
    # the box the bench STARTED on (round-13 verdict task 5: the
    # end-of-run load mostly measures the bench itself, which made
    # every "idle box" claim unauditable from the artifacts).
    pre_load = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from jly_flink_spark.session import get_spark
    from jly_flink_spark.plans import REGISTRY

    spark = get_spark("jly_flink_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the JVM / parquet footer cache so q1 doesn't pay
    # first-touch costs the other queries don't.
    _force(REGISTRY["filter_project_pushdown"].spark_fn(spark, sf_dir))
    # Warm the Python worker pool too (numpy/pandas import + fork),
    # so the ~seconds of one-time startup isn't billed to whichever
    # pandas-UDF query happens to run first.
    import pandas as _pd  # noqa: F401

    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Best-of-3 per query: the run-to-run variance of a shared box
    # exceeds the signal for sub-second queries (observed swings of
    # 30%+ between whole bench runs); min-of-N is the standard
    # estimator for "what the plan costs".
    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = REGISTRY[name]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _force(spec.spark_fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Host context for cross-run comparison: observed run-to-run
        # swings exceed 30% between VMs/boots, so per-query ratios
        # within ~1.5x of a floor measured on a DIFFERENT host are
        # noise unless the plan changed.
        "load_avg_1m": round(os.getloadavg()[0], 2),
        # pre-run load: ~0-1 substantiates an idle-box run; the
        # end-of-run value above is dominated by the bench's own 32
        # threads and only shows whether a COMPETING load appeared.
        "load_avg_1m_pre": pre_load,
    }
    # Regression guard: per-query ratio against the tracked floor
    # (BENCH_BASELINE.json = round 1). Ratios > 1.5 are flagged so a
    # regression is visible in the bench line itself.
    base_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json"
    )
    if os.path.exists(base_path):
        with open(base_path, encoding="utf-8") as f:
            base = json.load(f)
        bq = base.get("queries", {})
        ratios = {
            n: round(t / bq[n], 2)
            for n, t in timings.items()
            if bq.get(n, 0) > 0
        }
        out["vs_baseline"] = ratios
        out["regressions"] = {n: r for n, r in ratios.items() if r > 1.5}
        out["baseline_total"] = base.get("value")
    # Persist the complete result in-repo (the driver's stdout tail
    # truncates at 2000 chars, which has cut the vs_baseline map in
    # half before — the saved artifact keeps every round auditable).
    # N = next round index, inferred from the driver's BENCH_r files.
    repo = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    base_name = f"BENCH_local_r{max(rounds, default=0) + 1:02d}"
    local_path = os.path.join(repo, f"{base_name}.json")
    k = 1
    while os.path.exists(local_path):  # keep every run of the round
        k += 1
        local_path = os.path.join(repo, f"{base_name}_{k}.json")
    try:
        with open(local_path, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=2)
    except OSError as e:  # the audit copy must never eat the run
        print(f"bench: could not persist {local_path}: {e}", file=sys.stderr)

    # The driver records only the LAST 2000 chars of stdout and parses
    # the final JSON line; the full 102-query dict is ~3 kB, which made
    # BENCH_r09/r10 unparseable (`parsed: null`). Rounds 11-13 printed
    # the slowest queries that fit a char budget, but a slowest-first
    # set ROTATES between rounds: improved queries fall out of the
    # print and the driver's round-over-round comparison is computed
    # over a set biased toward whatever got slower (r13 verdict task
    # 2). Print a FIXED sentinel subset instead — the same names every
    # round — so the printed intersection is stable; the complete
    # per-query map is persisted in the local artifact named on the
    # line. Sentinel = the 30 slowest queries by pin (BENCH_BASELINE
    # floors, r13) + the two ANN serving paths under active
    # observation; frozen as a literal so pin drift cannot rotate it.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "queries": {
            n: timings[n] for n in SENTINEL_PRINT if n in timings
        },
        "full": os.path.basename(local_path),
    }
    elided = [n for n in timings if n not in compact["queries"]]
    if elided:
        compact["queries_elided"] = len(elided)
        compact["elided_sec"] = round(sum(timings[n] for n in elided), 3)
    if "regressions" in out:
        # Worst 8 by ratio; the rest as a count so a loaded-box run
        # (10+ flags, r13) cannot blow the line past the 2000-char
        # driver truncation and take the queries map with it.
        worst = sorted(out["regressions"].items(), key=lambda kv: -kv[1])
        compact["regressions"] = dict(worst[:8])
        if len(worst) > 8:
            compact["regressions_elided"] = len(worst) - 8
    # Hard guard: never exceed the driver's truncation window. Drops
    # the cheapest sentinel entries only in the pathological case of
    # very wide values; normally a no-op (line ~1.7 kB).
    while (
        len(json.dumps(compact, separators=(",", ":"))) > 1900
        and compact["queries"]
    ):
        cheapest = min(compact["queries"], key=compact["queries"].get)
        del compact["queries"][cheapest]
        compact["queries_elided"] = compact.get("queries_elided", 0) + 1
        compact["elided_sec"] = round(
            compact.get("elided_sec", 0.0) + timings[cheapest], 3
        )
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
