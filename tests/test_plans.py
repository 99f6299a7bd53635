"""Physical-plan regression tests: assert the plans we designed for
are the plans Catalyst actually produces.

Correctness tests prove the right ROWS come out; these prove the
right PLAN SHAPE survives — filters pushed into the parquet scan,
small dimensions broadcast (never sort-merge-joined), shuffle counts
bounded. A regression here is invisible at sf0.01 but fatal at 100 TB,
which is why plan shape is pinned in CI and not just eyeballed once.
"""

from __future__ import annotations

import contextlib
import io
import re
import uuid

import pytest

from jly_flink_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].spark_fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Count SHUFFLE exchanges (broadcast exchanges are the point and
    don't count). Only the simple-mode plan spells the partitioning
    inline ('Exchange hashpartitioning(...)'); formatted mode names
    every exchange bare '(n) Exchange', which once made this helper
    return 0 for everything and the budget pins vacuous — so refuse
    formatted input outright."""
    if "Arguments:" in plan:  # detail section ⇒ formatted-mode plan
        raise ValueError("n_exchanges needs the simple-mode plan")
    return (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition")
    )


class TestPushdown:
    def test_q6_filters_reach_scan(self, spark):
        plan = plan_of(spark, "agg_q6_forecast_revenue")
        assert "PushedFilters" in plan
        assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]

    def test_q6_prunes_columns(self, spark):
        plan = plan_of(spark, "agg_q6_forecast_revenue")
        read_schema = plan.split("ReadSchema")[1].split("\n")[0]
        # Only the 4 referenced columns are read, not all 11.
        assert "l_orderkey" not in read_schema
        assert "l_returnflag" not in read_schema
        for c in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
            assert c in read_schema

    def test_filter_project_pushdown(self, spark):
        plan = plan_of(spark, "filter_project_pushdown")
        assert "PushedFilters" in plan

    def test_events_json_reads_needed_columns_only(self, spark):
        plan = plan_of(spark, "events_json_props")
        read_schema = plan.split("ReadSchema")[1].split("\n")[0]
        assert "user_id" not in read_schema or "props" in read_schema


class TestJoinStrategies:
    def test_cdc_enrichment_has_no_join(self, spark):
        """T6: fb_no comes from a literal map inlined in the scan's
        projection, the reference's in-memory lookup map — no join
        and no broadcast, each of which costs one more Spark job per
        action (build_pipeline over a local frame: test_pipeline)."""
        plan = plan_of(spark, "cdc_delete_archive")
        assert not re.search(r"Join|CartesianProduct|BroadcastExchange", plan), plan

    def test_cdc_pipeline_has_no_shuffle(self, spark):
        """The whole parse→filter→project→enrich pipeline is
        shuffle-free: scan-local work only."""
        plan = plan_of(spark, "cdc_delete_archive", mode="simple")
        assert n_exchanges(plan) == 0

    def test_broadcast_agg_join(self, spark):
        plan = plan_of(spark, "join_broadcast_agg")
        assert "BroadcastHashJoin" in plan

    def test_ann_corpus_never_shuffles_vectors(self, spark):
        """The embedding corpus streams through the scoring join; only
        (query_id, cand_id, cosine) rows may reach a shuffle."""
        plan = plan_of(spark, "ann_cosine_topk")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_int8_adc_partial_topk_before_shuffle(self, spark):
        """The int8 serving path must keep the brute-force shape
        (broadcast queries, streamed corpus codes) AND apply the
        partial per-partition top-k (WindowGroupLimit) BEFORE its one
        exchange — so at most partitions×k slim rows shuffle, never
        the n×|Q| scored pairs."""
        plan = plan_of(spark, "ann_cosine_int8_adc", mode="simple")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        _, _, below = plan.partition("Exchange hashpartitioning")
        assert "WindowGroupLimit" in below, plan  # partial below exchange

    def test_q10_top20_avoids_global_sort(self, spark):
        """ORDER BY + LIMIT 20 must compile to TakeOrderedAndProject
        (per-partition top-N, driver merge) — a global range-exchange
        sort of every customer group would be the 100-TB bottleneck."""
        plan = plan_of(spark, "tpch_q10_returned_items")
        assert "TakeOrderedAndProject" in plan
        assert "Exchange rangepartitioning" not in plan

    def test_q19_pushes_common_bounds_below_join(self, spark):
        """The disjunctive predicate mixes both sides; Catalyst must
        still push the derived l_quantity bounds into the lineitem
        scan rather than filtering 6B rows post-join."""
        plan = plan_of(spark, "tpch_q19_disjunctive_revenue")
        pushed = plan.split("PushedFilters")[1].split("\n")[0]
        assert "l_quantity" in pushed

    def test_q22_anti_join_is_broadcast_free_on_probe(self, spark):
        """NOT EXISTS compiles to an anti hash join; customer rows
        must not sort-merge against orders."""
        plan = plan_of(spark, "tpch_q22_global_sales")
        assert "SortMergeJoin LeftAnti" not in plan

    def test_asof_join_single_shuffle(self, spark):
        """The as-of union-and-sweep needs exactly one hash shuffle
        (the window over the union) plus zero join shuffles."""
        plan = plan_of(spark, "join_asof_events", mode="simple")
        assert "SortMergeJoin" not in plan
        assert n_exchanges(plan) <= 1


class TestShuffleBudget:
    @pytest.mark.parametrize(
        ("name", "budget"),
        [
            ("agg_q1_pricing_summary", 1),  # one shuffle on the group key
            ("window_topk_per_group", 1),  # one shuffle on the partition key
            ("dedup_exact_groups", 1),  # one shuffle on the fingerprint
            # tokens→sigs reuses the doc_id fan-out exchange; band
            # buckets + skew-spread repartition + distinct = 4 total
            ("dedup_minhash_candidates", 5),
            # sig groupBy + band buckets + skew-spread repartition +
            # distinct; the Hamming verify shuffles NOTHING extra —
            # signatures ride inside the buckets as structs
            ("dedup_simhash_hamming", 4),
            ("set_union_all", 1),  # union itself must not shuffle
            # supply groupBy + per-part min + top-100 range sort
            ("tpch_q2_min_cost_supplier", 3),
            # broadcast dims collapse the 8-way join; one group shuffle
            ("tpch_q8_market_share", 2),
            # semi/anti self-joins reuse the l_orderkey partitioning
            ("tpch_q21_waiting_suppliers", 3),
            # per-row column expressions; one per-lang rollup shuffle
            ("text_pii_redaction", 1),
            ("quality_filter_composite", 1),
            # posexplode + map-side partial agg; one (label,pos) shuffle
            ("embedding_label_centroids", 1),
            # per-domain counts + sampled counts + final join re-shuffle;
            # all three exchanges carry O(|domains|) rows, never the corpus
            ("mixture_weighted_sample", 3),
            # jaccard pair machinery (8) + one O(|sources|²) rollup
            ("dedup_cross_source_overlap", 9),
            # chunk-df groupBy (2-phase distinct) + per-lang rollup;
            # the corpus rows themselves never shuffle (broadcast anti)
            ("text_boilerplate_chunks", 4),
            # broadcast queries × streamed corpus codes; one window
            # shuffle of partitions×k slim rows (partial top-k first)
            # + the round-13 raw-vector fan-out exchange that feeds
            # the Arrow quantize kernel at session parallelism (a
            # single-split corpus otherwise quantizes on ONE task —
            # measured 16.6 s of the ×10 wall)
            ("ann_cosine_int8_adc", 2),
            # partition-pruned layout scan + broadcast probe frame;
            # one window shuffle of partitions×k slim rows
            ("ann_cosine_ivf_int8", 1),
            # chunk-df 2-phase distinct (2) + per-doc + per-source;
            # every exchanged row is a 32-byte hash or a count
            ("curation_dup_chunk_fraction", 4),
            # per-row JSON key extraction; one rollup shuffle of
            # (table, fingerprint) strings — payloads never move
            ("cdc_schema_fingerprints", 1),
            # as-of sweep: one union window shuffle, tolerance
            # null-out is a free post-sweep projection
            ("join_asof_tolerance", 1),
            # distinct (2-phase) + partial-topk window + exact/kth
            # rollups; WindowGroupLimit keeps K hashes per partition
            ("agg_kmv_distinct", 4),
            # (group, register) max-rank rollup + per-group register
            # fold + the exact-distinct 2-phase twin; every exchanged
            # row is a register/rank long — O(groups·64), not corpus
            ("agg_hll_registers", 4),
            # KN trigram: type groupBy + four type-table rollups +
            # the cost join back + per-doc agg; the staged type
            # table cuts the five consumers' upstream lineage
            ("text_trigram_kn_perplexity", 7),
            # the levels are unrolled, so their exchanges are visible:
            # seed distinct + 4 levels × (frame and edge-list sides of
            # the frontier join + the min-depth fold); the edge list's
            # exchange is one reused stage at run time, and the edge
            # derivation is checkpointed
            ("graph_bfs_reachability", 13),
            # 1-row bounds aggregate + the bucket rollup; the
            # 16-level xy2d fold is a pure per-row expression
            ("events_hilbert_locality", 2),
            # shingle-df groupBy + per-doc rank window + candidate
            # distinct + intersection count; staged shingles feed
            # ranking, prefixes, and verify from one checkpoint
            ("dedup_ppjoin_pairs", 4),
            # variant parse/extract are per-row; one 2-phase
            # distinct-shape rollup
            ("events_variant_props", 2),
            # 3 contrib-sum shuffles + the edge list by src for the
            # 2 source-rank joins (one reused stage at run time) +
            # the node list for the final join; the sums arrive
            # partitioned by node, the scalar-N count and the edge
            # list are checkpointed; every exchanged row is longs
            ("graph_pagerank_dup_chunks", 6),
            # static plan duplicates the vocab subtree (tok groupBy ×2
            # + scalar-total SinglePartition ×2 + doc agg); AQE's
            # ReusedExchange collapses the duplicates at runtime —
            # pinned by test_unigram_lm_reuses_vocab_exchange below
            ("text_unigram_logprob", 6),
            # bigram LM: corpus bigram groupBy + final doc agg + the
            # duplicated unigram-count subtree (tok groupBy ×2 +
            # scalar-total SinglePartition) — AQE ReusedExchange
            # collapses the duplicate at runtime, pinned below
            ("text_bigram_logprob", 5),
            # 8 unrolled GD epochs × 2 single-row gathers (gradient
            # agg + weight projection) + the final audit agg; the
            # corpus never shuffles — every exchanged row is ONE row
            # of int64 gradient sums. Old weights ride THROUGH the
            # gradient agg so the plan stays linear in epochs (a
            # second w reference doubles the subtree per epoch).
            ("quality_classifier_train", 18),
            # K-means audit tail: the final sizes rollup; assignment
            # is an Arrow kernel against driver-side centroids with
            # ZERO corpus shuffle, and each round's K*d partial sums
            # are collected during the build, not part of this plan
            ("embedding_kmeans_clusters", 4),
            # token-count groupBy + (d,w) counter groupBy (map-side
            # combined to <= D*W partials per partition) + probe
            # sort-limit + final min-rollup; the sketch itself rides
            # as a broadcast
            ("agg_countmin_heavy_hitters", 5),
            # SemDeDup: members join (vec_id) + ONE corpus shuffle on
            # cid — the per-cluster count window's exchange is REUSED
            # by the (cid, bi, bj) kernel grouping (subset clustering)
            # — + the slim (vec_b) prior-count rollup; the K-means
            # argmin runs once behind the checkpoint and pairs only
            # ever form cluster-bucketed (block-split above the task
            # cap), never all-pairs
            ("dedup_semantic_clusters", 4),
            # Bloom decontamination: bench-shingle distinct (tiny) +
            # final per-doc rollup; the corpus probe is a pure
            # per-row expression over the literal word array — zero
            # join, zero shuffle on the corpus side
            ("contamination_bloom_prefilter", 2),
            # Morton-code locality rollup: the 1-row bounds aggregate
            # (SinglePartition) + the zbucket rollup; the interleave
            # itself is a pure per-row expression over the broadcast
            # bounds row
            ("events_zorder_locality", 2),
            # LOCF resample: the spine's user-distinct + ONE window
            # shuffle on user_id for the union sweep; fill is a
            # running frame, never a per-slot lookup join
            ("events_resample_ffill", 2),
            # Full corpus pipeline: the MinHash-LSH near-dup chain
            # (sig agg, band explode/groupBy, candidate distinct,
            # Jaccard verify joins) + shingle distincts + the final
            # stats rollup; every exchanged row is a fingerprint,
            # band key, or doc_id — never full documents
            ("pipeline_training_corpus", 19),
            # v2 = v1's chain + the learned gate: 8 unrolled GD
            # epochs exchange ONE gradient row each (the corpus-wide
            # feature table is checkpointed and reused for serving,
            # so the gate adds zero extra corpus scans or corpus
            # shuffles — only single-row weight gathers + the
            # keep-id semi-join)
            ("pipeline_training_corpus_v2", 27),
            # KMV set algebra: corpus-side work is the per-source
            # distinct + bottom-K (WindowGroupLimit, pinned below);
            # every other exchange moves |sources|·K model-state rows
            # through the pairwise union/flag/rollup chain
            ("agg_kmv_source_overlap", 12),
            # LM quantile buckets: the tok groupBy pair (vocab +
            # total reuse one exchange at runtime), the per-doc agg,
            # the lang window on slim (lang, n_tokens, slp) rows,
            # and the final rollup — the corpus text never shuffles
            ("curation_lm_quantile_buckets", 7),
            # label outliers: the O(labels*dims) centroid rollup pair
            # + the per-label top-N window (WindowGroupLimit); the
            # distance fold runs per-row against the broadcast
            # centroid arrays — the corpus never shuffles
            ("embedding_label_outliers", 3),
            # Gopher rule suite: explode → (doc, tok) counts (map-side
            # combined) → per-doc stats → per-lang rollup; shuffle
            # rows shrink at every hop, corpus text moves never
            ("curation_gopher_rules", 3),
            # clustering coefficient: the chunk-graph build + the
            # compact-forward triangle chain + the degree join and
            # final bucket rollup; every exchanged row is a (node,
            # node) long pair or a 32-char chunk hash — the decomposed
            # graph pipeline's cost, not a corpus shuffle
            ("graph_clustering_coeff_buckets", 15),
            # blocked fuzzy ER: pairwise work runs over the DISTINCT
            # (name, freq) table — one groupBy to build it, one final
            # per-block rollup; the pair join itself is broadcast
            ("er_blocked_fuzzy_matches", 2),
            # DSIR: bucket-stat pass collapses map-side to <=256 rows
            # per partition; scoring joins the broadcast 256-row
            # log-ratio table and partial-aggregates per doc — the
            # corpus text shuffles in neither pass
            ("mixture_dsir_weights", 5),
            # TF-IDF top-k: (doc, term) tf counts + vocab df rollup +
            # the broadcast idf join + per-doc rank (WindowGroupLimit
            # keeps k per partition pre-shuffle, pinned below)
            ("text_tfidf_topk", 5),
            # EWMA fold: ONE shuffle on user_id; the sort + bounded
            # 64-element tail fold are per-row array expressions
            ("events_ewma_fixedpoint", 1),
            # Markov transitions: ONE corpus shuffle (per-user lead
            # window); pair counts partial-aggregate to <=|types|^2
            # rows per partition and the row-total join is broadcast
            ("events_transition_matrix", 5),
            # skyline: the window-staircase rewrite — one shuffle on
            # p_brand, no dominance self-join anywhere in the plan
            ("pareto_front_parts", 1),
            # median/MAD: two rank windows over slim (type, vq) rows
            # + the final rollup; the |types|-row median and MAD
            # tables ride back as broadcasts
            ("events_anomaly_mad", 4),
            # covariance GEMM: the corpus rides ONE mapInPandas scan;
            # the exchanges move O(partitions*d^2) partial-sum rows
            # (products + column sums + counts) and model-state joins
            ("embedding_covariance_matrix", 4),
            # power iteration: everything behind the checkpointed
            # rescaled matrix is O(d^2) model state; the visible
            # exchange is the final distinct over 64 dims
            ("embedding_pca_power", 2),
            # RFM: the fact shuffle lives behind the staged metric
            # checkpoint; the visible exchanges are the three sharded
            # ntile passes (per pass: boundary 1-row aggregate,
            # _shard window shuffle, <=32-row offsets combine), the
            # two slim (custkey, score) reassembly joins and the
            # final 125-row rollup — every one bounded-parallel,
            # none a single-task global sort
            ("customer_rfm_segments", 16),
            # basket pairs: distinct + the basket-local pair join on
            # the order key + pair-count combine; support tables and
            # the order count ride back as broadcasts
            ("orders_basket_pairs", 5),
            # growth accounting: two slim (user, day) aggregations;
            # the running-sum window ranks |days| rows only
            ("events_new_users_daily", 5),
            # ABC: the fact shuffle lives behind the staged per-part
            # revenue checkpoint; the visible exchanges are the
            # sharded prefix-sum pass (boundary 1-row aggregate,
            # _shard window shuffle, <=32-row offsets combine), the
            # 1-row grand total and the 3-row class rollup
            ("lineitem_abc_classes", 7),
            # interleave: the per-domain rank shuffle (WindowGroupLimit
            # keeps <=N rows per domain per partition, pinned below);
            # the global position ranks <=|domains|*N rows
            ("training_interleave_order", 2),
            # LSH eval: the two already-budgeted pair pipelines
            # (bands chain + df-capped Jaccard chain) composed by one
            # slim full-outer join on (doc_a, doc_b) + the 1-row agg
            ("dedup_lsh_eval_metrics", 14),
            # PMI: the checkpointed vocabulary-sized count tables are
            # derived once (two corpus-scan combines); everything
            # visible in the final plan is broadcast codebook joins
            ("text_pmi_collocations", 4),
            # point-in-time join: the union-sweep — ONE user_id
            # window shuffle + the final state rollup; no interval
            # self-join anywhere in the plan
            ("events_point_in_time_join", 2),
            # calibration: the classifier's linear-in-epochs GD chain
            # (8 single-row gradient gathers over the checkpointed
            # feature table) + the <=10-row decile rollup
            ("quality_classifier_calibration", 9),
            # Mahalanobis: the slim (vec, dim, q) explode feeds both
            # the d-row stats and the per-vector fold (map-side
            # combined); top-10 is TakeOrderedAndProject, no global
            # sort exchange
            ("embedding_mahalanobis_outliers", 2),
            # minhash accuracy: the bands chain + the candidate joins
            # against the checkpointed signature/token-set tables —
            # the exact side is per-pair array_intersect, never an
            # exploded token join
            ("dedup_minhash_estimate_accuracy", 12),
            # pattern match: ONE per-user window shuffle + the 1-row
            # rollup; no k-way self-join
            ("events_pattern_view_click_buy", 2),
            # quantified pattern: run-id windows, run combine and
            # run-sequence window all colocated on the ONE user_id
            # exchange + the 1-row rollup; no regex engine, no
            # self-join
            ("events_pattern_quantified", 2),
            # nearest as-of: the bidirectional sweep — both frames
            # ride ONE per-user window shuffle
            ("join_asof_nearest", 1),
            # backlog sweep: interval close (orderkey agg + join) +
            # the O(|days|) delta rollup and day-ranked running sum
            ("orders_open_backlog_daily", 4),
            # entropy: bucket counts map-side combine to
            # |types|*|buckets| rows; everything after is model-state
            ("events_entropy_by_type", 4),
            # Heaps curve: first-occurrence + token-count combines,
            # each streamed against the broadcast 10-row checkpoint
            # table and re-combined map-side to <=10 rows, plus the
            # sharded row_number pass that picks the checkpoints
            # (boundary aggregate, _shard window shuffle, <=32-row
            # offsets combine over the staged distinct-id frame)
            ("text_vocab_growth", 14),
            # KL drift: one token pass combines to |sources|*256 rows
            # behind the checkpoint; marginals + codebook broadcast
            ("text_kl_source_drift", 4),
            # degree histogram: the checkpointed chunk graph + the
            # degree combine and |buckets|-row rollup
            ("graph_degree_distribution", 2),
            # embedding pipeline: SemDeDup's budgeted chain + the
            # Mahalanobis stats legs; the outlier set is a broadcast
            # 10-row join and the label rollup is model-state
            ("pipeline_embedding_curation", 6),
            # MoM: one fact shuffle into |months| rows + the lag
            # window over months
            ("orders_revenue_mom_change", 2),
            # DAU/WAU: the checkpointed (user, day) distinct + the
            # bounded 7x cover fan-out dedup + two day rollups —
            # the sliding distinct never windows raw events
            ("events_dau_wau_stickiness", 4),
            # HHI: one fact shuffle into (nation, supplier) revenue;
            # totals/names broadcast; |nations|-row rollup
            ("supplier_nation_hhi", 4),
            # containment: the bands chain + candidate joins against
            # the checkpointed token sets; per-pair array_intersect
            # and a <=10-row histogram rollup
            ("dedup_containment_pairs", 5),
            # chi-square: the contingency combine behind the
            # checkpoint + margin rollups; every exchanged row is
            # |brands|x|types| model state
            ("part_brand_type_chi2", 9),
            # OLS trend: one fact combine into |brands|x|days| tiles
            # + the per-brand regression-sums combine; the closed
            # form is pure arithmetic on |brands| rows
            ("lineitem_ols_trend", 2),
            # winnowing: k-gram build, window min and per-doc
            # fingerprint distinct/count all colocated on ONE
            # per-doc exchange
            ("text_winnowing_fingerprints", 1),
            # IVM: one changelog pass combines to |types|x|days|
            # delta tiles + the per-type replay window over tiles
            ("cdc_ivm_view_evolution", 2),
            # interval fan-out: bounded month explode into ONE
            # map-side-combined aggregation; no theta join
            ("lineitem_transit_by_month", 1),
            # item neighbors: basket distinct + the basket-local pair
            # combine (both behind the staging checkpoint) + the
            # per-item top-k rank; supports broadcast back
            ("orders_item_neighbors_topk", 3),
            # RRF: the two legs' own bounded pipelines (BM25 corpus
            # combine + model-state broadcasts; bigram-LM vocab
            # combines) each end in TakeOrderedAndProject(20); the
            # rank windows and the fuse join exchange <=20-row
            # model-state frames only
            ("retrieval_rrf_fusion", 12),
            # winnow pairs: the per-doc winnowing exchange + df
            # combine + the capped fingerprint self-join + pair
            # combine; sizes broadcast back (sel staged once behind
            # the checkpoint)
            ("dedup_winnow_pairs", 5),
            # profiling: stack fans the ONE scan into (col, v) rows;
            # two-phase distinct-count partial + per-col final
            ("profile_lineitem_columns", 2),
            # PQ-ADC: assignment is an Arrow kernel against the
            # driver-side codebooks (zero corpus shuffle) and each
            # round's M·K·subdim update sums are collected during the
            # build; the visible exchange is the one-row LUT collect
            ("embedding_pq_adc", 4),
            # Zipf fit: one (source, term) combine + the per-source
            # head window (WindowGroupLimit) + the |sources|-row
            # regression sums
            ("text_zipf_fit", 2),
            # k-core: per peel round a slim degree combine + two
            # anti-joins over the (u, v) table behind checkpoints;
            # the stage rollup exchanges 1-row aggregates
            ("graph_kcore_peel", 12),
            # IVF-PQ serving: the pruned scan joins the broadcast
            # probe frame; the only exchange is the per-query top-k
            # rank (the build is a one-time persisted layout)
            ("ann_ivf_pq_adc", 1),
            ("ann_ivf_pq_refine", 1),
            # residual IVF-PQ: same pruned-scan + broadcast-probe
            # shape — the per-(query, list) LUT rides the probe
            # frame, so the only exchange is still the top-k rank
            ("ann_ivf_pq_residual", 1),
            # novelty: the per-doc n-gram window shares the doc
            # exchange; first-occurrence combine + the occurrence
            # join + per-doc rollup
            ("text_ngram_novelty", 3),
            # link prediction: the chunk pair join + the wedge join
            # on the shared node + pair combine; the anti-join and
            # top-20 ride the same slim tables
            ("graph_link_prediction_topk", 4),
            # CDC disorder audit: ONE per-instance window shuffle
            # (the rollup is colocated on the same partitioning)
            ("cdc_out_of_order_rate", 1),
            # Adamic-Adar: linkpred's 4 exchanges + the broadcast-
            # sized degree combine joined onto the wedge center
            ("graph_adamic_adar_topk", 5),
            # CUSUM: daily combine + 1-row-per-type mean + the
            # per-type window + final rollup (all slim tile frames)
            ("events_changepoint_cusum", 4),
            # Fano: hourly combine + per-type sums
            ("events_burstiness_fano", 2),
            # attribution: the user-keyed banded join + the day
            # rollup (per-buy counts ride the join's partitioning)
            ("events_attribution_linear", 2),
            # Apriori: basket distinct + pair combine behind the
            # stage cuts + candidate joins + support count (the
            # candidate table is model-sized, joins broadcast)
            ("itemsets_apriori_triples", 4),
            # variant multimodal: mapInPandas scan + the round-11
            # decode-parallelism repartition (media builders fan
            # small scans to cluster width before the Arrow kernel)
            ("multimodal_variant_features", 1),
            ("multimodal_variant_decode_stats", 2),
            # compiled pattern: the ONE user_id exchange carries the
            # run windows + run combine + sequence window; then the
            # 1-row rollup (same budget as the hand-compiled twin)
            ("events_pattern_compiled", 2),
            # lerp: the union-spine user window + the user spine
            # build (same budget family as resample_ffill)
            ("events_resample_lerp", 2),
            # benford: digit combine + 1-row total + its broadcast
            ("lineitem_benford_audit", 3),
            # yule: (source, term) combine + per-source reduction
            ("text_yule_k", 2),
            # rules: basket distinct + pair combine behind the stage
            # cut + the two broadcast support joins
            ("orders_association_rules", 4),
            # jaccard linkpred: the adamic-adar wedge shape + the two
            # broadcast endpoint-degree joins
            ("graph_jaccard_linkpred_topk", 6),
            # cohort LTV: first-order combine + customer-key fact
            # join + the two distinct-count cells/sizes combines +
            # broadcast + the cohort-month replay window (cell-sized)
            ("orders_cohort_ltv", 6),
            # silhouette: codes stage + the three sufficient-stat
            # combines + the dot pass + the per-cluster rollup — all
            # slim (n*K) frames, NO pairwise join
            ("embedding_silhouette_by_cluster", 5),
            # group split: (user, split) combine + per-split rollup +
            # the 1-row leakage audit + its broadcast
            ("train_test_split_by_group", 5),
            # RAKE: the doc window pass + vocab combine + broadcast +
            # phrase combine; top-20 is TakeOrdered
            ("text_rake_keywords", 4),
            # markov: the fact pass + model-sized iterates live
            # behind the staging cuts; the visible tail joins
            # broadcast |types|-row frames (headroom of 2)
            ("events_markov_stationary", 2),
            # substring dedup: shingles staged once; shingle-df
            # combine + the position semi-join + the per-doc islands
            # window / final span rollup
            ("dedup_substring_spans", 3),
            # pixel dHash near-dup: hashes staged (8 bytes/image);
            # ONE band-key exchange serves the self-join, the pair
            # distinct rides the join's partitioning
            ("multimodal_phash_near_dups", 1),
            # source cap: ONE per-source window over the 2-column
            # projection (the count is a separate model-state job)
            ("curation_source_cap_sample", 1),
            # seasonal: hourly-tile combine + per-type series window
            # (the seasonal rollup rides the type partitioning)
            ("events_seasonal_hourly", 2),
            # sequence pairs: ONE user window (3 leads share it) +
            # the pair rollup
            ("events_sequence_pairs", 2),
            # JL sketch audit + MATTR: pure per-row expressions —
            # sign matrix / windows fold into codegen, NO exchange
            ("embedding_jl_distortion", 0),
            ("text_mattr", 0),
            # HITS: basket/iterate frames live behind staging cuts;
            # the visible tail is one combine + broadcast max joins
            ("graph_hits_authorities", 1),
            # Theil-Sen: daily tiles staged; the bounded self-join +
            # per-type median window share one type exchange
            ("events_theil_sen_trend", 1),
            # entropy: (doc, token) combine + the doc-keyed window/
            # rollup pair
            ("text_token_entropy", 2),
            # funnel: three user-keyed stage combines + their joins,
            # each over ONE event type's filtered rows (pushed to the
            # scan), + the three 1-row stage counts
            ("events_funnel_conversion", 8),
            # substring cut: spans pipeline's budget (3) — the cut
            # rollup rides the doc-keyed partitioning
            ("dedup_substring_cut_stats", 3),
            # cross-check: both hash frames staged (8 bytes/image);
            # the band exchange serves the pair join, the aHash
            # rescores ride doc-keyed joins of staged frames
            ("multimodal_perceptual_crosscheck", 1),
            # pipeline v3: stages 1-5 live behind the kept4/kept5
            # staging cuts (v2's exchanges are its own pin); the
            # visible tail is the source-cap window + split rollup
            ("pipeline_training_corpus_v3", 2),
            # gini: per-customer combine + per-nation rank window
            # (broadcast nation names ride along)
            ("customer_gini_by_nation", 2),
            # trimmed mean: ONE class exchange serves both windows
            # and the rollup
            ("orders_trimmed_mean", 1),
            # retention triangle: activity distinct + cohort combine
            # + the (cohort,k) rollup; the base branch re-plans the
            # cells subtree in the static plan (AQE reuses the
            # exchanges at runtime) + the broadcast base join
            ("orders_retention_triangle", 8),
            # time-to-convert: two user-keyed stage combines + the
            # 1-row percentile rollup
            ("events_time_to_convert", 3),
            # canonical reps: the CC iterate lives behind staging
            # cuts (its own pin); visible tail = token join + the
            # per-component pick window
            ("dedup_canonical_representatives", 1),
            # KM survival: per-customer combine + bucket combine +
            # the 1-row fold collect (model-sized)
            ("customer_survival_km", 3),
            # audio tier: hash frame staged (8 bytes/clip); band
            # exchange serves the pair join + the bucket-cap combine
            # (round 12) + the doc-keyed fingerprint re-join onto the
            # slim candidate set + the shingle build's fan-out
            # repartition and its doc-keyed join
            ("multimodal_audio_near_dups", 5),
            # admission gate: every stage lives behind its staging
            # cut (decisions frame is eagerly staged); the visible
            # tail is the admitted projection
            ("pipeline_streaming_admission", 1),
            # v5 gate: same staged-decisions shape — three media
            # tiers + the KN gate all live behind the eager cut
            ("pipeline_streaming_admission_v5", 1),
            # recall eval: pruned + exact chains and the two topk
            # windows + the intersection rollup
            ("ann_recall_at_k", 6),
            # DoReMi: BOTH LM cost-table builds are visible (the
            # trigram/KN count rollups behind the shared staged tg);
            # the weight arithmetic adds only 1-row exchanges
            ("mixture_doremi_weights", 27),
            # curriculum: KN subplan + per-source rank window + the
            # sharded global prefix-sum's shard exchanges
            ("training_curriculum_order", 37),
            # hard negatives: broadcast queries ⨯ one scan; only the
            # per-query topk window shuffles
            ("ann_hard_negatives", 1),
            # minhash estimator eval: signature agg + band explode +
            # the pair/signature/array joins
            ("dedup_minhash_estimate_error", 6),
            # readability: one scan, per-row expressions — NO shuffle
            ("text_readability_scores", 0),
            # Heaps fit: sharded doc-rank exchanges + the token
            # first-occurrence groupBy + checkpoint/fit rollups
            ("text_heaps_fit", 16),
            # unigram train: seed/vocab/EM rounds live behind staging
            # cuts; visible tail = the final cost projection's 1-row
            # totals
            ("unigram_lm_train_pieces", 1),
            # unigram apply: the per-word DP rides the staged vocab;
            # visible = the cost-map fold + word join + per-doc agg
            ("unigram_lm_tokenize_stats", 3),
            # trigram LM: c3/c2/vocab combines + the cost join + the
            # per-doc agg — corpus never shuffles, counts do
            ("text_trigram_perplexity", 5),
            # pipeline v4: v3's staged chain + the LM gate's 1-row
            # stats; visible tail = cap window + split rollup
            ("pipeline_training_corpus_v4", 2),
            # MMR re-rank: candidate generation + every greedy round
            # live behind eager stage cuts (request-batch frames)
            ("ann_mmr_rerank", 0),
            # temperature mixture: the (source) combine + the 1-row
            # total; apportionment runs on |sources| rows behind the
            # staged base
            ("mixture_temperature_weights", 2),
            # shard audit: the (shard) combine + the 1-row total +
            # its broadcast side
            ("training_shard_assignment", 3),
            # repetition suite: the doc_id fan-out exchange carries
            # the whole pipeline (every later grouping keys on
            # doc_id) — plus headroom for the twin materialization
            # of the base branch
            ("curation_gopher_repetition", 3),
            # url canonicalization is scan-local; the page-group
            # combine + the host window over the reduced group table
            ("dedup_url_canonicalize", 2),
            # the doc_id fan-out (appears once per branch in the
            # plan text) + the benchmark shingle index distinct
            # (tiny, broadcast); the (benchmark, doc_id) counting
            # rolls up on the fanned partitioning with no further
            # exchange (see TestScaleShapes)
            ("contamination_benchmark_report", 3),
            # ingest funnel: two keep-first windows (canon_url, th)
            # + three host rollups + the report join — every
            # exchanged row is slim keys/counts, the text column
            # never leaves the scan (WindowGroupLimit pinned below)
            ("pipeline_web_ingest", 6),
        ],
    )
    def test_shuffle_budget(self, spark, name, budget):
        plan = plan_of(spark, name, mode="simple")
        assert n_exchanges(plan) <= budget, plan


def job_ids_run(spark, action) -> list[int]:
    """Ids of the Spark jobs `action()` runs, through a fresh job group."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def jobs_run(spark, action) -> int:
    """Spark jobs `action()` runs."""
    return len(job_ids_run(spark, action))


class TestJobBudget:
    """Jobs per action, beside the shuffle budgets: in small streaming
    epochs each Spark job is a fixed scheduling cost, so the CDC
    path's job counts are pinned like its exchange counts."""

    def _forced_jobs(self, spark, name):
        """Jobs to build the registered query and force it through a
        noop write, plan-time jobs included. Every table is loaded
        first, so the count is of a warm query, whose reads infer no
        schema, whatever ran before it in the session."""
        from jly_flink_spark.io import TABLES, load_table

        for table in TABLES:
            load_table(spark, SF_DIR, table)

        def run():
            df = REGISTRY[name].spark_fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()

        return jobs_run(spark, run)

    def _forced_build_jobs(self, spark, name):
        """`_forced_jobs` with the in-process layout caches cleared, so
        the count covers the layout build as well as the serve."""
        from jly_flink_spark.plans import curation_queries, northstar_queries

        for mod in (northstar_queries, curation_queries):
            for attr, cache in vars(mod).items():
                if attr.endswith("_LAYOUT_CACHE"):
                    cache.clear()
        return self._forced_jobs(spark, name)

    def test_build_pipeline_forces_in_one_job(self, spark):
        """The enrichment adds no job: no broadcast of the sources
        dim, one job for the scan-filter-project stage."""
        df = REGISTRY["cdc_delete_archive"].spark_fn(spark, SF_DIR)
        n = jobs_run(
            spark, lambda: df.write.format("noop").mode("overwrite").save()
        )
        assert n == 1

    def test_dual_sink_call_job_budget(self, spark, tmp_path):
        """One DualSink call: exactly 1 job of 1 stage — the Arrow
        collect of the scan-filter-project stage. Sorting by table and
        both sinks' writes run on the driver. 2 jobs when a shuffle
        grouped the rows by table and a Python-worker stage wrote
        them; 4 when the routed frame was persisted and each sink ran
        its own action."""
        from jly_flink_spark.streaming.sinks import (
            AdbStyleSink,
            DualSink,
            LocalDirTransport,
            SrStyleSink,
        )

        df = REGISTRY["cdc_delete_archive"].spark_fn(spark, SF_DIR)
        sink = DualSink(
            AdbStyleSink(str(tmp_path / "adb")),
            SrStyleSink(LocalDirTransport(str(tmp_path / "sr")), batch_size=20),
        )
        jobs = job_ids_run(spark, lambda: sink(df, 0))
        assert len(jobs) == 1, jobs
        info = spark.sparkContext.statusTracker().getJobInfo(jobs[0])
        assert len(info.stageIds) == 1, info

    def test_binlog_trickle_epoch_job_budget(self, spark, tmp_path):
        """One live trickle epoch of per-instance binlog tailers through
        parse, guards and enrichment into DualSink: exactly 1 job of 1
        stage. The tailers read their rows on the driver when the
        trigger asked for the latest offset, so the stage reads them
        from the block manager; the sink's Arrow collect is the job."""
        import json

        from jly_flink_spark.config import demo_task_config
        from jly_flink_spark.streaming.job import streaming_pipeline_binlogs
        from jly_flink_spark.streaming.sinks import (
            AdbStyleSink,
            DualSink,
            LocalDirTransport,
            SrStyleSink,
        )

        cfg = demo_task_config()
        logs = {
            s.instance_name: str(tmp_path / f"{s.instance_name}.log")
            for s in cfg.sources
        }

        def append(first, n):
            for k, path in enumerate(logs.values()):
                with open(path, "a", encoding="utf-8") as f:
                    for i in range(first, first + n):
                        f.write(json.dumps({
                            "op": "d",
                            "ts_ms": 1754000000000 + i,
                            "source": {"db": "demo", "table": "t_orders"},
                            "before": {"id": str(i * 3 + k), "v": "1.5"},
                        }) + "\n")

        sink = DualSink(
            AdbStyleSink(str(tmp_path / "adb")),
            SrStyleSink(LocalDirTransport(str(tmp_path / "sr")), batch_size=20),
        )
        append(0, 50)
        q = (
            streaming_pipeline_binlogs(spark, logs, cfg)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        tracker = spark.sparkContext.statusTracker()

        def data_epochs():
            return {p["batchId"] for p in q.recentProgress if p["numInputRows"]}

        try:
            q.processAllAvailable()  # the cold first epoch
            cold = data_epochs()
            before = set(tracker.getJobIdsForGroup(str(q.runId)))
            append(50, 200)
            q.processAllAvailable()
            jobs = sorted(set(tracker.getJobIdsForGroup(str(q.runId))) - before)
            epochs = data_epochs() - cold
        finally:
            q.stop()
        assert any((tmp_path / "adb" / "data" / "epoch_id=1").iterdir())
        # a trigger that lands mid-append splits the rows over two
        # epochs; each epoch is still exactly one job of one stage
        assert epochs and len(jobs) == len(epochs), (jobs, epochs)
        for job in jobs:
            info = tracker.getJobInfo(job)
            assert len(info.stageIds) == 1, info

    def test_pagerank_dup_chunks_job_budget(self, spark):
        """Building and forcing PageRank over the duplicate-chunk
        graph: 15 jobs, counting the plan-time ones (the eager chunk
        cut, the staged frames). 16 when every `documents` load
        inferred its schema; 21 when every round rebuilt all node
        ranks; 20 when AQE broadcast the per-node sums into each
        join."""
        assert self._forced_jobs(spark, "graph_pagerank_dup_chunks") <= 15

    def test_bfs_reachability_job_budget(self, spark):
        """Building and forcing the 4-level BFS: 9 or 14 jobs — 14
        when the seeds' exchange finishes before AQE has seen the
        edge list's size and chosen to broadcast it, so every level
        keeps its min-depth exchange. One more when the `documents`
        load inferred its schema; 41 to 43 when a recursive CTE ran
        each level as its own round of jobs."""
        assert self._forced_jobs(spark, "graph_bfs_reachability") <= 14

    def test_kmeans_job_budget(self, spark):
        """Building and forcing the K-means audit: 11 jobs (12 when the
        `embeddings` load inferred its schema, 18 when K-means ran its
        own loop). K-means runs PQ's Lloyd loop with
        one subspace: one seed collect, which also yields the
        dimension, then one update action per round against
        driver-side centroids — no centroid staging cut to force."""
        assert self._forced_jobs(spark, "embedding_kmeans_clusters") <= 11

    def test_pq_adc_job_budget(self, spark):
        """Building and forcing the PQ training + ADC audit: 10 jobs
        (11 with a schema-inference job for `embeddings`, 17 with a
        `first()` probe job for the dimension and a staged codebook
        per round), the same loop as K-means with M=8."""
        assert self._forced_jobs(spark, "embedding_pq_adc") <= 10

    def test_ivf_int8_build_job_budget(self, spark):
        """Building the IVF-SQ8 layout (centroids, then one write whose
        code kernel runs in the scan stage ahead of the list_id
        exchange) and serving it: 13 jobs (14 when the `embeddings`
        load inferred its schema)."""
        assert self._forced_build_jobs(spark, "ann_cosine_ivf_int8") <= 13

    def test_ivf_pq_build_job_budget(self, spark):
        """Building the raw IVF-PQ layout and serving it: 20 jobs. The
        list is assigned ahead of the Lloyd loop and rides through it
        with the code, so the layout write joins nothing back onto the
        corpus; with that join it took 22, and with a schema-inference
        job for `embeddings` 21."""
        assert self._forced_build_jobs(spark, "ann_ivf_pq_adc") <= 20

    def test_ivf_pq_residual_build_job_budget(self, spark):
        """Building the residual IVF-PQ layout and serving it: 21 jobs.
        The list and the full code ride through the residual Lloyd
        loop, so the layout write joins nothing back; with that join,
        whose strategy AQE picked at run time, it took 25 or 26, and
        with a schema-inference job for `embeddings` 22."""
        assert self._forced_build_jobs(spark, "ann_ivf_pq_residual") <= 21

    def test_silhouette_job_budget(self, spark):
        """K-means and the silhouette audit over one coded frame, its
        codes quantized once: 24 jobs (25 when the `embeddings` load
        inferred its schema)."""
        assert (
            self._forced_jobs(spark, "embedding_silhouette_by_cluster") <= 24
        )

    def test_bpe_train_merges_job_budget(self, spark):
        """Building and forcing 8 BPE rounds: 18 jobs (19 when the
        `documents` load inferred its schema). The score reads no
        symbol counts, so no round aggregates them."""
        assert self._forced_jobs(spark, "bpe_train_merges") <= 18

    def test_bpe_tokenize_corpus_job_budget(self, spark):
        """Training, the merge-table collect and the forced per-row
        apply: 19 jobs — the apply scan itself adds no shuffle; 20 when
        the `documents` load inferred its schema."""
        assert self._forced_jobs(spark, "bpe_tokenize_corpus") <= 19

    def test_wordpiece_train_merges_job_budget(self, spark):
        """Building and forcing 6 WordPiece rounds: exactly 26 jobs (27
        when the `documents` load inferred its schema). Both
        symbol-count sides of each round's score join are broadcast at
        plan time; left to AQE's run-time re-planning, identical runs
        took 27 to 31 jobs."""
        assert self._forced_jobs(spark, "wordpiece_train_merges") == 26


class TestScaleShapes:
    """Plan shapes of the round-2 distributed rewrites: the properties
    that distinguish them from their single-task/driver-side
    predecessors must hold structurally, not by luck."""

    def test_web_ingest_text_never_shuffles(self, spark):
        """The ingest funnel must compute md5/token-count/canon keys
        scan-local: no text column below any exchange, and the two
        keep-first windows must be WindowGroupLimit-prunable so each
        shuffle carries per-partition rn=1 survivors, not the corpus."""
        plan = plan_of(spark, "pipeline_web_ingest")
        assert "WindowGroupLimit" in plan, plan
        for frag in plan.split("Exchange hashpartitioning")[1:]:
            assert "text#" not in frag[:400], plan

    def test_contamination_report_corpus_never_shuffles(self, spark):
        """The multi-benchmark report must probe the corpus against a
        BROADCAST shingle index: the corpus side reaches its one
        counting exchange only as matched slim rows — no sort-merge
        join, no corpus-side text/shingle-array column below any
        hash exchange (round-13 verdict task 8's structural pin)."""
        plan = plan_of(spark, "contamination_benchmark_report")
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        # the only hash exchanges are the tiny index distinct and the
        # matched-pair combine; text never appears under either
        for frag in plan.split("Exchange hashpartitioning")[1:]:
            head = frag[:400]
            assert "text#" not in head, plan

    def test_near_dup_pairs_no_driver_collect_shape(self, spark):
        """Blocked all-pairs: the plan must contain the block-pair
        groupBy (FlatMapGroupsInPandas), and NO broadcast of the
        corpus (the old driver-collect path broadcast it)."""
        plan = plan_of(spark, "dedup_embedding_cosine")
        assert "FlatMapGroupsInPandas" in plan
        assert "BroadcastExchange" not in plan

    def test_near_dup_blocking_is_parallelism_sized(self):
        """The default block count must come from cluster parallelism
        (~sqrt(2*cores)) until the memory cap kicks in — NOT from a
        small fixed block length (n/256 replicated the corpus ~235x
        through the explode at sf0.1: the r2 2x bench breach)."""
        from jly_flink_spark.operators.similarity import (
            default_block_count,
        )

        # parallelism-dominated regime: B is independent of n
        assert default_block_count(60_000, 32) == 8
        assert default_block_count(1_000, 32) == 8
        assert default_block_count(60_000, 1000) == 45
        # memory-cap regime: B grows linearly with n, never n/256
        assert default_block_count(10_000_000, 32) == 306
        assert default_block_count(0, 32) >= 1

    def test_near_dup_pairs_shuffle_budget(self, spark):
        """Replication explode is narrow; the whole operator pays at
        most the small-input fan-out repartition plus the one
        block-pair exchange."""
        plan = plan_of(spark, "dedup_embedding_cosine", mode="simple")
        assert n_exchanges(plan) <= 2, plan

    def test_global_rank_is_range_sharded(self, spark):
        """Sharded rank: the local stage must range-partition (shard
        order = key order) and window per shard; the assembled
        operator joins the offsets via broadcast. (Two plans because
        the checkpoint hides stage 1's lineage in the full plan.)"""
        import contextlib
        import io

        from jly_flink_spark.io import load_table
        from jly_flink_spark.operators.ranking import sharded_local_ranks

        s = load_table(spark, SF_DIR, "supplier")
        local = sharded_local_ranks(
            s, "s_acctbal", desc=True, tiebreak=("s_suppkey",)
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            local.explain("formatted")
        stage1 = buf.getvalue()
        assert "rangepartitioning(" in stage1
        # every window partitions by the shard — none are global
        assert "windowspecdefinition(_shard#" in stage1

        plan = plan_of(spark, "window_rank_dense")
        assert "BroadcastExchange" in plan

    def test_token_budget_window_is_sharded(self, spark):
        """The running sum must window over the shard key, not a
        global empty partition spec."""
        df = REGISTRY["batch_by_token_budget"].spark_fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        # every windowspecdefinition must carry a partition expression
        for frag in analyzed.split("windowspecdefinition(")[1:]:
            head = frag.split(")")[0]
            assert "shard" in head or "_shard" in head, analyzed

    @pytest.mark.parametrize(
        "name",
        [
            "customer_rfm_segments",
            "lineitem_abc_classes",
            "text_vocab_growth",
        ],
    )
    def test_dim_sized_windows_are_sharded(self, spark, name):
        """The r6-verdict scale-killers: these three ranked/cumsum
        analytics run over dim-sized frames (|customers|, |parts|,
        |docs|) that grow with the corpus, so every window visible
        in their plans must be offsets-side — ordered by `_shard`
        or partitioned by lit(1) over the ≤n_shards per-shard stats
        frame. (The dim-sized local windows are `_shard`-partitioned
        but hidden behind the stability checkpoint; their shape is
        pinned by test_global_rank_is_range_sharded.) A window
        matching neither is a single-task global sort over the
        dim frame."""
        df = REGISTRY[name].spark_fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        frags = analyzed.split("windowspecdefinition(")[1:]
        assert frags, f"{name}: expected sharded windows in plan"
        for frag in frags:
            head = frag.split(")")[0]
            assert "_shard" in head or head.startswith("1,"), (
                name,
                analyzed,
            )

    def test_unigram_lm_reuses_vocab_exchange(self, spark):
        """The LM-build and scoring branches share the token-groupBy
        subtree; at runtime AQE must collapse the duplicated vocab
        exchange (ReusedExchange), so the exploded corpus is read
        twice (build + score), never a third time for the total."""
        df = REGISTRY["text_unigram_logprob"].spark_fn(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan

    def test_bigram_lm_reuses_unigram_exchange(self, spark):
        """Same contract one order up: the bigram vocab join and the
        scalar total both consume the unigram token counts; AQE must
        collapse the duplicated tok exchange at runtime."""
        df = REGISTRY["text_bigram_logprob"].spark_fn(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan

    def test_kmv_partial_topk_is_mergeable_shape(self, spark):
        """The KMV sketch's scale property: the rn<=K filter must
        compile to a PARTIAL WindowGroupLimit below the exchange —
        each partition forwards only its K smallest hashes (sketch
        mergeability), so shuffle volume is O(partitions*K), not
        O(distinct values)."""
        plan = plan_of(spark, "agg_kmv_distinct", mode="simple")
        _, _, below = plan.partition("Exchange hashpartitioning")
        assert "WindowGroupLimit" in below, plan

    def test_interleave_partial_rank_shape(self, spark):
        """The interleave's per-domain rank filter must compile to
        WindowGroupLimit — each partition forwards at most N rows per
        domain, so the global ordering never sees the corpus."""
        plan = plan_of(spark, "training_interleave_order", mode="simple")
        assert "WindowGroupLimit" in plan, plan

    def test_tfidf_topk_partial_shape(self, spark):
        """TF-IDF's per-doc rank must compile to WindowGroupLimit so
        each partition keeps only k scored terms per document before
        the rank shuffle — top-k volume, not vocabulary volume."""
        plan = plan_of(spark, "text_tfidf_topk", mode="simple")
        assert "WindowGroupLimit" in plan, plan

    def test_quantile_sketch_partial_topk_shape(self, spark):
        """Same mergeable shape for the quantile sketch: each
        partition forwards only its K smallest-hash rows to the one
        window shuffle (WindowGroupLimit below the exchange)."""
        plan = plan_of(spark, "agg_quantile_sketch", mode="simple")
        _, _, below = plan.partition("Exchange hashpartitioning")
        assert "WindowGroupLimit" in below, plan

    def test_kmv_source_overlap_partial_topk_shape(self, spark):
        """The sketch set-algebra query shares the mergeable shape:
        the per-source bottom-K compiles to a partial WindowGroupLimit
        below its exchange, so the corpus-side shuffle stays
        O(partitions*K) — the pairwise algebra above it only ever
        moves |sources|*K rows."""
        plan = plan_of(spark, "agg_kmv_source_overlap", mode="simple")
        _, _, below = plan.partition("Exchange hashpartitioning")
        assert "WindowGroupLimit" in below, plan

    def test_pagerank_edges_checkpointed_once(self, spark):
        """The 3 unrolled PageRank iterations must all read the edge
        list from its localCheckpoint (`Scan ExistingRDD`) — never
        re-derive the chunk self-join per iteration — and the node
        list is read once, for the final ranks."""
        plan = plan_of(spark, "graph_pagerank_dup_chunks", mode="simple")
        # each iteration ranks the sources of the checkpointed edge
        # list; the 4 crossJoins (iteration 1, two source re-ranks,
        # the final ranks) read the checkpointed 1-row scalar-N frame
        assert plan.count("Scan ExistingRDD[src") == 3, plan
        assert plan.count("Scan ExistingRDD[_n") == 4, plan
        # no iteration rebuilds the node table: `documents` is
        # scanned once, for the final nodes ⟕ sums, and no staged
        # node projection exists to re-read
        assert plan.count("FileScan parquet") == 1, plan
        assert "Scan ExistingRDD[node" not in plan, plan
        # the chunk derivation (md5 over token slices) is absent from
        # the final plan entirely — it ran once inside the checkpoint
        assert "md5" not in plan, plan

    def test_ivf_int8_serving_prunes_partitions(self, spark):
        """The IVF-SQ8 registry query must read the persisted layout
        through a partition-pruned scan (PartitionFilters on list_id)
        with the partial top-k (WindowGroupLimit) below its one
        exchange — the two properties that make the int8 serving tier
        corpus-fraction instead of O(corpus) (the round-4 watch
        item)."""
        plan = plan_of(spark, "ann_cosine_ivf_int8")
        pf = plan.split("PartitionFilters")[1].split("]")[0]
        assert "list_id" in pf, plan
        simple = plan_of(spark, "ann_cosine_ivf_int8", mode="simple")
        _, _, below = simple.partition("Exchange hashpartitioning")
        assert "WindowGroupLimit" in below, simple

    def test_minhash_signature_aggregates_mapside(self, spark):
        """KM minhash: one partial_min-capable HashAggregate per
        signature column — the groupBy(doc_id) must partial-aggregate
        before its exchange (24 mins per doc per map task, not raw
        token rows into the shuffle)."""
        plan = plan_of(spark, "dedup_minhash_candidates")
        assert "partial_min" in plan


class TestCodegen:
    # text_stats is deliberately absent: its higher-order functions
    # (filter/aggregate lambdas) are CodegenFallback in Spark — still
    # JVM-evaluated, but not fused into whole-stage codegen.
    @pytest.mark.parametrize(
        "name",
        ["agg_q1_pricing_summary", "cdc_delete_archive", "scalar_string_funcs"],
    )
    def test_wholestage_codegen(self, spark, name):
        """Hot-path expressions must stay inside whole-stage codegen
        (JVM), not fall back to interpreted evaluation. In formatted
        explain output, codegen'd operators carry a `*` prefix; AQE
        hides them until execution, so it's off for this check."""
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = plan_of(spark, name)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        header = plan.split("(1) ")[0]
        assert "* Project" in header or "* HashAggregate" in header, plan


class TestRuntimeFilters:
    def test_bloom_filter_prunes_fact_side_before_shuffle(self, spark):
        """enable_runtime_filters must make Catalyst inject a
        Bloom-filter membership probe (`might_contain(xxhash64(key))`)
        into the FACT side of a selective shuffle join, above its
        scan — the 100-TB lever for dim→fact joins too big to
        broadcast: non-matching fact rows drop before the exchange.
        The application-side threshold is forced to 0 here because no
        test-SF scan reaches the production 10GB default."""
        from pyspark.sql import functions as F

        from jly_flink_spark.io import load_table
        from jly_flink_spark.session import enable_runtime_filters

        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.optimizer.runtime.bloomFilter.enabled",
                "spark.sql.optimizer.runtime.bloomFilter."
                "applicationSideScanSizeThreshold",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        }
        try:
            enable_runtime_filters(
                spark, application_side_scan_threshold="0"
            )
            # force the shuffle-join regime the feature exists for
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            li = load_table(spark, SF_DIR, "lineitem")
            orders = load_table(spark, SF_DIR, "orders")
            sel = orders.filter(
                F.col("o_orderpriority") == "1-URGENT"
            ).select("o_orderkey")
            plan_df = li.join(
                sel, li.l_orderkey == sel.o_orderkey
            )
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                plan_df.explain("formatted")
            plan = buf.getvalue()
            assert "might_contain" in plan, plan
            assert "bloom_filter_agg" in plan, plan
            # the probe must sit on the lineitem (application) side,
            # i.e. reference the fact join key, not the dim key
            probe = next(
                ln for ln in plan.splitlines() if "might_contain" in ln
            )
            assert "l_orderkey" in probe, probe
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def test_greedy_coverage_is_submodular_and_consistent(spark):
    """selection_greedy_coverage's structural invariants: marginal
    gains are monotonically non-increasing (submodularity of the
    coverage objective under greedy selection), covered_total is the
    exact running sum of gains (each round's pick contributes
    exactly its marginal coverage), and no document is picked
    twice (a re-pick would have gain 0)."""
    from jly_flink_spark.plans import REGISTRY

    rows = sorted(
        REGISTRY["selection_greedy_coverage"]
        .spark_fn(spark, "/root/testdata/sf0.001")
        .collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == list(range(1, len(rows) + 1))
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True), gains
    assert all(g > 0 for g in gains)
    running = 0
    for r in rows:
        running += r["gain"]
        assert r["covered_total"] == running, (r, running)
    picked = [r["doc_id"] for r in rows]
    assert len(set(picked)) == len(picked)


class TestScanLocalTokenizeTraps:
    """Round-13 second wave: the tokenize/shingle chain in the heavy
    dedup/curation operators must run ABOVE a fan-out exchange, never
    inside the parquet scan stage. Two traps produce the bad shape:
    (a) projection-above-repartition collapses a tokenize projection
    into the single-split scan stage; (b) InferFiltersFromGenerate
    synthesizes a size()>0 filter from a plain explode and pushdown
    then inlines the WHOLE tokenize chain into the scan filter,
    evaluating it twice (once at split parallelism). The fix is
    raw-column fan-out + explode_outer + isNotNull; these tests pin
    the resulting shape on the unstaged plan (stage() patched to
    identity, because localCheckpoint hides the subtree)."""

    QUERIES = (
        "dedup_substring_spans",
        "dedup_ppjoin_pairs",
        "curation_dup_chunk_fraction",
    )

    def _unstaged_simple_plan(self, spark, monkeypatch, name: str) -> str:
        import jly_flink_spark.io as jio
        import jly_flink_spark.operators.dedup as dd
        import jly_flink_spark.plans.curation_queries as cq
        import jly_flink_spark.plans.northstar_queries as nq

        ident = lambda df, eager=False: df  # noqa: E731
        for mod in (jio, dd, cq, nq):
            if hasattr(mod, "stage"):
                monkeypatch.setattr(mod, "stage", ident)
            if hasattr(mod, "stage_eager"):
                monkeypatch.setattr(mod, "stage_eager", lambda df: df)
        df = REGISTRY[name].spark_fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    @pytest.mark.parametrize("name", QUERIES)
    def test_tokenize_never_runs_at_scan_parallelism(
        self, spark, monkeypatch, name
    ):
        plan = self._unstaged_simple_plan(spark, monkeypatch, name)
        lines = plan.splitlines()
        n_generates = sum("Generate" in ln for ln in lines)
        assert n_generates >= 1, plan  # shape drifted ⇒ rewrite test
        for i, ln in enumerate(lines):
            if "FileScan parquet" not in ln:
                continue
            # Walk upward to the nearest exchange feeding this scan.
            between: list[str] = []
            exchange = None
            for j in range(i - 1, -1, -1):
                if "Exchange" in lines[j]:
                    exchange = lines[j]
                    break
                between.append(lines[j])
            # Every text/doc scan must be fanned out by an explicit
            # repartition before any per-row tokenize work...
            assert exchange is not None, plan
            assert (
                "REPARTITION_BY_NUM" in exchange
                or "BroadcastExchange" in exchange
            ), (name, exchange)
            # ...and the scan stage itself (scan → exchange) must
            # contain no Generate and no tokenizer expression — only
            # cheap pruning filters/projections.
            for mid in between:
                assert "Generate" not in mid, (name, mid)
                assert "transform(" not in mid, (name, mid)
                assert "md5(" not in mid, (name, mid)
