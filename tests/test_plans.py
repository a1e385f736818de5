"""Scale-design assertions: these tests pin the PHYSICAL plans, not results.
A regression here means a query that still returns correct rows but would
melt at 100 TB (full scans, lost broadcasts, extra shuffles)."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from windflow_spark.plans import (
    codegen_stage_count,
    has_broadcast_join,
    physical_plan,
    pushed_filters,
    scan_read_schema,
    shuffle_count,
)
from windflow_spark.queries import (
    QUERIES,
    interval_join_dp,
    join_broadcast_parts,
    q1_pricing_summary,
    q6_revenue_filter,
    win_tb_sliding_1h_15m,
)

pytestmark = pytest.mark.usefixtures("no_cached_lineage")


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    df = q6_revenue_filter(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf


def test_q1_column_pruning(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    cols = set(scan_read_schema(df))
    # 7 of lineitem's 11 columns needed; the rest must not be read
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_tax"} <= cols


def test_dim_join_broadcasts(spark, sf_dir):
    assert has_broadcast_join(join_broadcast_parts(spark, sf_dir))


def test_interval_join_dp_broadcasts(spark, sf_dir):
    assert has_broadcast_join(interval_join_dp(spark, sf_dir))


def test_interval_join_is_equi_join_not_cross(spark, sf_dir):
    # the key condition must be the join key (hash/broadcast on user_id),
    # with the time range as residual — NEVER a cartesian product
    from windflow_spark.queries import interval_join_kp

    plan = physical_plan(interval_join_kp(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_interval_join_bucketed_composite_key(spark, sf_dir):
    # the blocked form must plan an equi-join (SMJ or hash) on the
    # composite (key, bucket) — never a nested loop; the bucket column must
    # appear in the join keys so low-cardinality keys spread across tasks
    from windflow_spark.queries import interval_join_bucketed_q

    plan = physical_plan(interval_join_bucketed_q(spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "__ij_bkt" in plan

def test_sliding_window_single_shuffle(spark, sf_dir):
    # explode + partial agg → exactly one exchange (by key+wid); replication
    # collapses map-side
    df = win_tb_sliding_1h_15m(spark, sf_dir)
    assert shuffle_count(df) == 1


def test_q1_single_shuffle_and_fused(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    assert shuffle_count(df) == 1  # one agg exchange; filter+project fused
    df.collect()  # AQE finalizes the plan; codegen markers appear post-exec
    assert codegen_stage_count(df) >= 1


# Queries whose BroadcastNestedLoopJoin is the documented contract:
# - brute_force_topk broadcasts a SIZE-GUARDED query side (the
#   exact-baseline contract; the guard refuses unbounded sides), and the
#   recall metric reuses it;
# - the scalar-subquery queries join a ONE-ROW broadcast aggregate
#   (avg/total) — a 1×N nested loop is O(N), the right plan for a scalar.
_BNLJ_ALLOWED = {
    # one-row temporal-midpoint cut crossJoined onto the orders/events
    # scan — the in-plan replacement for the driver-side cut collect
    # (r12, guide §5); a 1xN nested loop over a one-row broadcast is O(N)
    "recsys_hitrate_at3",
    "recsys_ndcg_at3",
    "recsys_mrr_at5",
    "recsys_map_at3",
    "snapshot_diff_events",
    "dq_profile_drift_orders",
    # one-row basket-total aggregate crossJoined onto the filtered pair
    # frame — the in-plan replacement for the eager n_baskets count job
    # (r12, the assoc_rules_triples nb pattern)
    "assoc_rules_lift",
    # one-row OLS-scalar frame (b0/b1/s2/moments) crossJoined onto the
    # lineitem scan for the per-row Cook's D projection (r11)
    "cooks_distance_influential",
    # bounded eval-split broadcast onto the corpus scan (the
    # brute_force_topk contract) + one-row flagged-count attach (r11)
    "decontam_embedding_near",
    # one-row (total, denom) frame crossJoined onto the source-
    # cardinality mixing table (r11)
    "mix_epochs_schedule",
    # one-row basket-count scalar crossJoined onto the <=C(25,3)-row
    # brand-triple frame for the lift denominator (r11)
    "assoc_rules_triples",
    # one-row L-inf-norm scalar crossJoined onto the 64-row vector frame
    # at each of the 3 exact re-normalization steps (r11)
    "embedding_pca_power_iteration",
    # two one-row max-score frames crossJoined onto the 10-row top-k
    # sides for the deferred normalization (r10)
    "hits_hubs_authorities",
    # k-row trained-codebook broadcast assignments (the documented
    # _assign_nearest_list O(N·k) BNLJ, same as the sim_topk_ivf_kmeans
    # family) (r10)
    "dedup_semantic_clusters",
    # one-row bigram-type total crossJoined onto the scored bigrams (r10)
    "lm_kneser_ney_bigrams",
    # bounded 5-query (20-subvector) sample broadcast onto the corpus
    # subvector scan — the sim_topk_bruteforce exact-rerank contract (r10)
    "sim_maxsim_multivector",
    # one-row last-count frame crossJoined onto the one-row moment fit (r10)
    "ts_ar1_daily_forecast",
    # one-row group-total scalar crossJoined onto the l histogram (r10)
    "l_diversity_audit",
    # one-row H-statistic frame crossJoined onto the 5-row group rank
    # sums, plus the 1x1 totals x ties join (the anova shape) (r9)
    "kruskal_wallis_qty_priority",
    # one-row (tp_all, fp_all) totals crossJoined onto the 11-threshold
    # frame (r9)
    "roc_curve_discount_return",
    # three one-row KMV summaries + the one-row exact-intersection count
    # crossJoined into the single output row (r9)
    "kmv_union_intersect_users",
    # one-row revenue total crossJoined onto the 10-decile frame (r9)
    "lorenz_curve_deciles",
    # one-row total-quantity scalar crossJoined onto the part frame for
    # the integer ABC boundary test (r9)
    "abc_xyz_inventory",
    # one-row corpus-count N broadcast onto the ranked doc frame — the
    # scalar-attach plan for the quantile position formula (r9)
    "quantile_normalize_doclen",
    # one-row global-rate prior crossJoined onto the 25-brand frame (r9)
    "eb_shrunk_return_rates",
    # bounded query-sample frame broadcast for the exact brute-force truth
    # side (the sim_topk_bruteforce contract) + 1x1 hit/total attach (r9)
    "knn_graph_recall",
    # one-row Brier/total frame crossJoined onto the 11-bin frame (r9)
    "calibration_bins_brier",
    # one-row global min/max scalar broadcast onto the fact rows before
    # the 256-bin histogram — the documented scalar crossJoin shape
    "ks_drift_order_prices",
    # one-row edge-count scalar crossJoined with the one-row corr agg (r8)
    "graph_assortativity_copurchase",
    # one-row (n, nr, nc) totals crossJoined onto the 25-cell frame and
    # the one-row chi2 agg (r8)
    "cramers_v_segment_priority",
    # one-row exact-integer mean broadcast onto the facts for the
    # centered-moment pass (r8)
    "jarque_bera_order_prices",
    # one-row (gt, bt) totals crossJoined onto the 5-row segment frame (r8)
    "woe_iv_segment_urgent",
    # one-row (nt, pt) totals crossJoined onto the 10-row decile frame (r8)
    "gains_table_deciles",
    # one-row grand algebra crossJoined with the 5-row deviation frame,
    # the anova_f_segments shape (r8)
    "levene_bf_segments",
    # one-row (total, vocab) frame crossJoined onto the 3 emitted rows (r8)
    "vocab_coverage_curve",
    # one-row bucket-size scalar crossJoined onto the token stream (r7)
    "heaps_law_vocab_growth",
    # one-row (n_days, total) scalar crossJoined onto the day frame (r7)
    "cusum_order_volume",
    # one-row grand-total frame crossJoined with the 5-row segment summary
    "theil_index_segments",
    # three/four ONE-ROW count frames combined by 1x1 crossJoins into the
    # single report row (the graph_triangle_count shape) (r7)
    "dedup_lsh_recall",
    "k_core_copurchase",
    # one-row node-count scalar crossJoined with the one-row MLE agg
    "graph_degree_powerlaw",
    # 8-row lag frame broadcast-replicating the days-sized summary
    "ccf_clicks_purchases_daily",
    # one-row OLS coefficient frame broadcast back onto the facts
    "breusch_pagan_price_quantity",
    # one-row grand-mean frame crossJoined with the 5-row segment summary
    "anova_f_segments",
    # k×Q bounded brute-force comparison frames (quantized-recall shape)
    "sim_matryoshka_recall",
    # one-row corpus-median frame broadcast back onto the doc flags
    "quality_filter_kappa",
    "sim_topk_bruteforce",
    "sim_lsh_recall",
    "sim_ivf_recall",
    # codebook (num_lists rows) broadcast to the bounded query side — the
    # documented multi-probe ranking step; the probe itself is an equi-join
    "sim_topk_ivf_multiprobe",
    "sim_ivf_multiprobe_recall",
    "scalar_subquery_above_avg",
    "q11_important_parts",
    # one-row doc-count N broadcast onto the vocab-sized idf table —
    # a 1×vocab nested loop, the right plan for attaching a scalar
    "tfidf_top_terms",
    # k-row trained codebook broadcast onto the corpus — the Lloyd
    # assignment step, O(N·k) by definition; probe ranking reuses it on
    # the bounded query side
    "sim_topk_ivf_kmeans",
    "sim_ivf_kmeans_recall",
    # (lm_perplexity_scores left this list in r6: V is counted up front
    # and inlined as a literal, so no scalar-attach BNLJ remains)
    # k-row codebook broadcast (Lloyd assignment), as sim_topk_ivf_kmeans
    "cluster_embeddings_kmeans",
    # one-row corpus-total N broadcast onto the reduced (group, token)
    # frame — the scalar-attach plan for the KL denominator (r6)
    "source_token_kl",
    # one-row 9-cut decile array broadcast onto both populations — the
    # scalar-attach plan for PSI binning (r6)
    "psi_price_drift",
    # one-row sketch-cutpoint array broadcast — same scalar-attach plan
    "bin_equal_freq_approx",
    # k x Q-bounded brute-force frames on BOTH sides (exact + quantized),
    # same contract as sim_lsh_recall
    "sim_quantized_recall",
    # one-row bloom bit-array broadcast onto the fact scan — the
    # scalar-attach plan for the semi-join reduction pre-filter (r6)
    "bloom_prefilter_join",
    # 10-row query frame broadcast for the exact-L2 side of the PQ
    # recall — the sim_topk_bruteforce contract (PQ itself is BNLJ-free:
    # its codebook joins are equi-joins on the subspace id)
    "sim_pq_recall",
    # three ONE-ROW summary frames (degree stats / edge count / triangle
    # count) combined by 1×1 crossJoins into the single report row
    "graph_triangle_count",
    # one-row total-token-count frame broadcast onto the tf frame — the
    # tfidf_top_terms scalar-attach shape (avgdl denominator)
    "bm25_top_docs",
    # three ONE-ROW eval-count frames combined by 1×1 crossJoins into the
    # single report row (the graph_triangle_count shape)
    "recsys_hitrate_at3",
    # |types|-row sketch table self-paired on t<t — a bounded-frame
    # nested loop BY DESIGN (sketch algebra runs on the tiny pair frame;
    # the corpus-sized work is the one distinct+sketch pass)
    "approx_overlap_event_users",
    # one-row max-day cutoff broadcast onto the event scan — the
    # scalar-attach plan for the embargo boundary
    "split_temporal_embargo",
    # bounded query side broadcast — the sim_topk_bruteforce contract
    # with the label-mismatch predicate folded into the join
    "sim_hard_negatives",
    # k-row codebook broadcast (Lloyd assignment), as cluster_embeddings
    "cluster_label_purity",
    # one-row max-partkey scalar broadcast onto the customer frame +
    # one-row count frames crossJoined into the single audit row
    "negative_sampling_pairs",
    # one-row count frames crossJoined into the single audit row
    "forget_cascade_audit",
    "dedup_incremental_delta",
    "conversion_within_24h",
}


def test_no_cartesian_anywhere(spark, sf_dir):
    # exchange counts must be cache-independent: queries that persist()
    # register InMemoryRelations the CacheManager substitutes into any
    # later identical subtree, shifting plan-node counts (r8 flake:
    # assortativity read 8 vs 7 after no_cartesian built all DFs)
    spark.catalog.clearCache()
    # global design rules: every registry query must PLAN (a query erroring
    # at analysis time must fail THIS test, not silently skip — round 3's
    # NTZ regression hid exactly there), no query may plan a cartesian
    # product, and nested-loop joins are forbidden except where documented.
    cartesian, nested, broken = [], [], []
    for name, fn in QUERIES.items():
        try:
            plan = physical_plan(fn(spark, sf_dir))
        except Exception as e:
            broken.append((name, str(e).splitlines()[0][:120]))
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            nested.append(name)
    assert broken == [], f"queries failing to plan: {broken}"
    assert cartesian == [], f"cartesian products in: {cartesian}"
    assert nested == [], f"undocumented nested-loop joins in: {nested}"


def test_minhash_lsh_fused_exchange_budget(spark, sf_dir):
    # r5 fusion (r4 VERDICT #1): one shingle pass feeding signatures AND
    # verify sets, grouped-bucket pair expansion instead of a self-join,
    # melt-join verify, dedup folded into the verify regroup. Budget: ≤4
    # keyed exchanges for the flagship, ≤4 for the capped variant (r4: 8
    # and 11 total / 4 and 7 keyed). A regression here reintroduces a
    # corpus-sized re-shuffle at 100 TB.
    from windflow_spark.plans.explain import keyed_shuffle_count
    from windflow_spark.queries import dedup_minhash_lsh, dedup_minhash_lsh_capped

    assert keyed_shuffle_count(dedup_minhash_lsh(spark, sf_dir)) <= 4
    assert keyed_shuffle_count(dedup_minhash_lsh_capped(spark, sf_dir)) <= 4


def test_q2_dimension_chain_broadcasts(spark, sf_dir):
    from windflow_spark.queries import q2_min_cost_supplier

    assert has_broadcast_join(q2_min_cost_supplier(spark, sf_dir))


def test_chunking_runs_at_scan_speed(spark, sf_dir):
    # chunking is tokenize+explode+slice — no KEYED shuffle (the only
    # allowed exchange is the round-robin input widener, a no-op at real
    # scale), and only the two needed columns leave the scan
    from windflow_spark.plans.explain import keyed_shuffle_count
    from windflow_spark.queries import doc_chunk_tokens

    df = doc_chunk_tokens(spark, sf_dir)
    assert keyed_shuffle_count(df) == 0
    assert set(scan_read_schema(df)) == {"doc_id", "text"}


def test_vocab_topn_uses_take_ordered_not_global_window(spark, sf_dir):
    # the top-N must be the distributed TakeOrdered path; a global
    # row_number window over every token count would single-partition the
    # whole vocabulary at scale
    from windflow_spark.queries import vocab_top100

    plan = physical_plan(vocab_top100(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path_factory):
    from windflow_spark.operators.bucketing import bucketed_join, write_bucketed
    from windflow_spark.tables import load_table

    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 4)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", ["o_orderkey"], 4
    )
    try:
        j = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        # disable broadcast so the join must be sort-merge — the point is
        # that co-bucketing removes BOTH exchanges
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j2 = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
            assert shuffle_count(j2) == 0
            assert j2.count() == li.count()
        finally:
            # restore the session's threshold: unset() falls back to Spark's
            # 10 MB default and changes every later plan's broadcasts
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_q21_fact_shuffles_on_orderkey_only(spark, sf_dir):
    # r5: repartition("l_orderkey") satisfies both aggs and the self-join
    # via subset partitioning. Statically the shared fact exchange appears
    # once per reference (runtime ReusedExchange collapses them), so the
    # budget is 3 keyed total (2× the same orderkey exchange + the tiny
    # s_name agg) — and NO exchange may partition on the old composite
    # (l_orderkey, l_suppkey) key, the signature of the 3-shuffle form.
    import re

    from windflow_spark.plans.explain import keyed_shuffle_count
    from windflow_spark.queries import q21_sole_returned_supplier

    df = q21_sole_returned_supplier(spark, sf_dir)
    assert keyed_shuffle_count(df) <= 3
    parts = re.findall(r"hashpartitioning\([^)]*\)", physical_plan(df))
    assert not any("l_suppkey" in p for p in parts), parts


def test_q12_filter_pushed_to_scan(spark, sf_dir):
    # the year-equality filter must reach the scan as a date range
    # (function-wrapped columns defeat parquet row-group skipping)
    from windflow_spark.queries import q12_priority_class

    plan = physical_plan(q12_priority_class(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan and "LessThan(l_shipdate" in plan


def test_dedup_segments_rank_limit_pushdown(spark, sf_dir):
    # the survivor filter (rn = 1) must run as WindowGroupLimit BEFORE the
    # exchange too (map-side pruning of duplicate segments); without it
    # every segment occurrence crosses the shuffle twice
    from windflow_spark.queries import dedup_segments_exact

    plan = physical_plan(dedup_segments_exact(spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2


def test_zscore_two_keyed_exchanges(spark, sf_dir):
    # bucket agg + RANGE-frame window — anything more means the window
    # stopped reusing the key partitioning
    from windflow_spark.plans.explain import keyed_shuffle_count
    from windflow_spark.queries import ts_zscore_anomaly

    assert keyed_shuffle_count(ts_zscore_anomaly(spark, sf_dir)) <= 2


def test_r5_additions_exchange_budgets(spark, sf_dir):
    # exchange counts must be cache-independent: queries that persist()
    # register InMemoryRelations the CacheManager substitutes into any
    # later identical subtree, shifting plan-node counts (r8 flake:
    # assortativity read 8 vs 7 after no_cartesian built all DFs)
    spark.catalog.clearCache()
    # pin the keyed-shuffle budgets of the late-r5 families — a regression
    # here reintroduces a corpus re-shuffle at 100 TB (budgets from
    # PLANS.md at the time each operator was tuned)
    from windflow_spark.plans.explain import keyed_shuffle_count

    budgets = {
        "tfidf_top_terms": 3,          # tf agg + term window + doc rank
        "lm_perplexity_scores": 4,     # tf/bigram aggs + eval join + doc agg
        "heavy_hitters_tokens": 2,     # sketch merge + exact-side agg
        "mix_sources_balanced": 2,     # source counts + final agg
        "cohort_retention_weekly": 3,  # distinct + first-activity + join
        "sample_token_budget": 1,      # one stratum window
    }
    over = {}
    for name, budget in budgets.items():
        got = keyed_shuffle_count(QUERIES[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"keyed-exchange budgets exceeded: {over}"


def test_r6_additions_exchange_budgets(spark, sf_dir):
    # exchange counts must be cache-independent: queries that persist()
    # register InMemoryRelations the CacheManager substitutes into any
    # later identical subtree, shifting plan-node counts (r8 flake:
    # assortativity read 8 vs 7 after no_cartesian built all DFs)
    spark.catalog.clearCache()
    # keyed-shuffle budgets of the r6 families (from PLANS.md at tuning
    # time) — a regression reintroduces a corpus re-shuffle at 100 TB
    from windflow_spark.plans.explain import keyed_shuffle_count

    budgets = {
        "scd2_customer_status": 1,   # both windows share one key ordering
        "ts_ohlc_hourly": 1,         # single (key, bucket) agg
        "trending_types_daily": 2,   # bucket agg + lag over the summary
        "source_token_kl": 4,        # corpus (grp,tok) + tok/grp windows;
                                     # tot branch rides ReuseExchange
        "fuzzy_match_suppliers": 1,  # block-key equi-self-join only
        "winsorize_order_prices": 2, # bounds agg + clamp agg (same keys;
                                     # bounds ride back via broadcast)
        "pmi_token_pairs": 4,        # pair agg + dfreq agg + 2 tok joins
        "ts_ewma_daily": 2,          # bucket agg + per-key fold
        "ts_mad_anomaly_daily": 2,   # bucket agg + one repartition-by-key
                                     # shared by BOTH percentile windows
        "chi2_segment_priority": 1,  # cell agg; marginals are window sums
        "key_skew_events": 1,        # per-key counts; report is global agg
        "corr_lineitem_metrics": 1,  # single co-moment aggregation pass
        "pagerank_purchase_graph": 14,  # logical count over the UNCACHED
                                     # lineage; at runtime the persisted
                                     # edge list collapses the repeats
        "pivot_segment_priority": 2,  # fact⋈dim join + pivot agg
        "split_train_val_test": 1,    # hash-stamp + one split agg
        "hist_doc_lengths": 1,        # bucket agg; total is a window sum
        "ts_rolling_corr": 1,         # one conditional-agg pass builds
                                      # BOTH series (no self-join)
        "bin_equal_freq": 0,          # global ntile sort (SinglePartition
                                      # exchange, not keyed) + final agg
        "markov_event_transitions": 3,  # user lead() + (from,to) agg +
                                      # from_type window over tiny frame
        "psi_price_drift": 2,         # one bin agg per population; cuts
                                      # ride as a one-row broadcast
        "selfjoin_size_estimate": 1,  # per-key counts; report is global
        "scd2_point_in_time_join": 1, # versions + fact co-partition on
                                      # custkey: window exchange reused
        "wau_rolling_7d": 3,          # distinct -> 7x expand -> distinct
                                      # -> day agg, all on (user,day) frames
        "forward_fill_last_purchase": 1,  # one per-user window ordering
        "interarrival_stats": 2,      # user lag window + type agg
        "funnel_latency_percentiles": 2,  # two stage aggs co-partitioned
                                      # on user; report is a global agg
        "embedding_source_drift": 5,  # (source,dim) means + dim means +
                                      # dot products over tiny frames
        "ts_twap_daily": 1,           # ONE (type,day) exchange: lead
                                      # window + agg share the partitioning
        "winsorize_approx_bounds": 1, # one sketch+exact agg per group
        "bin_equal_freq_approx": 1,   # sketch cutpoints broadcast; ONE
                                      # bin agg — no global sort
        "ab_test_welch": 2,           # per-user means + two-arm stats;
                                      # t/df math is a one-row select
        "cdc_upsert_latest": 2,       # change window + base shuffle; the
                                      # change exchange is reused by the
                                      # full-outer merge join
        "incremental_agg_merge": 2,   # base+delta partials merge without
                                      # a third full-width exchange
        "bloom_prefilter_join": 3,    # bloom build (bounded positions +
                                      # words) + final supplier agg; the
                                      # fact side pre-filters WITHOUT a
                                      # shuffle and the join broadcasts
        "zorder_locality_tiles": 1,   # global ntile sort is a
                                      # SinglePartition exchange (the
                                      # bin_equal_freq shape) + tile agg
        "sim_topk_pq": 3,             # assignment windows per (vec, sub)
                                      # + the (query, vec) ADC sum; the
                                      # codebook and distance table ride
                                      # broadcasts
        "sim_pq_recall": 5,           # PQ side + exact-L2 rank + the two
                                      # bounded recall-intersection aggs
        "attribution_last_touch": 2,  # per-user carry window + channel agg
        "k_anonymity_audit": 1,       # QI class sizes; report is global
        "ts_seasonal_dow": 2,         # daily agg + (type, dow) window over
                                      # the reduced frame
        "itemitem_cosine_topk": 6,    # orderkey join + (ck,pk) agg + two
                                      # windows + basket collect + pair
                                      # agg + rank; pair EXPLOSION is
                                      # in-row (≤C(10,2) per customer),
                                      # never a keyed exchange
        "graph_triangle_count": 12,   # logical count over the UNCACHED
                                      # lineage (pagerank-style persisted
                                      # oriented edge list collapses the
                                      # repeats at runtime): basket agg +
                                      # pair distinct + 2 degree windows
                                      # + wedge/close joins + deg distinct;
                                      # +1 headroom: a live cache entry
                                      # from an earlier test freezes ed's
                                      # partitioning and Spark plans one
                                      # realignment exchange around it
        "assoc_rules_lift": 5,        # r12 shape: ONE hash(ok)
                                      # repartition rendered in all 3
                                      # consumer branches of the textual
                                      # plan (runtime exchange reuse
                                      # collapses them) + pair agg +
                                      # pk-count agg; the old window
                                      # exchange is gone and pair gen
                                      # stays in-row
        "rfm_customer_segments": 1,   # ONE keyed exchange (custkey agg);
                                      # ntile sorts are SinglePartition
                                      # over the dimension-sized frame
        "survival_kaplan_meier": 1,   # custkey agg; KM windows run over
                                      # the timeline-sized week frame
        "ts_changepoint_meanshift": 2,  # daily agg + per-type windows
        "revenue_gini_segments": 2,   # ck agg (join reuses it) + segment
                                      # rank window feeding the final agg
        "bm25_top_docs": 5,           # (doc,tok) tf agg + doc dl window +
                                      # vocab df agg + per-doc fold; the
                                      # query terms and scalar stats ride
                                      # broadcasts, top-20 is TakeOrdered
        "snapshot_diff_events": 3,    # ONE (user,type,bucket) window
                                      # partitioning shared by both as-of
                                      # states + the co-partitioned diff
                                      # join + final class agg
        "event_path_trigrams": 2,     # user window (both leads share it)
                                      # + path agg; top-20 is TakeOrdered
        "sample_weighted_aes": 1,     # row-local arrival key + ONE
                                      # per-stratum rank window
        "inverted_postings_topdf": 4, # (tok,doc) distinct + df agg +
                                      # broadcast term join + postings agg
        "approx_overlap_event_users": 8,  # logical count over the shared
                                      # distinct(t,u) lineage (exact self-
                                      # join sides + sketch agg); runtime
                                      # collapses via ReuseExchange, and
                                      # the scale path is the sketch-only
                                      # branch (types² frame)
        "recsys_hitrate_at3": 23,     # logical count over the UNCACHED
                                      # basket/model lineages; both are
                                      # persisted at runtime (pagerank
                                      # discipline), measured 6.5→2.4 s
        "ts_holt_linear": 2,          # bucket agg + per-key fold (the
                                      # ts_ewma_daily shape)
        "cms_heavy_tokens": 3,        # token agg + sketch-counter agg
                                      # (over the REDUCED frame) + probe
                                      # agg; sketch rides a broadcast,
                                      # top-20 is TakeOrdered
        "split_group_holdout": 2,     # customer-stamp agg + orders join/
                                      # agg; 2-row split join broadcasts
        "split_temporal_embargo": 2,  # split agg + distinct-user agg;
                                      # the max-day cutoff is a one-row
                                      # broadcast scalar
        "sim_hard_negatives": 1,      # one rank window after the bounded
                                      # query-side broadcast (brute-force
                                      # contract)
        "cluster_label_purity": 6,    # Lloyd trainings (memoized at run
                                      # time) + assignment rank + the two
                                      # tiny label aggs
        "negative_sampling_pairs": 6, # (ck,pk) distinct + ck distinct +
                                      # candidate anti-join + the one-row
                                      # count aggs; maxp is a broadcast
                                      # scalar
        "session_bounce_daily": 2,    # ONE user ordering shared by both
                                      # session windows + the day agg
        "forget_cascade_audit": 4,    # cohort semi-joins broadcast at
                                      # test sf (0 keyed); headroom for
                                      # the shuffled-semi-join plan AQE
                                      # picks at scale
        "dedup_incremental_delta": 4, # base distinct + semi/anti hash
                                      # joins + survivor agg; count rows
                                      # combine via one-row crossJoins
        "feature_hash_vectors": 2,    # (doc,idx) cell agg + per-doc agg;
                                      # no vocab table, no broadcast
        "vocab_oov_rate": 3,          # train token agg (top-1000 is
                                      # TakeOrdered) + two source aggs;
                                      # vocab rides a broadcast anti-join
        "entity_resolution_suppliers": 2,  # CC lineage is checkpoint-cut;
                                      # what remains is the component agg
                                      # + canonical join
        "sample_k_per_group": 1,      # ONE stratum rank window, executed
                                      # as map-side WindowGroupLimit
        "order_backlog_daily": 2,     # per-order close agg + day-delta
                                      # agg; the cumsum is SinglePartition
                                      # over the day grid (not keyed)
        "conversion_within_24h": 2,   # first-signup agg + user semi-join
                                      # (time window in the condition);
                                      # one-row counts crossJoin
        "ts_seasonal_adjusted_anomaly": 3,  # daily agg + (type,dow)
                                      # window + one type repartition
                                      # shared by BOTH percentile windows
        "lexical_diversity_sources": 3,  # per-doc stats agg + (source,tok)
                                      # distinct reduce + source join
        "dup_cluster_size_dist": 2,   # hash-cluster agg + size histogram;
                                      # the total is a window over it
        "dedup_containment": 2,       # prefix-bucket candidate join (the
                                      # ngram_jaccard shape, containment
                                      # verify metric)
        "abc_pareto_customers": 1,    # custkey agg; ranking windows are
                                      # SinglePartition over the
                                      # dimension-sized frame
        "curate_quality_budget": 1,   # ONE source partitioning shared by
                                      # the quality-rank cumsum and the
                                      # kept-set agg
        "ts_acf_daily": 2,            # daily agg + ONE type ordering
                                      # shared by all 3 lag frames; the
                                      # unpivoted corr agg reuses it
        "ts_mase_seasonal_naive": 2,  # same shape: daily agg + one type
                                      # window feeding the final agg
        "ts_theilsen_trend": 3,       # daily agg + pairwise self-join of
                                      # the calendar-bounded summary +
                                      # percentile agg
        "gopher_quality_rules": 1,    # all rules are per-row column
                                      # expressions; one source agg
        "benford_order_prices": 1,    # 9-row digit agg; total is a
                                      # window over it
        "bootstrap_revenue_ci": 1,    # 8x explode rides the scan; one
                                      # 8-group weighted agg
        "ks_drift_order_prices": 1,   # one bin agg; min/max is a one-row
                                      # broadcast, ECDF is a 256-row pass
        "mi_segment_priority": 2,     # cell agg (+ headroom for the
                                      # 25-cell marginal windows)
        "target_encode_loo_segment": 3,  # seg (S,n) agg broadcast back
                                      # + final seg agg; headroom for a
                                      # shuffled fact⋈dim join at scale
        "graph_degree_powerlaw": 2,   # degree agg shared by both branch
                                      # aggs (ReuseExchange); one-row
                                      # scalar crossJoin
        "recursive_trade_reachability": 5,  # corridor agg + src rank
                                      # window + the persist
                                      # materialization of the ≤75-row
                                      # edge frame (the fix that stops
                                      # the recursion re-running the
                                      # fact join per hop); dims
                                      # broadcast at test sf
        "impute_median_missing": 2,   # per-type median agg broadcast
                                      # back + final type agg
        "zipf_token_rank_slope": 1,   # one (token) count shuffle; top-500
                                      # is TakeOrdered, rank/OLS touch 500
                                      # rows (single-partition, unkeyed)
        "did_revenue_estimator": 2,   # one conditional-agg pass; headroom
                                      # for a shuffled fact⋈dim join at
                                      # scale (broadcast at test sf)
        "new_vs_returning_daily": 5,  # (user,day) distinct + user min +
                                      # two day aggs + day join; cum
                                      # window is single-partition over
                                      # the days summary
        "churn_rate_monthly": 4,      # (cust,mi) distinct + equi-self-
                                      # join re-key + month agg; gmax is
                                      # a window over the months summary
        "audience_jaccard_event_types": 7,  # one fact distinct; the rest
                                      # re-key the REDUCED (type,user)
                                      # frame (user self-join + pair/size
                                      # aggs; size joins broadcast)
        "revenue_bridge_yoy": 2,      # one conditional-agg pass; headroom
                                      # for a shuffled fact⋈dim join
        "weighted_median_price": 1,   # both windows + final agg share ONE
                                      # (returnflag) partitioning
        "ccf_clicks_purchases_daily": 3,  # one fact day-agg; lag replicate
                                      # + shifted self-join touch the
                                      # days-sized summary only
        "alert_hysteresis_daily": 2,  # (type,day) fact agg; all four
                                      # windows + final agg share ONE
                                      # (event_type) re-key of the summary
        "dedup_keep_best_quality": 1, # one md5-keyed shuffle serves rank
                                      # + group-size windows
        "breusch_pagan_price_quantity": 0,  # two global agg passes; coefs
                                      # ride back via one-row broadcast
        "user_predictability_entropy": 2,   # ONE (user) exchange satisfies
                                      # the lead window, the (u,c,n) agg
                                      # and both window sums (prefix
                                      # clustering); headroom of 1
        "bpe_pair_stats": 2,          # corpus (word) agg + vocab-sized
                                      # (pair) agg; top-30 is TakeOrdered
        "pii_density_by_source": 1,   # JVM regexp_count cols + one
                                      # source-keyed agg
        "mix_sources_temperature": 2, # source counts agg + fact⋈weights
                                      # groupBy (weights broadcast; Σw is
                                      # a window over the S-row summary)
        "cross_source_duplication": 3,  # segment explode→distinct + h
                                      # self-join + pair agg (reduced
                                      # frames after the first)
        "debounce_events_5s": 2,      # (user,type) lag window + type agg
        "ab_test_cuped": 2,           # user moment reduce + one global
                                      # agg (no scalar broadcast-back —
                                      # variance algebra); headroom 1
        "ship_latency_percentiles": 2,  # fact⋈fact orderkey join +
                                      # priority percentile agg (join may
                                      # reuse one side's partitioning)
        "discount_elasticity_brand": 2,  # fact⋈dim + brand co-moment agg
        "time_decay_attribution": 4,  # user-keyed conv⋈touch join + per-
                                      # conversion share window + type agg
        "weighted_median_binned": 8,  # ONE fact (flag,bin) agg; all other
                                      # exchanges move the ≤256-row-per-
                                      # group summary or the boundary bin
        "anova_f_segments": 3,        # fact⋈dim + per-segment moment agg;
                                      # SS algebra rides the 5-row summary
        "sim_matryoshka_recall": 4,   # k×Q comparison frames; prefix side
                                      # + exact side each one agg
        "dft_hourly_seasonality": 1,  # hourly agg; all six projections in
                                      # one global moment pass
        "lang_id_confusion": 3,       # one (true,pred) reduction; totals
                                      # agg + join re-key ride the
                                      # L²-bounded matrix frame
        "quality_filter_kappa": 1,    # two global agg passes; the median
                                      # rides back as a one-row broadcast
        "trimmed_mean_prices": 2,     # bounds agg + conditional agg share
                                      # the (returnflag) keying
        "lateral_top2_orders_per_customer": 3,  # DecorrelateInnerQuery →
                                      # join + window (WindowGroupLimit
                                      # pinned below), never N subscans
        "hof_embedding_battery": 0,   # one scan, one global moment agg
    }
    over = {}
    for name, budget in budgets.items():
        got = keyed_shuffle_count(QUERIES[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"keyed-exchange budgets exceeded: {over}"


def test_funnel_single_keyed_exchange(spark, sf_dir):
    # r6 one-pass rewrite (r5 VERDICT #2): the K-stage funnel is ONE
    # groupBy(user) — the sorted-fold plan. More keyed exchanges means the
    # chained per-stage join form crept back (2K jobs for K stages).
    from windflow_spark.plans.explain import keyed_shuffle_count
    from windflow_spark.queries import funnel_signup_purchase

    assert keyed_shuffle_count(funnel_signup_purchase(spark, sf_dir)) <= 1


def test_lateral_decorrelates_to_window_limit(spark, sf_dir):
    # the correlated LATERAL subquery must rewrite to join + rank window
    # with map-side WindowGroupLimit — N per-customer subscans would be
    # the quadratic failure mode at scale
    from windflow_spark.queries import lateral_top2_orders_per_customer

    plan = physical_plan(lateral_top2_orders_per_customer(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_plans_md_covers_registry():
    # PLANS.md is the auditable scale artifact; r6 VERDICT #1 found it
    # stale for the final 9 queries because the regen step was skipped
    # after late-round query commits. This makes staleness a test failure:
    # the PLANS.md row set must equal the registry key set exactly.
    plans_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(plans_path) as f:
        text = f.read()
    rows = set(re.findall(r"^\| (\w+) \|", text, flags=re.M)) - {"query"}
    registry = set(QUERIES.keys())
    missing = sorted(registry - rows)
    extra = sorted(rows - registry)
    assert not missing and not extra, (
        f"PLANS.md out of sync with registry — regen with "
        f"`python tools/plan_report.py`. missing={missing} extra={extra}"
    )


# A fixed slice of the registry whose PLANS.md rows must match a fresh
# plan_report run: a row left stale after a plan change fails here, not
# only a missing or extra row. Together the ten carry every counted column
# (exchanges, keyed exchanges, BHJ, SMJ, BNLJ).
PLANS_SLICE = [
    "q1_pricing_summary",
    "q6_revenue_filter",
    "ccf_clicks_purchases_daily",
    "anova_f_segments",
    "heaps_law_vocab_growth",
    "graph_assortativity_copurchase",
    "scalar_subquery_above_avg",
    "sim_lsh_recall",
    "interval_join_bucketed",
    "q22_idle_customers",
]

_PLAN_ROW = re.compile(r"^\| (\w+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \|", re.M)


def _plan_counts(text: str) -> dict[str, tuple[int, ...]]:
    """query -> (exch, keyed, BHJ, SMJ, BNLJ) from a plan_report table."""
    return {m[1]: tuple(int(c) for c in m.groups()[1:]) for m in _PLAN_ROW.finditer(text)}


def test_plans_md_counts_match_fresh_report(sf_dir, tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fresh = tmp_path / "PLANS.md"
    cmd = [
        sys.executable, os.path.join(root, "tools", "plan_report.py"),
        os.path.join(os.path.dirname(sf_dir), "sf0.01"), "--out", str(fresh),
    ]
    for name in PLANS_SLICE:
        cmd += ["--only", name]
    # PLANS.md is generated on local[4]; cwd: a bare session puts its
    # warehouse directory there
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    subprocess.run(cmd, cwd=tmp_path, env=env, check=True, capture_output=True, timeout=600)
    with open(os.path.join(root, "PLANS.md")) as f:
        committed = _plan_counts(f.read())
    regenerated = _plan_counts(fresh.read_text())
    assert sorted(regenerated) == sorted(PLANS_SLICE)
    stale = {n: (committed.get(n), regenerated[n])
             for n in PLANS_SLICE if committed.get(n) != regenerated[n]}
    assert not stale, (
        f"PLANS.md rows (committed, fresh) differ — regen with "
        f"`python tools/plan_report.py`: {stale}"
    )


def test_r7_additions_exchange_budgets(spark, sf_dir):
    # exchange counts must be cache-independent: queries that persist()
    # register InMemoryRelations the CacheManager substitutes into any
    # later identical subtree, shifting plan-node counts (r8 flake:
    # assortativity read 8 vs 7 after no_cartesian built all DFs)
    spark.catalog.clearCache()
    # keyed-shuffle budgets of the r7 families (from the plan audit at
    # tuning time) — a regression reintroduces a corpus re-shuffle
    from windflow_spark.plans.explain import keyed_shuffle_count

    budgets = {
        "interval_join_left_unmatched": 0,  # bucketed equi-join, both
                                            # sides broadcast-eligible at sf
        "trimmed_mean_prices_approx": 2,  # bounds agg + trimmed agg
        "weighted_median_price_approx": 5,  # hist + boundary + exact pin
        "asof_join_next_purchase": 2,     # union+fill window keying + the
                                          # r8 (user_id, ts) tie-safety
                                          # dedup agg (map-side combinable;
                                          # native ASOF tie-breaks are
                                          # implementation-defined, so the
                                          # oracle needs a unique right side)
        "fingerprint_winnowing": 0,       # pure per-row HOFs, scan speed
        "mannwhitney_u_price": 1,         # distinct-value agg; rank map
                                          # is a SinglePartition window
        "spearman_corr_price_qty": 2,     # two distinct-value aggs;
                                          # rank maps broadcast back
        "heaps_law_vocab_growth": 3,      # bucket agg + first-bucket-per-
                                          # token agg + 20-row join
        "cusum_order_volume": 2,          # day agg + ordered windows
        "theil_index_segments": 4,        # customer agg + segment agg
        "attribution_position_based": 2,  # user pair join + conv window
        "recsys_ndcg_at3": 17,            # logical count over the UNCACHED
                                          # basket lineage (hitrate/pagerank
                                          # pattern); runtime persists b
        "dedup_lsh_recall": 23,           # LSH chain + prefix-filtered
                                          # exact-Jaccard truth (two audit
                                          # pipelines by design: dfreq,
                                          # prefix window, pair join,
                                          # verify joins)
        "k_core_copurchase": 22,          # logical count over the UNCACHED
                                          # 4-round peel lineage; runtime
                                          # persists each round's edges
    }
    over = {}
    for name, budget in budgets.items():
        got = keyed_shuffle_count(QUERIES[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"keyed-exchange budgets exceeded: {over}"


def test_r8_additions_exchange_budgets(spark, sf_dir):
    # exchange counts must be cache-independent: queries that persist()
    # register InMemoryRelations the CacheManager substitutes into any
    # later identical subtree, shifting plan-node counts (r8 flake:
    # assortativity read 8 vs 7 after no_cartesian built all DFs)
    spark.catalog.clearCache()
    # keyed-shuffle budgets of the r8 families (from the plan audit at
    # tuning time) — a regression reintroduces a corpus re-shuffle
    from windflow_spark.plans.explain import keyed_shuffle_count

    budgets = {
        "interval_join_full_unmatched": 0,  # two bucketed equi-joins,
                                            # both broadcast-eligible at sf
        "status_runs_per_customer": 3,   # customer window sort + run agg
                                         # + status agg
        "graph_assortativity_copurchase": 7,  # basket agg + pair distinct
                                              # + degree agg + 2 deg joins
        "cramers_v_segment_priority": 4,  # cell agg + marginal aggs
        "wilson_ci_returns_by_nation": 2,  # per-order partial agg BEFORE
                                           # the dim joins + nation agg
        "ts_donchian_channel_daily": 1,   # one day agg; windows on the
                                          # tiny day frame
        "ts_rsi_14_daily": 1,             # same day-agg shape
        "jarque_bera_order_prices": 1,    # mean + moments aggs (scalar
                                          # broadcast attach)
        "woe_iv_segment_urgent": 2,       # segment agg + scalar total
        "tokenizer_fertility_by_lang": 1, # per-row regex, one lang agg
        "bigram_entropy_by_source": 6,    # in-row bigrams, (src,u,v)/(src,u)
                                          # aggs + count join
        "multimodal_audio_frames": 0,     # pure in-row explode fan-out
        "gains_table_deciles": 0,         # global ntile (SinglePartition,
                                          # documented caveat) + decile agg
        "price_quartiles_by_segment": 2,  # grouped percentile + fence pass
        "minhash_jaccard_calibration": 6,  # fused LSH+verify chain (5, the
                                           # dedup_minhash_lsh budget) + the
                                           # signature re-agg for the
                                           # estimate join
        "levene_bf_segments": 5,          # median agg + deviation agg +
                                          # grand algebra on 5-row frames
        "poisson_dispersion_daily": 1,    # one day agg, scalar algebra
        "session_duration_percentiles": 1,  # session windows reuse one
                                            # user-keyed sort
        "embedding_dim_variance_topk": 1,   # per-dim agg; rank on the
                                            # dim-sized frame
        "vocab_coverage_curve": 2,        # vocab agg + ranked cumsum on
                                          # the vocab frame
        "shingle_df_histogram": 3,        # per-doc distinct + df agg +
                                          # bucket agg
    }
    over = {}
    for name, budget in budgets.items():
        got = keyed_shuffle_count(QUERIES[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"keyed-exchange budgets exceeded: {over}"


def test_r9_additions_exchange_budgets(spark, sf_dir):
    # cache-independence discipline (see the r5 test's comment)
    spark.catalog.clearCache()
    from windflow_spark.plans.explain import keyed_shuffle_count

    budgets = {
        "ols_price_on_qty_by_brand": 1,   # broadcast part join + one
                                          # brand moment agg
        "durbin_watson_daily_events": 2,  # (type, day) agg + per-type
                                          # windows/agg on the day frame
        "ts_macd_daily": 2,               # (type, day) agg + per-type fold
        "ts_bollinger_daily": 2,          # (type, day) agg + rolling window
        "ts_obv_daily": 2,                # (type, day) agg + lag/cumsum
        "kruskal_wallis_qty_priority": 10,  # fact join (2) + (grp,v) agg;
                                          # everything after runs on <=50-row
                                          # frames whose tiny exchanges
                                          # dominate the logical count
        "ngram_novelty_by_source": 4,     # shingle window + per-doc distinct
                                          # + first-seen agg/join + source agg
        "ts_atr_14_daily": 2,             # (type, day) OHLC agg + window
        "mann_kendall_trend_daily": 8,    # day agg, then pair join / tie
                                          # aggs all on days-sized frames
        "ols2_price_on_qty_discount": 1,  # one 9-moment agg pass
        "mcnemar_returns_discount": 0,    # single global conditional agg
        "span_corruption_masks": 0,       # pure in-row array planning
        "quantile_normalize_doclen": 1,   # source window; global rank is a
                                          # SinglePartition sort (documented
                                          # caveat) + broadcast position join
        "sax_symbols_daily": 4,           # day agg + moment agg + symbol agg
        "growth_accounting_weekly": 3,    # (user,week) distinct + user
                                          # windows + week agg; summary lag
                                          # on the weeks frame
        "activity_histogram_monthly": 3,  # user-keyed distinct/count + the
                                          # tiny histogram agg
        "hurst_rs_daily": 4,              # day agg + per-(type,m,blk)
                                          # windows + block agg
        "cohort_ltv_cumulative": 5,       # first-order agg + custkey join
                                          # + (cohort,month) agg + triangle
                                          # window on the tiny frame
        "simpson_diversity_by_source": 2, # (source,tok) agg + source agg
        "eb_shrunk_return_rates": 2,      # brand agg + one-row prior attach
        "knn_graph_lsh": 4,               # (tag,bkt) width window/join +
                                          # pair dedup + 2 vec fetches, all
                                          # keyed equi-joins
        "readability_flesch_by_source": 1,  # per-row regex + one source agg
        "auc_discount_predicts_return": 1,  # one score-bin agg; ranks on
                                          # the 11-value frame
        "calibration_bins_brier": 2,      # bin agg + one-row Brier attach
        "knn_graph_recall": 8,            # the graph pipeline + the bounded
                                          # brute-force truth rank + two
                                          # count reductions
        "link_prediction_jaccard": 9,     # basket agg + neighbor-set agg
                                          # + candidate agg; edges/degrees
                                          # derive in-row and ride
                                          # broadcasts (no persist — a
                                          # cached subtree would pin the
                                          # 200-partition layout on the
                                          # bare gate session)
    }
    over = {}
    for name, budget in budgets.items():
        got = keyed_shuffle_count(QUERIES[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"keyed-exchange budgets exceeded: {over}"


def test_r10_additions_exchange_budgets(spark, sf_dir):
    # cache-independence discipline (see the r5 test's comment). Budgets
    # pin the keyed-exchange count of every r10 registry addition at its
    # shipped value — the registry's most expensive plans (the graph
    # scorers, SemDeDup, covariance top-k) are exactly the ones where a
    # silent extra corpus-sized re-shuffle would hurt most at 100 TB.
    # Counts include the tiny post-cut exchanges (top-k range sorts,
    # scalar attaches); the pin is against REGRESSION, not a claim that
    # each exchange is corpus-sized.
    spark.catalog.clearCache()
    from windflow_spark.plans.explain import keyed_shuffle_count

    budgets = {
        "link_prediction_adamic_adar": 6,   # basket agg + neighbor-set agg
                                            # + candidate agg + TakeOrdered
        "clustering_coefficient_local": 9,  # shared wedge prep + closed-
                                            # wedge semi-join + center aggs
        "graph_landmark_distances": 7,      # shared prep + one frontier
                                            # expand/anti per round; r12:
                                            # rounds are persist()-shared,
                                            # so their join exchanges stay
                                            # VISIBLE in the textual plan
                                            # (the old checkpoints cut the
                                            # printed lineage) while the
                                            # runtime computes each round
                                            # once into cache — same work,
                                            # 3 more textual exchanges
        "hits_hubs_authorities": 26,        # 3 half-iteration join+agg
                                            # rounds; the tail is per-side
                                            # top-10 TakeOrdered + scalar
                                            # max attaches on 10-row frames
        "dedup_semantic_clusters": 18,      # k-means training iterations on
                                            # the sampled codebook + cluster
                                            # assign + within-cluster pairs
        "embedding_covariance_topk": 3,     # ONE in-row pair-product agg +
                                            # top-k; never an n*d^2 join
        "embedding_centroid_shift": 12,     # per-half centroid aggs +
                                            # integer-moment algebra on
                                            # dim-sized frames
        "recsys_mrr_at5": 16,               # shared holdout prep + co-buy
                                            # scoring + per-user rank aggs
        "recsys_map_at3": 18,               # same pipeline + cumulative
                                            # precision fold
        "sim_maxsim_multivector": 3,        # subvector explode + (q,d,sub)
                                            # max + (q,d) sum; 5-query
                                            # broadcast, no corpus shuffle
        "shapley_channel_attribution": 8,   # journey agg + coalition
                                            # lattice on the ONE-ROW
                                            # channel universe
        "ab_test_sequential_sprt": 3,       # day agg + cumulative window +
                                            # crossing-scan on day frames
        "ts_ar1_daily_forecast": 2,         # day agg + OLS moment agg
        "lm_kneser_ney_bigrams": 6,         # bigram agg + fwd/bwd type aggs
                                            # + TakeOrdered tail
        "text_rake_keywords": 3,            # phrase agg + word-score agg +
                                            # phrase-best agg (in-row
                                            # segmentation, no token window)
        "l_diversity_audit": 5,             # QI-group distinct/count aggs
        "mom_contribution_by_segment": 9,   # (seg,month) aggs + calendar
                                            # join + bridge algebra on
                                            # months-sized frames
        "dq_profile_drift_orders": 13,      # per-column profile aggs on the
                                            # two halves (per-col frames)
        "quality_classifier_scores": 2,     # scan-fused logistic projection
                                            # + one source agg
        "skyline_price_size_parts": 5,      # dominance via sorted-prefix
                                            # min-window + final filter
        "histogram_2d_price_qty": 2,        # one ~100-cell groupBy + sort
        "win_tb_tumbling_offset_15m": 1,    # one keyed window agg
    }
    over = {}
    for name, budget in budgets.items():
        got = keyed_shuffle_count(QUERIES[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"keyed-exchange budgets exceeded: {over}"


def test_r11_additions_exchange_budgets(spark, sf_dir):
    # cache-independence discipline (see the r5 test's comment)
    spark.catalog.clearCache()
    from windflow_spark.plans.explain import keyed_shuffle_count

    budgets = {
        "rollup_partials_hour_day": 2,      # hourly partial agg + the 24x
                                            # smaller daily re-agg — the
                                            # cascade's whole point
        "partial_corr_price_qty_given_discount": 2,  # one moments agg
                                            # (+ tiny flag-frame sort)
        "cooks_distance_influential": 0,    # moments reduce + broadcast
                                            # scalar attach + TakeOrdered —
                                            # zero keyed repartitions
        "partition_stats_pruning": 2,       # month agg (distinct-agg
                                            # expand) + months-frame window
        "assoc_rules_triples": 9,           # basket agg + triple agg +
                                            # per-brand count aggs; brand
                                            # frames are 25-row broadcasts
        "funnel_windowed_3step": 3,         # ONE user-keyed collect +
                                            # 4-row depth agg
        "page_hinkley_drift_daily": 5,      # day agg + ordered windows +
                                            # argmax join on day frames
        "ts_kalman_level_daily": 3,         # day agg + per-type series
                                            # collect + final sort
        "embedding_pca_power_iteration": 22,  # ONE corpus moments pass;
                                            # the rest are 64/4096-row
                                            # mat-vec joins x3 iterations
                                            # (lineage cut at M)
        "ts_matrix_profile_daily": 5,       # day agg + per-type series
                                            # collect + tiny all-pairs
                                            # equi-join + rank-1 window
        "forecast_backtest_rolling_origin": 5,  # day agg + per-type
                                            # ordered windows + model agg
                                            # on the 14-day eval frames
        "decontam_embedding_near": 5,       # eval broadcast + per-train max
                                            # + best-match equality join on
                                            # the bounded flagged frame
        "mix_epochs_schedule": 3,           # one source token agg + scalar
                                            # attach (+ tiny sorts)
    }
    over = {}
    for name, budget in budgets.items():
        got = keyed_shuffle_count(QUERIES[name](spark, sf_dir))
        if got > budget:
            over[name] = (got, budget)
    assert not over, f"keyed-exchange budgets exceeded: {over}"


def test_assoc_rules_lift_no_window_no_eager_count(spark, sf_dir):
    """The pair miner derives per-item counts via a guarded broadcast join
    (no full-frame pk window) and attaches the basket total as an in-plan
    one-row cross join (no eager driver count job)."""
    from windflow_spark.queries import assoc_rules_lift

    df = assoc_rules_lift(spark, sf_dir)
    plan = physical_plan(df)
    # the old shape had a count() window partitioned by pk
    assert "windowspecdefinition" not in plan
    # the one-row basket total rides a broadcast nested loop cross join
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize(
    "name",
    ["recsys_hitrate_at3", "recsys_ndcg_at3", "recsys_mrr_at5", "recsys_map_at3"],
)
def test_recsys_eval_shared_base_single_join(spark, sf_dir, name):
    """Each temporal-holdout eval query derives BOTH halves from the one
    persisted join frame of `_recsys_holdout` — the plan must scan
    lineitem at most once, and the midpoint cut rides a broadcast one-row
    aggregate (no driver-side cut)."""
    df = QUERIES[name](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") <= 1, (
        f"{name}: train AND test halves must come from the single "
        "persisted lineitem join, not one scan per half"
    )


def test_knn_graph_lsh_grouped_bucket_pairs(spark, sf_dir):
    """Candidate pairs are expanded IN-ROW from grouped buckets — no
    bucket self-join (SortMergeJoin) and only the final top-3 window
    remains (the bucket-cap window is replaced by slice(sorted ids))."""
    from windflow_spark.queries import knn_graph_lsh

    df = knn_graph_lsh(spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan
    # exactly one window spec: the final per-query rank
    assert plan.count("windowspecdefinition(qid#") == plan.count(
        "windowspecdefinition("
    )


def test_pca_power_iteration_driver_fold(spark, sf_dir):
    """The three exact-integer mat-vec rounds run on the DRIVER over the
    dimension-bounded (64x64) collected matrix; the returned frame is a
    dim-sized local result with only the ordering/rounding projection —
    no joins, no corpus scan, no exchange left in the final plan."""
    from windflow_spark.queries import embedding_pca_power_iteration

    df = embedding_pca_power_iteration(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan
    assert ".parquet" not in plan
    assert df.count() == 8
