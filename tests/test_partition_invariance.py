"""Partition-count invariance: the determinism discipline (DECIMAL
aggregate sums, integer/floor quantization, total-order ranks) exists so
results never depend on HOW data is partitioned or in what order partial
aggregates merge.  This pins it with the engine itself: run a
float-sensitive, window-bearing, iterative sample of the catalog under a
deliberately hostile parallelism (7 shuffle partitions vs the suite's
32 — different partial-agg merge trees, different window task splits)
in a sibling session and require BIT-IDENTICAL canonical rows.

A failure here means a query's result is an artifact of the cluster
layout — exactly the class of bug that passes every single-session
oracle comparison and then diverges on a real 1000-executor cluster."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, canonical_rows

# float-aggregate, window, iterative-graph and digest-slice
# representatives — the surfaces where merge order COULD leak if the
# discipline slipped
SAMPLE = [
    "pricing_summary",  # DECIMAL->DOUBLE money aggregates
    "stats_moments_exact",  # higher central moments
    "tfidf_top_terms",  # 6-dp rounded idf products
    "pagerank_trade_graph",  # 5 iterations of rounded contributions
    "window_running_total",  # ordered window over shuffled input
    "bootstrap_ci_avg_order",  # digest-slice replicates
    "embedding_dim_health",  # rounded-square DECIMAL sums
    "hits_hubs_authorities",  # integer max-normalized graph
    # r13 registrations with merge-order-sensitive rank/float reducers
    # (VERDICT r12 ask #6)
    "spearman_corr_suppliers",  # avg-rank ties over hash splits
    "kendall_tau_daily",  # concordant-pair signs over self-join
    "ks_drift_doclen",  # running-max of CDF gaps via windows
    # r12 registrations with merge-order-sensitive exact reducers
    # (VERDICT r11 ask #6)
    "power_iteration_top_pc",  # 6-dp quantized covariance sums
    "split_conformal_coverage",  # rank thresholds over hash splits
    "kcenter_coreset",  # iterative argmax with total-order ties
    "fellegi_sunter_parts",  # weighted pair counts via hash chunks
    # r14 registrations with merge-order-sensitive rank/float reducers
    # (VERDICT r13 ask #5; registered r14)
    "autocorr_daily_revenue",  # ordered day windows + lag joins
    "mmr_diverse_topk",  # iterative double argmax (greatest chain)
    "prefix_filter_jaccard_dups",  # rank-prefix blocking windows
    "benjamini_hochberg_fdr",  # rank-ordered p-value thresholds
    "map_bm25_eval",  # per-query ranked AP over tie-broken top-k
    "ari_clusters_vs_labels",  # contingency pair sums over splits
    # r15 wave (registered r15) with merge-order-sensitive shapes
    # (VERDICT r14 ask #4: gkt / winnowing / seasonal / kmv)
    "winnowing_fingerprints",  # lag/lead selection windows
    "edit_distance_near_dups",  # groupBy-min representatives
    "goodman_kruskal_tau",  # contingency margins over hash splits
    "seasonal_decomposition_daily",  # ordered residual windows
    "kmv_distinct_estimate",  # k-min hash ordering over merges
]


@pytest.mark.parametrize("name", SAMPLE)
def test_results_invariant_under_hostile_partitioning(spark, name):
    from pedri_analysis_spark.plans.registry import all_queries
    from pedri_analysis_spark.sources.tables import ensure_session_conf

    fn = all_queries()[name]
    base = fn(spark, SF_DIR)
    cols = base.columns
    _, want = canonical_rows(cols, [tuple(r) for r in base.collect()])

    other = spark.newSession()
    ensure_session_conf(other)
    other.conf.set("spark.sql.shuffle.partitions", "7")
    # disabling AQE coalescing too: it must also not matter
    other.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # and shred the INPUT side: 64 KiB splits force many scan tasks, so
    # per-partition partial aggregates see entirely different row subsets
    other.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        got_df = fn(other, SF_DIR)
        assert got_df.columns == cols
        _, got = canonical_rows(cols, [tuple(r) for r in got_df.collect()])
    finally:
        other.conf.set("spark.sql.shuffle.partitions", "32")
        other.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        other.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    assert got == want, f"{name}: result depends on partitioning"
