"""The r13 wave (plans/draft_r13.py), registered in r13: the
property pins of its queries.  Registration, oracle parity and plan
invariants come from the catalog-wide sweeps
(tests/test_oracle_parity.py, tests/test_plan_audit.py)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_sessionization_conserves_events(spark):
    """Session stats must partition the event log: per-user n_events sums
    to the user's raw event count, and session counts are at least 1."""
    from pedri_analysis_spark.plans import draft_r13 as d

    out = {r["user_id"]: r for r in d.QUERIES["sessionization_gap_stats"](spark, SF_DIR).collect()}
    raw = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(out) == set(raw)
    for uid, row in out.items():
        assert row["n_events"] == raw[uid]
        assert 1 <= row["n_sessions"] <= row["n_events"]
        assert row["max_session_events"] <= row["n_events"]


def test_kendall_pairs_partition(spark):
    """Concordant/discordant/tied classify every day pair exactly once:
    cd == 0 iff one series is tied on the pair, so C + D + ties == P."""
    from pedri_analysis_spark.plans import draft_r13 as d

    for r in d.QUERIES["kendall_tau_daily"](spark, SF_DIR).collect():
        assert r["concordant"] + r["discordant"] + r["tie_pairs"] == r["n_pairs"]
        nd = r["n_days"]
        assert r["n_pairs"] == nd * (nd - 1) // 2
        assert 0 <= r["tau_shift_micro"] <= 1_000_000


def test_hits_max_normalization(spark):
    """Max-normalization makes the top authority score exactly 10^6 —
    floor(m * 10^6 / m); every score is in (0, 10^6]."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["hits_hubs_authorities"](spark, SF_DIR).collect()
    assert rows, "authority list must be non-empty"
    assert rows[0]["auth_micro"] == 1_000_000
    assert all(0 < r["auth_micro"] <= 1_000_000 for r in rows)


def test_ndcg_bounded_by_ideal(spark):
    """DCG can never exceed the ideal ordering's DCG, so ndcg_micro is a
    proper [0, 10^6] score."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["ndcg_eval_topk"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["dcg_microsum"] <= d.NDCG_IDCG
        assert 0 <= r["ndcg_micro"] <= 1_000_000


def test_ks_is_a_distance(spark):
    """KS numerator is bounded by n_a*n_b (ks_micro in [0, 10^6]) and the
    pair list covers every unordered source pair exactly once."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["ks_drift_doclen"](spark, SF_DIR).collect()
    srcs = set()
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 0 <= r["ks_num"] <= r["n_a"] * r["n_b"]
        assert 0 <= r["ks_micro"] <= 1_000_000
        srcs.update((r["src_a"], r["src_b"]))
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2


def test_bloom_filter_bounds(spark):
    """Structural Bloom bounds: bits_set <= min(m, k*n_build) and the
    false-positive count never exceeds the probe count."""
    from pedri_analysis_spark.plans import draft_r13 as d

    (r,) = d.QUERIES["bloom_filter_fpr_audit"](spark, SF_DIR).collect()
    assert 0 < r["bits_set"] <= min(d.BLOOM_M, d.BLOOM_K * r["n_build"])
    assert 0 <= r["false_positives"] <= r["n_probe"]
    assert 0 <= r["fpr_micro"] <= 1_000_000


def test_spearman_bounds_and_scope(spark):
    """rho_micro in [-10^6, 10^6]; sum_d2 bounded by the exact
    reversed-ranking maximum n(n^2-1)/3."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["spearman_corr_suppliers"](spark, SF_DIR).collect()
    # scope: nations with >= 2 suppliers that shipped at least one lineitem
    # (rho is undefined below n=2 — at sf0.001 every nation is under it)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_suppkey").distinct()
    s = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    expected = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .groupBy("s_nationkey")
        .count()
        .filter("count >= 2")
        .count()
    )
    assert len(rows) == expected
    for r in rows:
        n = r["n_suppliers"]
        assert n >= 2
        assert 0 <= r["sum_d2"] <= n * (n * n - 1) // 3
        assert -1_000_000 <= r["rho_micro"] <= 1_000_000


def test_t_closeness_is_a_distance(spark):
    """t in [0, 10^6]; every (nation, segment) group present in the data
    appears exactly once."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["t_closeness_audit"](spark, SF_DIR).collect()
    assert rows
    seen = set()
    for r in rows:
        assert 0 <= r["t_micro"] <= 1_000_000
        assert (r["nation"], r["segment"]) not in seen
        seen.add((r["nation"], r["segment"]))
    expected = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .count()
    )
    assert len(rows) == expected


def test_zone_map_bydate_skips_more(spark):
    """The date-partitioned layout must never read MORE blocks-fraction
    than the natural layout (date zone maps are tight by construction),
    and every read fraction is a valid [0, 10^6] ratio."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = {(r["layout"], r["pid"]): r for r in d.QUERIES[
        "zone_map_skipping_audit"](spark, SF_DIR).collect()}
    assert len(rows) == 2 * len(d.ZM_PREDICATES)
    for pid, _, _ in d.ZM_PREDICATES:
        nat, byd = rows[("natural", pid)], rows[("bydate", pid)]
        assert 0 <= byd["read_micro"] <= 1_000_000
        assert 0 <= nat["read_micro"] <= 1_000_000
        assert byd["read_micro"] <= nat["read_micro"]


def test_calibration_rates_are_probabilities(spark):
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["calibration_bins_value"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["pred_ppm"] <= 1_000_000
        assert 0 <= r["obs_ppm"] <= 1_000_000
        assert r["gap_ppm"] == abs(r["pred_ppm"] - r["obs_ppm"])


def test_watermark_leak_bounds(spark):
    """Past-watermark repeats are a subset of all repeats, which are a
    subset of all events minus one first occurrence per key."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["watermark_late_dups"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_past_watermark"] <= r["n_repeats"] < r["n_events"]
        assert 0 <= r["leak_ppm"] <= 1_000_000


def test_embedding_dim_health_covers_all_dims(spark):
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["embedding_dim_health"](spark, SF_DIR).collect()
    assert sorted(r["dim"] for r in rows) == list(range(1, 65))
    for r in rows:
        assert r["var_r6"] >= -1e-6  # 6-dp rounding can graze zero
        assert r["is_dead"] in (0, 1)


def test_mutual_top1_is_functional_both_ways(spark):
    """Mutuality makes the match a partial bijection: no customer and no
    supplier appears twice."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["mutual_top1_linkage"](spark, SF_DIR).collect()
    assert rows
    cks = [r["custkey"] for r in rows]
    sks = [r["suppkey"] for r in rows]
    assert len(cks) == len(set(cks))
    assert len(sks) == len(set(sks))


def test_ccf_lag_zero_matches_direct_spearman(spark):
    """At lag 0 the CCF pairs are exactly the daily series zipped with
    itself, so n_days equals the calendar day count and rho is a valid
    [-10^6, 10^6] coefficient at every lag."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = {r["lag"]: r for r in d.QUERIES["lagged_spearman_ccf"](spark, SF_DIR).collect()}
    assert set(rows) == set(d.CCF_LAGS)
    n_days = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .selectExpr("CAST(o_orderdate AS DATE) AS d")
        .distinct()
        .count()
    )
    assert rows[0]["n_days"] == n_days
    for r in rows.values():
        assert -1_000_000 <= r["rho_micro"] <= 1_000_000
        assert r["n_days"] <= n_days  # lagged overlaps can only shrink


def test_fano_is_nonnegative_and_conserves_events(spark):
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["fano_burstiness_events"](spark, SF_DIR).collect()
    assert rows
    total = sum(r["n_events"] for r in rows)
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert total == raw
    for r in rows:
        assert r["fano_micro"] >= 0  # Cauchy-Schwarz


def test_mixing_matrix_conserves_edges(spark):
    """Every distinct trade edge lands in exactly one bucket cell."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["degree_mixing_matrix"](spark, SF_DIR).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey", "o_custkey")
    n_edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .count()
    )
    assert sum(r["n_edges"] for r in rows) == n_edges
    for r in rows:
        assert 0 <= r["cust_deg_bucket"] <= d.MIX_MAX_BUCKET
        assert 0 <= r["supp_deg_bucket"] <= d.MIX_MAX_BUCKET


def test_permutation_p_is_add_one_smoothed_rank(spark):
    from pedri_analysis_spark.plans import draft_r13 as d

    (r,) = d.QUERIES["permutation_test_segments"](spark, SF_DIR).collect()
    assert 0 <= r["n_ge"] <= d.PERM_REPS
    lo = 1_000_000 // (d.PERM_REPS + 1)
    assert lo - 1 <= r["p_micro"] <= 1_000_000
    assert r["observed_diff_micros"] >= 0


def test_containment_catches_what_jaccard_misses(spark):
    """Containment scores dominate Jaccard on every pair (|A∩B|/min ≥
    |A∩B|/|A∪B|), and each reported pair clears the threshold on its
    larger direction."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["containment_near_dups"](spark, SF_DIR).collect()
    for r in rows:
        assert max(r["cont_ab_milli"], r["cont_ba_milli"]) >= d.CONT_T_MILLI
        assert 0 <= r["n_common"] <= min(r["n_sh_a"], r["n_sh_b"])
        jacc_milli = r["n_common"] * 1000 // (r["n_sh_a"] + r["n_sh_b"] - r["n_common"])
        assert max(r["cont_ab_milli"], r["cont_ba_milli"]) >= jacc_milli


def test_mrr_rank_is_consistent_with_gold(spark):
    """first_hit_rank is a 1-based rank into the corpus and rr_micro is
    its exact floor reciprocal."""
    from pedri_analysis_spark.plans import draft_r13 as d

    rows = d.QUERIES["mrr_bm25_phrases"](spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert 0 < len(rows) <= len(d.MRR_PHRASES)
    for r in rows:
        assert 1 <= r["first_hit_rank"] <= n_docs
        assert r["rr_micro"] == 1_000_000 // r["first_hit_rank"]
        assert r["n_gold"] >= 1


def test_rake_scores_reward_phrase_membership(spark):
    """degree >= freq always (every occurrence contributes phrase_len >=
    1), so score_milli >= 1000; stopwords never appear as keywords."""
    from pedri_analysis_spark.plans import draft_r13 as d
    from pedri_analysis_spark.plans.text_queries import _QUALITY_STOPWORDS

    rows = d.QUERIES["rake_keyword_topk"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= d.RAKE_TOPK
    for r in rows:
        assert r["degree"] >= r["freq"] >= d.RAKE_MIN_FREQ
        assert r["score_milli"] >= 1000
        assert r["word"] not in _QUALITY_STOPWORDS


def test_bloom_fpr_tracks_analytic_expectation(spark):
    """The measured FPR must track the textbook expectation
    (1 - (1 - 1/m)^(k*n))^k — a uniform-hash sanity check on the
    seeded_hash64 position construction: a biased hash family would
    cluster positions and push the measured rate off the curve.  The
    band is generous (binomial noise at ~1k probes) but kills
    order-of-magnitude hash pathologies."""
    from pedri_analysis_spark.plans import draft_r13 as d

    (r,) = d.QUERIES["bloom_filter_fpr_audit"](spark, SF_DIR).collect()
    fill = 1.0 - (1.0 - 1.0 / d.BLOOM_M) ** (d.BLOOM_K * r["n_build"])
    fpr_expected = fill**d.BLOOM_K
    measured = r["false_positives"] / r["n_probe"]
    # measured bits_set should track m*fill closely (law of large numbers
    # over m cells)
    assert abs(r["bits_set"] - d.BLOOM_M * fill) <= 0.1 * d.BLOOM_M * fill + 8
    # FPR: within 3x either way, plus an absolute floor for tiny samples
    assert measured <= 3.0 * fpr_expected + 5.0 / r["n_probe"]
    assert measured >= fpr_expected / 3.0 - 5.0 / r["n_probe"]
