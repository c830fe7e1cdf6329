"""Semantic invariants for the governance/longitudinal wave
(plans/governance_queries): streak accounting, generalization
monotonicity, imputation cascade conservation."""

from __future__ import annotations

from pyspark.sql import functions as F

from pedri_analysis_spark.plans import governance_queries as gq
from pedri_analysis_spark.plans.relational import events_us

SF = "/root/testdata/sf0.001"


def test_streaks_conserve_active_days(spark):
    rows = gq.q_user_activity_streaks(spark, SF).collect()
    assert rows
    ev = events_us(spark, SF)
    expected_days = (
        ev.select(
            "user_id", F.expr(f"CAST(ts_us div {gq.DAY_US} AS BIGINT)").alias("d")
        )
        .distinct()
        .groupBy("user_id")
        .count()
    )
    exp = {r.user_id: r["count"] for r in expected_days.collect()}
    for r in rows:
        assert r.longest_streak <= r.n_active_days
        assert r.n_streaks <= r.n_active_days
        assert r.n_active_days == exp[r.user_id]  # runs partition the days


def test_k_anonymity_generalization_is_monotone(spark):
    """A coarse cell below k implies every fine sub-cell is below k, so
    widening the band can never increase rows-at-risk."""
    rows = {r.band_width: r for r in gq.q_k_anonymity_report(spark, SF).collect()}
    fine, coarse = (rows[b] for b in gq.ACCTBAL_BANDS)
    assert coarse.n_cells <= fine.n_cells
    assert coarse.n_rows_at_risk <= fine.n_rows_at_risk


def test_imputation_cascade_conserves_counts(spark):
    row = gq.q_value_imputation_cascade(spark, SF).collect()[0]
    assert row.n_imputed == row.n_user_imputed + row.n_global_imputed
    n_err = (
        events_us(spark, SF)
        .filter(F.col("event_type") == gq._MISSING_TYPE)
        .count()
    )
    assert row.n_imputed == n_err


def test_drift_contributions_are_nonnegative_and_bins_bounded(spark):
    rows = gq.q_distribution_drift_chisq(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.bin < gq.DRIFT_BINS
        assert r.n_early + r.n_late > 0  # only observed bins emit rows
        if r.n_early > 0:
            assert r.contrib_micros is not None and r.contrib_micros >= 0
        else:
            assert r.contrib_micros is None
    # every event lands in exactly one bin
    total = sum(r.n_early + r.n_late for r in rows)
    from pedri_analysis_spark.plans.relational import events_us as _ev

    assert total == _ev(spark, SF).count()
