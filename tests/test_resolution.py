"""Invariants for the entity-resolution/graph wave (resolution_queries):
pair ordering, threshold semantics, tombstone filtering — the properties
the oracle hash-check alone would not localize if broken."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_fuzzy_pairs_are_ordered_and_within_edit_budget(spark):
    from pedri_analysis_spark.plans import resolution_queries as rq

    rows = rq.q_fuzzy_part_name_pairs(spark, SF).collect()
    for r in rows:
        assert r.name_a < r.name_b  # each pair once, deterministic side
        assert 1 <= r.edits <= rq.FUZZY_MAX_EDITS


def test_sorted_neighborhood_pairs_ordered_and_verified(spark):
    from pedri_analysis_spark.plans import resolution_queries as rq

    rows = rq.q_sorted_neighborhood_dups(spark, SF).collect()
    assert rows, "sf0.001 corpus contains prefix-sharing near-dups"
    for r in rows:
        assert r.a < r.b
        assert r.jaccard >= rq.SN_JACCARD_T


def test_copurchase_edges_respect_min_cooccurrence(spark):
    from pedri_analysis_spark.plans import resolution_queries as rq

    rows = rq.q_copurchase_top_pairs(spark, SF).collect()
    for r in rows:
        assert r.pa < r.pb
        assert r.co_n >= rq.COPURCHASE_MIN_CO


def test_triangle_count_is_consistent_with_edges(spark):
    from pedri_analysis_spark.plans import resolution_queries as rq

    row = rq.q_triangle_count_copurchase(spark, SF).collect()[0]
    assert row.n_triangles >= 0
    # each triangle needs 3 edges; an upper bound sanity tie to n_edges
    assert row.n_triangles <= row.n_edges ** 2


def test_cdc_snapshot_has_no_tombstoned_state_and_one_row_per_key(spark):
    from pedri_analysis_spark.plans import resolution_queries as rq

    rows = rq.q_cdc_latest_snapshot(spark, SF).collect()
    assert rows
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))  # compacted: one state row per key
    assert all(r.state_type != "error" for r in rows)  # deletes applied


def test_cdc_tombstone_wins_only_when_latest(spark):
    """A user whose LATEST event is an error must be absent from the
    snapshot; a user with an older error but a newer upsert must be
    present — delete-op semantics are event-time ordered, not sticky."""
    from pyspark.sql import functions as F

    from pedri_analysis_spark.plans import resolution_queries as rq
    from pedri_analysis_spark.plans.relational import events_us

    ev = events_us(spark, SF).select("user_id", "event_type", "ts_us", "event_id")
    w_latest = (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts_us", "event_id", "event_type")).alias("m"))
        .select("user_id", F.col("m.event_type").alias("latest_type"))
    )
    latest = {r.user_id: r.latest_type for r in w_latest.collect()}
    snapshot_users = {
        r.user_id for r in rq.q_cdc_latest_snapshot(spark, SF).collect()
    }
    for user, t in latest.items():
        assert (user in snapshot_users) == (t != "error"), (user, t)


def test_association_rules_statistics_are_consistent(spark):
    from pedri_analysis_spark.plans import resolution_queries as rq

    rows = rq.q_association_rules_lift(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.pa < r.pb
        assert 0 < r.support <= 1
        assert 0 < r.confidence <= 1
        assert r.lift > 0
        # lift = confidence / P(b): confidence can never undercut support
        assert r.confidence >= r.support
