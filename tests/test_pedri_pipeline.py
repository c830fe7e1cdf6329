"""Golden tests for the Pedri pipelines over the deterministic fixtures
(tests/fixtures/, generated by tools/gen_fixtures.py — FIXTURES.md §B).

Expected values are hand-computed from the documented semantics (SURVEY
§2); each scenario pins one edge case: dual completed-pass definitions,
substitution minutes, direction inference + halftime flip, zone/threshold
geometry, xA crediting, inclusive 5-second counter-press bounds, dirty
input skipping.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pedri_analysis_spark.functions import predicates as P

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def events(spark):
    from pedri_analysis_spark.sources.events import read_events

    return read_events(spark, os.path.join(FIXTURES, "events")).cache()


@pytest.fixture(scope="module")
def basic(spark, events):
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_basic

    rows = per_match_basic(events).collect()
    return {r.match_id: r.asDict() for r in rows}


@pytest.fixture(scope="module")
def extended(spark, events):
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_extended
    from pedri_analysis_spark.sources.events import read_profile

    profile = read_profile(spark, os.path.join(FIXTURES, "pedri_profile.json"))
    rows = per_match_extended(events, profile).collect()
    return {r.match_id: r.asDict() for r in rows}


def test_dirty_files_skipped(events):
    # bad.json (malformed) and notarray.json (dict) contribute zero rows
    mids = {r.match_id for r in events.select("match_id").distinct().collect()}
    assert mids == {1001, 1002, 1003, 1004, 1005, 1006, 1007, 1008, 1009, 9999}


def test_no_player_match_excluded(basic):
    assert 9999 not in basic


def test_baseline_basic_row(basic):
    r = basic[1001]
    assert r["passes"] == 8
    assert r["passes_completed"] == 7  # v1: absent outcome OR 'Complete'
    assert r["pass_pct"] == 87.5
    assert r["key_passes"] == 1
    assert r["progressive_passes"] == 8  # v1 is direction/completion-agnostic
    assert r["shots"] == 1 and r["goals"] == 1
    assert r["xg"] == 0.4
    assert r["dribbles"] == 2 and r["dribbles_successful"] == 1
    assert r["dribble_pct"] == 50.0
    assert r["carries"] == 1
    assert r["carry_distance"] == 5.0  # 3-4-5 triangle
    assert r["pressures"] == 1
    assert r["tackles"] == 1  # v1: Duel + duel.type Tackle
    assert r["interceptions"] == 1
    assert r["ball_recoveries"] == 1
    assert r["position"] == "Center Midfield"
    assert r["match_date"] == "2023-03-10"
    assert r["minutes"] == 87.0  # first event 1.0' -> last 88.0'


def test_minutes_substitutions(basic):
    # sub-on at 60' with last event at 89' -> 29; sub-off at 70' from 1' -> 69
    assert basic[1002]["minutes"] == 29.0
    assert basic[1003]["minutes"] == 69.0


def test_pass_semantics_divergence(basic, extended):
    # v1 counts absent-outcome AND explicit 'Complete'; v2 only absent
    assert basic[1004]["passes"] == 7
    assert basic[1004]["passes_completed"] == 6
    assert extended[1004]["passes_completed"] == 5


def test_progressive_zones_extended(extended):
    r = extended[1005]
    assert r["passes"] == 11
    assert r["passes_completed"] == 11
    assert r["progressive_passes"] == 3  # e11, e12, e14 (cross is still completed)
    assert r["final_third_passes"] == 4  # 3 right-attacking + 1 period-2 flip
    assert r["penalty_area_passes"] == 2
    assert r["deep_completions"] == 1  # e12 only; e14 excluded as cross
    assert r["switches"] == 1
    assert r["crosses"] == 1
    assert r["passes_under_pressure"] == 1
    assert r["carries"] == 1
    assert r["carry_distance"] == 35.0
    assert r["progressive_carries"] == 1


def test_xa_crediting(extended):
    r = extended[1006]
    assert r["xa"] == 0.85  # 0.35 + 0.5; teammate's key pass not credited
    assert r["assists"] == 1
    assert r["key_passes"] == 2
    assert r["team_total_xg"] == 1.1  # 0.35 + 0.25 + 0.5; opponent's 0.15 excluded
    assert r["xg"] == 0.0  # no shots by the player himself


def test_counterpress_bounds(extended):
    r = extended[1007]
    # +4s in, +5.0s in (inclusive), +6s out, cross-period out, orphan out
    assert r["counter_pressures"] == 2
    assert r["turnovers"] == 4
    assert r["pressures"] == 5


def test_direction_aware_left(extended):
    r = extended[1008]
    assert r["progressive_passes"] == 5  # 4 anchors + e11 under left attack
    assert r["final_third_passes"] == 5
    assert r["penalty_area_passes"] == 4
    assert r["deep_completions"] == 4


def test_progressive_receptions(extended):
    assert extended[1009]["progressive_receptions"] == 1


def test_profile_join(extended):
    assert extended[1001]["minutes"] == 88.0  # profile-provided, not estimated
    assert extended[1001]["team"] == "Barcelona"
    assert extended[1003]["position"] == "Unknown"  # profile row without position
    assert extended[1002]["minutes"] == 30.0


def test_season_summary_basic(spark, events):
    from pedri_analysis_spark.plans.pedri_pipeline import (
        per_match_basic,
        season_summary_basic,
    )

    row = season_summary_basic(per_match_basic(events)).collect()[0]
    assert row.matches == 9
    # weighted, not mean-of-rates
    assert row.pass_pct == round(100.0 * row.total_passes_completed / row.total_passes, 1)


def test_per90(spark, events):
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_basic, per90

    row = per90(per_match_basic(events), ["passes", "shots"]).collect()[0]
    assert row.passes_per90 == round(row.total_passes / row.total_minutes * 90.0, 2)


def test_twins_cover_every_predicate(events):
    """The fixture corpus must actually EXERCISE the twins: each boolean
    twin should be true on at least one fixture row somewhere (otherwise
    the parity pin is vacuous for its true-branch)."""
    preds = {
        "pass_completed_v1": P.PASS_COMPLETED_V1_S,
        "pass_completed_v2": P.PASS_COMPLETED_V2_S,
        "key_pass_v1": P.IS_KEY_PASS_V1_S,
        "turnover": P.IS_TURNOVER_S,
        "tackle_v1": P.IS_TACKLE_V1_S,
        "progressive_v1": P.PROGRESSIVE_PASS_V1_S,
    }
    row = events.select(
        *[
            F.expr(f"sum(CASE WHEN {t} THEN 1 ELSE 0 END)").alias(n)
            for n, t in preds.items()
        ]
    ).collect()[0]
    for n in preds:
        assert row[n] and row[n] > 0, f"fixture never exercises {n}"
