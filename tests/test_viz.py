"""Viz data-side tests: the figure inputs are Spark aggregates (scalable);
rendering is import-gated on matplotlib (absent here)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def events(spark):
    from pedri_analysis_spark.sources.events import read_events

    return read_events(spark, os.path.join(FIXTURES, "events")).cache()


def test_heatmap_data(spark, events):
    from pedri_analysis_spark.viz import heatmap_data

    rows = heatmap_data(events).collect()
    assert rows, "no heat cells"
    assert all(0 <= r.gx < 48 and 0 <= r.gy < 32 for r in rows)
    import math

    assert all(abs(r.intensity - math.log1p(r.n)) < 1e-12 for r in rows)


def test_top_matches_and_histogram(spark, events):
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_basic
    from pedri_analysis_spark.viz import histogram_data, top_matches_data

    stats = per_match_basic(events)
    top = top_matches_data(stats, "passes", k=3).collect()
    assert len(top) == 3
    assert top[0].passes >= top[1].passes >= top[2].passes
    hist = histogram_data(stats, "passes", 5.0).collect()
    assert sum(r.n for r in hist) == stats.count()


def test_pass_map_segments(spark, events):
    from pedri_analysis_spark.viz import pass_map_data

    seg = pass_map_data(events).filter("match_id = 1001").collect()
    assert all(s.x1 is not None for s in seg)
    assert any(s.progressive for s in seg)


def test_heatmap_data_matches_heat_grid_query(spark, events):
    """The figure's heat grid equals the oracle-checked pedri_heat_grid
    query cell for cell."""
    from pedri_analysis_spark.plans.pedri_queries import q_pedri_heat_grid
    from pedri_analysis_spark.viz import heatmap_data

    got = sorted((r.gx, r.gy, r.n) for r in heatmap_data(events).collect())
    want = sorted(
        (r.gx, r.gy, r.n) for r in q_pedri_heat_grid(spark, SF_DIR).collect()
    )
    assert len(want) == 15
    assert got == want


def test_pass_map_data_matches_per_match_basic(spark, events):
    """Per match, the pass-map segments count the same passes, completed
    passes (P5 v1) and progressive passes (P8 v1) as the oracle-checked
    per-match basic stats."""
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_basic
    from pedri_analysis_spark.viz import pass_map_data

    seg = pass_map_data(events).groupBy("match_id").agg(
        F.expr("count(*) AS n"),
        F.expr("sum(CAST(completed AS INT)) AS completed"),
        F.expr("sum(CAST(progressive AS INT)) AS progressive"),
    )
    got = {r.match_id: (r.n, r.completed, r.progressive) for r in seg.collect()}
    want = {
        r.match_id: (r.passes, r.passes_completed, r.progressive_passes)
        for r in per_match_basic(events).filter("passes > 0").collect()
    }
    assert len(want) == 9
    assert got == want


def test_render_raises_without_matplotlib(spark, events):
    try:
        import matplotlib  # noqa: F401

        pytest.skip("matplotlib present; render path exercised elsewhere")
    except ImportError:
        pass
    from pedri_analysis_spark.viz import heatmap_data, render_heatmap

    with pytest.raises(ImportError):
        render_heatmap(heatmap_data(events), "/tmp/heat")


@pytest.fixture(scope="module")
def ext_stats(spark, events):
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_extended
    from pedri_analysis_spark.sources.events import read_profile

    profile = read_profile(spark, os.path.join(FIXTURES, "pedri_profile.json"))
    return per_match_extended(events, profile)


def test_trend_per90_data(spark, ext_stats):
    from pedri_analysis_spark.viz import trend_per90_data

    trend = trend_per90_data(ext_stats).collect()
    assert [r.idx for r in trend] == list(range(1, len(trend) + 1))
    assert set(trend[0].asDict()) == {"idx", "match_id", "kp90", "pp90"}
    mids = [r.match_id for r in trend]
    assert mids == sorted(mids)
    assert all(r.kp90 >= 0 and r.pp90 >= 0 for r in trend)


def test_scatter_pp_pc_data(spark, ext_stats):
    from pedri_analysis_spark.viz import scatter_pp_pc_data

    rows = scatter_pp_pc_data(ext_stats).collect()
    assert set(rows[0].asDict()) == {
        "match_id",
        "progressive_passes",
        "progressive_carries",
        "xa",
        "marker_size",
    }
    # the reference's 20.0 marker-size floor
    assert all(r.marker_size >= 20.0 for r in rows)
    assert any(r.marker_size > 20.0 for r in rows if r.xa > 20.0 / 300.0)


def test_radar_percentile_data(spark, events):
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_basic
    from pedri_analysis_spark.viz import radar_percentile_data

    metrics = ["key_passes", "shots", "xg"]
    row = radar_percentile_data(per_match_basic(events), metrics).collect()[0]
    d = row.asDict()
    assert set(d) == {f"{m}_p90_{s}" for m in metrics for s in ("raw", "pctile")}
    for m in metrics:
        assert 0.0 <= d[f"{m}_p90_pctile"] <= 100.0
        assert d[f"{m}_p90_raw"] >= 0.0


def test_all_renders_import_gated(spark, events):
    try:
        import matplotlib  # noqa: F401

        pytest.skip("matplotlib present; render path exercised elsewhere")
    except ImportError:
        pass
    from pedri_analysis_spark import viz
    from pedri_analysis_spark.plans.pedri_pipeline import per_match_basic

    stats = per_match_basic(events)
    with pytest.raises(ImportError):
        viz.render_bars(viz.top_matches_data(stats, "passes"), "passes", "/tmp/x")
    with pytest.raises(ImportError):
        viz.render_histogram(viz.histogram_data(stats, "passes", 5.0), "/tmp/x")
    with pytest.raises(ImportError):
        viz.render_trend(stats.limit(0), "/tmp/x")
    with pytest.raises(ImportError):
        viz.render_scatter(stats.limit(0), "/tmp/x")
    with pytest.raises(ImportError):
        viz.render_pass_map(viz.pass_map_data(events).limit(0), "/tmp/x")
    with pytest.raises(ImportError):
        viz.render_radar({"a": 1.0}, ["a"], "/tmp/x")
