"""Golden test for the end-to-end orchestrator: one call produces the
reference's complete artifact set (CSV trio + summaries + match ids +
profile + every figure family's data), with correct shapes/orders."""

from __future__ import annotations

import csv
import json
import os

import pytest

from tests.conftest import persistent_rdds

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

EXPECTED_FILES = [
    "pedri_profile.json",
    "pedri_match_ids.txt",
    "pedri_summary_extended.json",
    "csv/pedri_match_stats.csv",
    "csv/pedri_match_stats_extended.csv",
    "csv/pedri_per_match_stats.csv",
    "csv/pedri_summary.csv",
    "figures/pedri_key_passes_per_match.csv",
    "figures/pedri_progressive_passes_per_match.csv",
    "figures/pedri_pass_pct_per_match.csv",
    "figures/pedri_pressures_p90_hist.csv",
    "figures/pedri_tackles_p90_hist.csv",
    "figures/pedri_interceptions_p90_hist.csv",
    "figures/pedri_event_heatmap.csv",
    "figures/pedri_radar_p90_raw.csv",
    "figures/pedri_radar_p90_percentile.csv",
    "figures/pedri_pass_map_all.csv",
    "figures/pedri_pass_map_progressive.csv",
    "figures/trend_kp_pp_per90.csv",
    "figures/scatter_pp_vs_pc.csv",
]


@pytest.fixture(scope="module")
def artifacts(spark, tmp_path_factory):
    from pedri_analysis_spark.run_all import run_all

    out = str(tmp_path_factory.mktemp("runall"))
    arts = run_all(spark, os.path.join(FIXTURES, "events"), out_dir=out)
    return out, arts


def test_artifact_set_complete(artifacts):
    out, arts = artifacts
    for rel in EXPECTED_FILES:
        assert os.path.isfile(os.path.join(out, rel)), f"missing {rel}"
    assert len(arts) >= len(EXPECTED_FILES)


def test_basic_csv_golden(artifacts):
    out, _ = artifacts
    with open(os.path.join(out, "csv", "pedri_match_stats.csv")) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 9  # one per fixture match with pedri events
    assert list(rows[0]) == [
        "match_id", "match_date", "position", "minutes", "passes_attempted",
        "passes_completed", "pass_pct", "key_passes", "progressive_passes",
        "shots", "xg",
    ]
    # sorted by PARSED date: 1003 is 01/04/2023 (April) and must come
    # AFTER 1001 (2023-03-10), even though its string sorts first
    ids = [r["match_id"] for r in rows]
    assert ids.index("1001") < ids.index("1003")


def test_match_ids_txt_golden(artifacts):
    out, _ = artifacts
    with open(os.path.join(out, "pedri_match_ids.txt")) as f:
        ids = f.read().split()
    assert ids == sorted(ids)
    assert "1001" in ids and len(ids) == 9


def test_summary_extended_json_golden(artifacts):
    out, _ = artifacts
    with open(os.path.join(out, "pedri_summary_extended.json")) as f:
        s = json.load(f)
    assert set(s) == {"matches", "minutes", "totals", "per90"}
    assert s["matches"] == 9
    assert s["minutes"] > 0
    # per90 consistency: per90[k] == totals[k] / minutes * 90 (3 dp)
    for k, v in s["totals"].items():
        assert s["per90"][k] == pytest.approx(v / s["minutes"] * 90.0, abs=5e-3)


def test_profile_json_roundtrip(spark, artifacts):
    """The built profile is consumable by the profile reader (the produce
    side and the consume side of S4 agree)."""
    from pedri_analysis_spark.sources.events import read_profile

    out, _ = artifacts
    prof = read_profile(spark, os.path.join(out, "pedri_profile.json"))
    rows = {r.match_id: r for r in prof.collect()}
    assert len(rows) == 9
    assert rows[1001].team == "Barcelona"
    assert rows[1001].minutes > 0


def test_run_all_releases_its_caches(spark, tmp_path):
    """Every frame run_all caches is unpersisted before it returns."""
    from pedri_analysis_spark.run_all import run_all

    before = persistent_rdds(spark)
    run_all(spark, os.path.join(FIXTURES, "events"), out_dir=str(tmp_path))
    assert not persistent_rdds(spark) - before


def test_run_all_jobs_stay_in_callers_job_group(spark, tmp_path):
    """Every job run_all launches, from whichever pool thread, carries the
    caller's job group, and every pool thread is joined on return."""
    import threading

    from pedri_analysis_spark.run_all import run_all

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    threads = threading.active_count()
    sc.setJobGroup("run-all-group-test", "run_all job group test")
    try:
        run_all(spark, os.path.join(FIXTURES, "events"), out_dir=str(tmp_path))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    assert threading.active_count() == threads
    assert len(tracker.getJobIdsForGroup("run-all-group-test")) > 0
    # the status store may have evicted old jobs, but it holds no new ungrouped one
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_run_all_reraises_a_failed_branch(spark, tmp_path, monkeypatch):
    """An exception in one pool branch reaches the caller, after every
    thread has joined and every cache has been released."""
    import threading

    from pedri_analysis_spark import viz
    from pedri_analysis_spark.run_all import run_all

    def broken(events, *args, **kwargs):
        raise RuntimeError("heatmap branch failed")

    monkeypatch.setattr(viz, "heatmap_data", broken)
    before, threads = persistent_rdds(spark), threading.active_count()
    with pytest.raises(RuntimeError, match="heatmap branch failed"):
        run_all(spark, os.path.join(FIXTURES, "events"), out_dir=str(tmp_path))
    assert not persistent_rdds(spark) - before
    assert threading.active_count() == threads


def test_run_all_is_deterministic(spark, tmp_path):
    """Two passes in one session write the same bytes to every artifact and
    return the same map in the same order, whatever order the threads
    finished in. The pool (8 wide) outnumbers the cores, and a short switch
    interval makes the threads interleave often, so a lost update to the
    shared artifact map would show as a missing key."""
    import sys

    from pedri_analysis_spark.run_all import run_all

    events = os.path.join(FIXTURES, "events")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        first = run_all(spark, events, out_dir=str(tmp_path / "a"))
        second = run_all(spark, events, out_dir=str(tmp_path / "b"))
    finally:
        sys.setswitchinterval(interval)
    assert list(first) == list(second)
    rels = [os.path.relpath(p, tmp_path / "a") for p in first.values()]
    assert rels == [os.path.relpath(p, tmp_path / "b") for p in second.values()]
    assert set(EXPECTED_FILES) <= set(rels)
    for rel in EXPECTED_FILES:
        assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes(), rel


def test_bounded_sinks_match_fallback_bytes(spark, tmp_path, monkeypatch):
    """Every artifact is byte-identical whether the sinks write from the
    driver or through the coalesce(1) Hadoop fallback, and the default run
    never takes the fallback (no ``*.spark-tmp`` directory)."""
    from pedri_analysis_spark.run_all import run_all
    from pedri_analysis_spark.sources import sinks

    moves = []
    real_move = sinks._move_single_part
    monkeypatch.setattr(
        sinks, "_move_single_part", lambda *a: moves.append(a) or real_move(*a)
    )
    events = os.path.join(FIXTURES, "events")
    run_all(spark, events, out_dir=str(tmp_path / "bounded"))
    assert moves == []
    monkeypatch.setattr(sinks, "BOUNDED_ROWS", 0)
    run_all(spark, events, out_dir=str(tmp_path / "fallback"))
    assert len(moves) == 17  # every CSV sink but the compat copy, plus the id list
    for rel in EXPECTED_FILES:
        bounded, fallback = (tmp_path / side / rel for side in ("bounded", "fallback"))
        assert bounded.read_bytes() == fallback.read_bytes(), rel


def test_warm_run_all_reuses_generated_code(tmp_path):
    """A second run_all in the same JVM compiles at most 10% of the classes
    the first (cold) one compiled: the session's codegen cache holds a whole
    pass. Runs in a fresh process so the first run is really cold."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import os
from pedri_analysis_spark.run_all import run_all
from pedri_analysis_spark.session import get_spark

spark = get_spark(app_name="codegen-reuse", master="local[2]", shuffle_partitions=2)
metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
counts = []
for i in range(2):
    before = metric.getCount()
    run_all(spark, {os.path.join(FIXTURES, "events")!r}, out_dir=os.path.join({str(tmp_path)!r}, str(i)))
    counts.append(metric.getCount() - before)
print("COMPILES", *counts)
spark.stop()
"""
    path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=path)
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env, capture_output=True,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    cold, warm = (int(x) for x in proc.stdout.split("COMPILES")[1].split())
    assert cold > 0
    assert warm <= 0.10 * cold, (cold, warm)
