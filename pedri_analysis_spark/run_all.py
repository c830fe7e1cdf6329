"""End-to-end pipeline orchestrator (SURVEY §3.1).

One call / one command produces the reference's complete output set —
mirroring ``automation/run_all.py:21-26`` (stage order: lineup inspection
→ profile → match-id discovery → full analysis) and
``core/pedri_analysis.py:597-751`` + ``core/pedri_analysis_extended.py:
590-700`` (the artifact list):

    out_dir/
      pedri_profile.json            profile rows built from events
      pedri_match_ids.txt           sorted match ids, one per line
      csv/pedri_match_stats.csv             basic column subset
      csv/pedri_match_stats_extended.csv    full extended per-match table
      csv/pedri_per_match_stats.csv         compat copy (extended)
      csv/pedri_summary.csv                 1-row season summary
      pedri_summary_extended.json           totals + per90 JSON
      figures/<family>.csv                  figure DATA (always)
      figures/<family>.png + .svg           rendered (when matplotlib)

Every figure family's *data* is written as a CSV unconditionally — the
data builders are Spark aggregates and the contract of this engine; the
matplotlib render is an optional driver-side detail (import-gated), so
the artifact set is deterministic in containers without plotting libs.

Scale: each stage is a DataFrame plan over ONE cached parse of the event
corpus; the per-match/1-row outputs are bounded, so each sink collects its
rows once and writes the file from the driver (see sources.sinks). A pass
is ~25 small Spark actions, each paying fixed driver cost (tens of ms per
collect) for little data work, so the independent ones overlap:

- the calling thread fills the ``events`` cache with the lineup report,
  which stays the first stdout output;
- then three chains fan out on a thread pool no wider than
  ``spark.sparkContext.defaultParallelism``:
  profile JSON -> ``ext`` -> {extended CSV + compat copy, summary JSON,
  trend, scatter}; ``basic`` -> {basic CSV, summary CSV, 3 bars,
  3 histograms, radar}; and match ids, heatmap and both pass maps;
- a shared cache is filled by its first sink before its consumers are
  submitted, so no cache is filled twice;
- every task runs under ``inheritable_thread_target``, so the caller's job
  group and local properties reach every job.

``_fan_out`` holds all of the concurrency. Figures render (when matplotlib)
on the calling thread after the join, because pyplot is not thread-safe.
Every frame cached here is released only after all threads have joined,
on success and on failure, and no thread outlives ``run_all``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, Future, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.cache import released
from pedri_analysis_spark.plans.pedri_pipeline import (
    lineup_report,
    match_date_ts,
    per_match_basic,
    per_match_extended,
    profile_rows,
    pround,
)
from pedri_analysis_spark.sources.events import read_events, read_profile
from pedri_analysis_spark.sources.sinks import write_csv_single, write_text_list
from pedri_analysis_spark import viz

# reference core/pedri_analysis.py:637-648 (basic CSV subset; `passes` is
# exported under the reference's `passes_attempted` name)
BASIC_CSV_COLS = [
    ("match_id", "match_id"),
    ("match_date", "match_date"),
    ("position", "position"),
    ("minutes", "minutes"),
    ("passes", "passes_attempted"),
    ("passes_completed", "passes_completed"),
    ("pass_pct", "pass_pct"),
    ("key_passes", "key_passes"),
    ("progressive_passes", "progressive_passes"),
    ("shots", "shots"),
    ("xg", "xg"),
]


def _summary_basic(stats: DataFrame) -> DataFrame:
    """The reference's 1-row season summary (core/pedri_analysis.py:
    665-688), with its exact key names and rounding."""
    s = lambda c: F.sum(c)
    return stats.agg(
        F.count(F.lit(1)).alias("matches"),
        pround(s("minutes"), 1).alias("minutes_total"),
        s("passes").alias("passes_attempted"),
        s("passes_completed").alias("passes_completed"),
        F.when(
            s("passes") > 0,
            pround(100.0 * s("passes_completed") / s("passes"), 2),
        )
        .otherwise(0.0)
        .alias("pass_pct_weighted"),
        s("key_passes").alias("key_passes"),
        s("progressive_passes").alias("progressive_passes"),
        s("shots").alias("shots"),
        pround(s("xg"), 3).alias("xg"),
        s("dribbles").alias("dribbles_attempted"),
        s("dribbles_successful").alias("dribbles_completed"),
        s("carries").alias("carries"),
        pround(s("carry_distance"), 1).alias("carry_distance_units"),
        s("pressures").alias("pressures"),
        s("tackles").alias("tackles"),
        s("interceptions").alias("interceptions"),
        s("ball_recoveries").alias("ball_recoveries"),
    )


def _summary_extended_payload(ext: DataFrame) -> dict:
    """totals + per90 JSON payload (reference extended.py:640-652): sum
    every numeric per-match column except identifiers/minutes, each total
    and its per-90 rate rounded to 3."""
    num_cols = [
        f.name
        for f in ext.schema.fields
        if f.dataType.typeName() in ("long", "double", "integer", "bigint")
        and f.name not in ("match_id", "minutes")
    ]
    aggs = [F.count(F.lit(1)).alias("_matches"), F.sum("minutes").alias("_minutes")]
    aggs += [F.sum(c).alias(c) for c in num_cols]
    row = ext.agg(*aggs).collect()[0]
    total_minutes = float(row["_minutes"] or 0.0)
    totals, per90 = {}, {}
    for c in num_cols:
        v = float(row[c] or 0.0)
        totals[c] = round(v, 3)
        per90[c] = round(v / total_minutes * 90.0, 3) if total_minutes > 0 else 0.0
    return {
        "matches": int(row["_matches"]),
        "minutes": round(total_minutes, 1),
        "totals": totals,
        "per90": per90,
    }


def _have_matplotlib() -> bool:
    try:
        import matplotlib  # noqa: F401

        return True
    except ImportError:
        return False


@contextlib.contextmanager
def _fan_out(spark: SparkSession):
    """Yield ``submit(fn, *args)``, which runs ``fn`` on a thread pool no
    wider than the session's default parallelism, under the caller's job
    group and local properties; a running task may submit more.  Leaving
    the block waits for every task and re-raises the first failure (in
    submission order); the pool's threads are joined on every exit path."""
    pool = ThreadPoolExecutor(spark.sparkContext.defaultParallelism)
    futures: list[Future] = []

    def submit(fn, *args) -> None:
        # Wrapped per task, so each task gets its own copy of the caller's
        # local properties: Spark writes the SQL execution id into them.
        futures.append(pool.submit(inheritable_thread_target(spark)(fn), *args))

    try:
        yield submit
        while True:
            snapshot = list(futures)
            failed = [f for f in snapshot if f.done() and f.exception() is not None]
            if failed:
                raise failed[0].exception()
            pending = [f for f in snapshot if not f.done()]
            if not pending:
                return
            wait(pending, return_when=FIRST_EXCEPTION)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)


def run_all(
    spark: SparkSession,
    events_dir: str,
    profile_path: str | None = None,
    out_dir: str = "outputs",
) -> dict[str, str]:
    """Run every stage end-to-end; returns {artifact-name: path}, sorted by
    name."""
    csv_dir = os.path.join(out_dir, "csv")
    fig_dir = os.path.join(out_dir, "figures")
    for d in (out_dir, csv_dir, fig_dir):
        os.makedirs(d, exist_ok=True)
    # Written by the tasks under distinct keys; returned sorted, so the
    # map does not depend on which thread finished first.
    artifacts: dict[str, str] = {}
    renders: list[tuple[str, Callable[[str], list[str]]]] = []

    def figure(name: str, data_df: DataFrame, render, order_by: list[str] | None = None) -> None:
        """Write the figure's data CSV always; queue its PNG+SVG render
        for the calling thread (pyplot is not thread-safe)."""
        data_path = write_csv_single(data_df, os.path.join(fig_dir, f"{name}.csv"), order_by)
        artifacts[f"fig:{name}:data"] = data_path
        renders.append((name, render))

    with released() as cached:  # closes after every thread has joined
        events = read_events(spark, events_dir).cache()
        cached.append(events)
        # -- stage 1: lineup inspection (reference pedri_inspect_lineups);
        # its aggregate reads every events partition, filling the cache --
        lineup_report(events).show(truncate=False)  # the reference's stdout report

        def extended() -> None:
            # -- stage 2: profile build (reference pedri_profile) --
            built = profile_rows(events).withColumnRenamed("team", "team_name")
            profile_out = os.path.join(out_dir, "pedri_profile.json")
            rows = [r.asDict() for r in built.orderBy("match_id").collect()]
            with open(profile_out, "w") as f:
                json.dump(rows, f, indent=1, default=str)
            artifacts["profile_json"] = profile_out

            # -- stage 5: extended analysis; its CSV fills the ext cache --
            profile = read_profile(spark, profile_path or profile_out)
            ext = per_match_extended(events, profile).cache()
            cached.append(ext)
            extended_csv = write_csv_single(
                ext, os.path.join(csv_dir, "pedri_match_stats_extended.csv"), ["match_id"]
            )
            artifacts["extended_csv"] = extended_csv
            # the compat file is the same frame in the same order
            artifacts["compat_csv"] = shutil.copyfile(
                extended_csv, os.path.join(csv_dir, "pedri_per_match_stats.csv")
            )
            submit(summary_extended_json, ext)
            trend = viz.trend_per90_data(ext)
            submit(
                figure, "trend_kp_pp_per90", trend,
                lambda base: viz.render_trend(trend, base), ["idx"],
            )
            scatter = viz.scatter_pp_pc_data(ext)
            submit(
                figure, "scatter_pp_vs_pc", scatter,
                lambda base: viz.render_scatter(scatter, base), ["match_id"],
            )

        def summary_extended_json(ext: DataFrame) -> None:
            ext_json = os.path.join(out_dir, "pedri_summary_extended.json")
            with open(ext_json, "w") as f:
                json.dump(_summary_extended_payload(ext), f, indent=2)
            artifacts["summary_extended_json"] = ext_json

        def basic_analysis() -> None:
            # -- stage 4: basic analysis (reference pedri_analysis); its
            # CSV fills the basic cache --
            basic = per_match_basic(events).cache()
            cached.append(basic)
            # reference sort: PARSED multi-format date, then match id
            basic_subset = basic.withColumn("_dt", match_date_ts()).select(
                "_dt",
                *[F.col(src).alias(dst) for src, dst in BASIC_CSV_COLS if src in basic.columns],
            )
            artifacts["basic_csv"] = write_csv_single(
                basic_subset.orderBy("_dt", "match_id").drop("_dt"),
                os.path.join(csv_dir, "pedri_match_stats.csv"),
            )
            submit(summary_csv, basic)
            # -- stage 6: figures (data always; render when matplotlib) --
            for metric in ("key_passes", "progressive_passes", "pass_pct"):
                top = viz.top_matches_data(basic, metric, k=20)
                submit(
                    figure, f"pedri_{metric}_per_match", top,
                    lambda base, t=top, m=metric: viz.render_bars(t, m, base),
                )
            for metric in ("pressures", "tackles", "interceptions"):
                hist = viz.histogram_data(
                    basic.withColumn(f"{metric}_p90", viz.per90_rate(metric)),
                    f"{metric}_p90",
                    1.0,
                )
                submit(
                    figure, f"pedri_{metric}_p90_hist", hist,
                    lambda base, h=hist: viz.render_histogram(h, base), ["bin_start"],
                )
            submit(radar_figures, basic)

        def summary_csv(basic: DataFrame) -> None:
            artifacts["summary_csv"] = write_csv_single(
                _summary_basic(basic), os.path.join(csv_dir, "pedri_summary.csv")
            )

        def radar_figures(basic: DataFrame) -> None:
            radar = viz.radar_percentile_data(basic, viz.RADAR_METRICS).cache()
            cached.append(radar)
            radar_row = radar.collect()[0]
            raw_metrics = [c for c in radar.columns if c.endswith("_raw")]
            pct_metrics = [c for c in radar.columns if c.endswith("_pctile")]
            submit(
                figure, "pedri_radar_p90_raw", radar.select(*raw_metrics),
                lambda base: viz.render_radar(radar_row, raw_metrics, base),
            )
            submit(
                figure, "pedri_radar_p90_percentile", radar.select(*pct_metrics),
                lambda base: viz.render_radar(radar_row, pct_metrics, base, rmax=100.0),
            )

        def match_ids() -> None:
            # -- stage 3: match-id discovery (reference find_pedri_matches) --
            from pedri_analysis_spark.functions.predicates import by_player_s

            mids = events.filter(F.expr(by_player_s())).select("match_id")
            artifacts["match_ids_txt"] = write_text_list(
                mids, os.path.join(out_dir, "pedri_match_ids.txt"), "match_id"
            )

        def heatmap() -> None:
            heat = viz.heatmap_data(events)
            figure(
                "pedri_event_heatmap", heat,
                lambda base: viz.render_heatmap(heat, base), ["gx", "gy"],
            )

        def pass_map(progressive: bool) -> None:
            segments = viz.pass_map_data(events)
            figure(
                f"pedri_pass_map_{'progressive' if progressive else 'all'}",
                segments.filter(F.col("progressive")) if progressive else segments,
                lambda base: viz.render_pass_map(segments, base, progressive_only=progressive),
                ["match_id", "x1", "y1"],
            )

        # The longest chain goes first: the pool starts tasks in order.
        with _fan_out(spark) as submit:
            submit(extended)
            submit(basic_analysis)
            submit(match_ids)
            submit(heatmap)
            submit(pass_map, False)
            submit(pass_map, True)
        if _have_matplotlib():
            for name, render in sorted(renders):
                for p in render(os.path.join(fig_dir, name)):
                    artifacts[f"fig:{name}:{os.path.splitext(p)[1][1:]}"] = p
    return dict(sorted(artifacts.items()))


def main() -> None:
    import argparse

    from pedri_analysis_spark.session import get_spark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description="Run the full analysis pipeline")
    ap.add_argument(
        "--events-dir", default=os.path.join(repo, "tests", "fixtures", "events")
    )
    ap.add_argument("--profile", default=None, help="profile JSON side input")
    ap.add_argument("--out-dir", default="outputs")
    args = ap.parse_args()

    spark = get_spark(app_name="pedri-run-all")
    artifacts = run_all(spark, args.events_dir, args.profile, args.out_dir)
    for name in sorted(artifacts):
        print(f"{name}: {artifacts[name]}")
    spark.stop()


if __name__ == "__main__":
    main()
