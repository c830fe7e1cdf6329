"""Visualization layer (reference S8 family, SURVEY §2.10).

Split in two so the expensive part scales and the rendering part stays a
driver-side detail:

- ``*_data`` functions: the figure's input computed AS A DATAFRAME —
  binned heat grids, top-k bars, percentile radars. These are ordinary
  Spark aggregates (the 48×32 heat grid is a groupBy, not an
  np.histogram2d over collected points — the 100 TB-safe formulation of
  reference core/pedri_analysis_extended.py:562-565).
- ``render_*`` functions: tiny collected pandas → matplotlib, saved as
  PNG+SVG pairs like the reference (core/pedri_analysis.py:326-333).
  Import-gated: matplotlib is optional (absent in the build container);
  calling render without it raises a clear error, and everything up to
  the collect still works.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pedri_analysis_spark.functions import predicates as P

HEAT_NX, HEAT_NY = 48, 32  # reference grid (extended.py:33)

# the radar's spokes (reference core/pedri_analysis.py:487-521)
RADAR_METRICS = [
    "key_passes",
    "progressive_passes",
    "shots",
    "xg",
    "dribbles_successful",
    "pressures",
    "tackles",
    "interceptions",
]


def _matplotlib():
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt

        return plt
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise ImportError(
            "matplotlib is not installed in this environment; the *_data "
            "DataFrames are still available — render elsewhere"
        ) from e


def heatmap_data(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """Pitch-occupancy heat grid: bucket event locations into the 48×32
    grid and count — log1p-compressed like the reference (F8).

    Scale: groupBy(cell) over billions of events is a partial+final hash
    agg producing ≤1,536 rows; never collect raw points."""
    cell_x, cell_y = P.PITCH_X / HEAT_NX, P.PITCH_Y / HEAT_NY
    return (
        events.filter(F.expr(f"{P.by_player_s(player_id)} AND {P.LOC_X_S} IS NOT NULL"))
        .groupBy(
            F.expr(f"CAST(floor({P.LOC_X_S} / {cell_x}e0) AS INT)").alias("gx"),
            F.expr(f"CAST(floor({P.LOC_Y_S} / {cell_y}e0) AS INT)").alias("gy"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("intensity", F.log1p("n"))
    )


def per90_rate(col: str) -> Column:
    """A per-match count as a rate per 90 minutes played (0 when the
    ``minutes`` column is 0)."""
    m = F.col("minutes")
    return F.when(m > 0, F.col(col) / m * 90.0).otherwise(0.0)


def top_matches_data(stats: DataFrame, metric: str, k: int = 20) -> DataFrame:
    """Top-k matches by a metric for bar charts (reference O2 top-20
    clip, core/pedri_analysis.py:362-364) — TakeOrderedAndProject."""
    return stats.select("match_id", metric).orderBy(
        F.desc(metric), F.asc("match_id")
    ).limit(k)


def histogram_data(stats: DataFrame, metric: str, bin_width: float) -> DataFrame:
    """Per-90-style metric histogram as bucket counts (reference A10)."""
    return (
        stats.groupBy(
            (F.floor(F.col(metric) / bin_width) * bin_width).alias("bin_start")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin_start")
    )


def pass_map_data(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """Pass-map segments (start→end, completed flag, progressive flag) —
    the reference quiver input (core/pedri_analysis.py:526-593). Kept as a
    DataFrame; collect only the single match being rendered."""
    return events.filter(
        F.expr(f"{P.by_player_s(player_id)} AND {P.IS_PASS_S}")
    ).selectExpr(
        "match_id",
        f"{P.LOC_X_S} AS x1",
        f"{P.LOC_Y_S} AS y1",
        f"{P.END_X_S} AS x2",
        f"{P.END_Y_S} AS y2",
        f"{P.PASS_COMPLETED_V1_S} AS completed",
        f"{P.PROGRESSIVE_PASS_V1_S} AS progressive",
    )


def render_heatmap(heat_df: DataFrame, out_base: str) -> list[str]:
    """Render the heat grid to PNG+SVG (requires matplotlib)."""
    plt = _matplotlib()
    import numpy as np

    grid = np.zeros((HEAT_NY, HEAT_NX))
    for r in heat_df.collect():
        if 0 <= r.gx < HEAT_NX and 0 <= r.gy < HEAT_NY:
            grid[r.gy, r.gx] = r.intensity
    fig, ax = plt.subplots(figsize=(9, 6))
    ax.imshow(grid, origin="lower", extent=[0, P.PITCH_X, 0, P.PITCH_Y], aspect="auto")
    ax.set_title("event heatmap (log1p)")
    paths = [f"{out_base}.png", f"{out_base}.svg"]
    for p in paths:
        fig.savefig(p)
    plt.close(fig)
    return paths


def trend_per90_data(stats: DataFrame) -> DataFrame:
    """Per-match KP/90 and PP/90 trend-line input (reference
    core/pedri_analysis_extended.py:475-517): one row per match in
    match-id order with a 1-based match index for the x-axis.

    Scale: a pure projection over the per-match stats frame (one row per
    match) plus a global row_number — fine at any scale because the frame
    is |matches|, not |events|."""
    from pyspark.sql import Window as W

    w = W.orderBy("match_id")
    return stats.select(
        F.row_number().over(w).alias("idx"),
        "match_id",
        per90_rate("key_passes").alias("kp90"),
        per90_rate("progressive_passes").alias("pp90"),
    )


def scatter_pp_pc_data(stats: DataFrame) -> DataFrame:
    """PP-vs-PC scatter input (reference extended.py:520-540): progressive
    passes vs progressive carries per match, marker size ~ xA with the
    reference's 20.0 floor."""
    return stats.select(
        "match_id",
        "progressive_passes",
        "progressive_carries",
        "xa",
        F.greatest(F.lit(20.0), F.col("xa") * 300.0).alias("marker_size"),
    )


def radar_percentile_data(stats: DataFrame, metrics: list[str]) -> DataFrame:
    """Both radar rows at once (reference core/pedri_analysis.py:495-521):
    per-metric per-90 mean (the RAW radar) and the percentile rank of that
    mean within the player's own per-match distribution (the percentile
    radar: 100 * mean(value <= mean)).

    Two-phase: a 1-row means aggregate is broadcast back over the
    per-match frame for the rank comparison — no window, no sort.  Values
    are 6-dp floor-rounded (cross-engine double discipline)."""
    from pedri_analysis_spark.plans.pedri_pipeline import pround

    per90 = stats.select(*[per90_rate(c).alias(f"{c}_p90") for c in metrics])
    # the mean is an order-dependent double fold — round it to 6 dp
    # BEFORE the <= comparison so the percentile boundary is engine-
    # independent (per-match p90 values are per-row math, identical on
    # both engines; the mean is the only fold in the comparison)
    means = per90.agg(
        *[pround(F.avg(f"{c}_p90"), 6).alias(f"_m_{c}") for c in metrics]
    )
    joined = per90.crossJoin(F.broadcast(means))
    outs = []
    for c in metrics:
        outs.append(pround(F.first(f"_m_{c}"), 6).alias(f"{c}_p90_raw"))
        outs.append(
            pround(
                100.0
                * F.avg(
                    F.when(F.col(f"{c}_p90") <= F.col(f"_m_{c}"), 1.0).otherwise(0.0)
                ),
                6,
            ).alias(f"{c}_p90_pctile")
        )
    return joined.agg(*outs)


# --------------------------------------------------------------------------
# Renders: tiny collected frames → matplotlib, PNG+SVG pairs (reference
# _savefig, core/pedri_analysis.py:326-333).  All import-gated.
# --------------------------------------------------------------------------


def _save_both(fig, out_base: str) -> list[str]:
    paths = [f"{out_base}.png", f"{out_base}.svg"]
    for p in paths:
        fig.savefig(p, bbox_inches="tight")
    return paths


def render_bars(top_df: DataFrame, metric: str, out_base: str, title: str = "") -> list[str]:
    """Top-k bar chart (reference plot_bar, core/pedri_analysis.py:355-380)."""
    plt = _matplotlib()
    rows = top_df.collect()
    fig, ax = plt.subplots(figsize=(10, 6))
    ax.bar([str(r["match_id"]) for r in rows], [r[metric] for r in rows])
    ax.set_title(title or metric)
    ax.set_xlabel("Match ID")
    ax.set_ylabel("Value")
    ax.tick_params(axis="x", labelrotation=45)
    ax.grid(True, axis="y", linestyle=":", linewidth=0.7)
    out = _save_both(fig, out_base)
    plt.close(fig)
    return out


def render_histogram(hist_df: DataFrame, out_base: str, title: str = "") -> list[str]:
    """Pre-binned histogram bars (reference plot_hist,
    core/pedri_analysis.py:383-397 — binning happened in Spark)."""
    plt = _matplotlib()
    rows = sorted(hist_df.collect(), key=lambda r: r["bin_start"])
    if not rows:
        raise ValueError("empty histogram frame")
    width = (
        (rows[1]["bin_start"] - rows[0]["bin_start"]) if len(rows) > 1 else 1.0
    )
    fig, ax = plt.subplots(figsize=(10, 6))
    ax.bar(
        [r["bin_start"] for r in rows],
        [r["n"] for r in rows],
        width=width,
        align="edge",
        edgecolor="white",
        alpha=0.9,
    )
    ax.set_title(title)
    ax.set_ylabel("Count")
    ax.grid(True, axis="y", linestyle=":", linewidth=0.7)
    out = _save_both(fig, out_base)
    plt.close(fig)
    return out


def render_radar(radar_row, metrics: list[str], out_base: str, title: str = "", rmax=None) -> list[str]:
    """Polar radar (reference _radar_plot, core/pedri_analysis.py:459-486).
    ``radar_row`` is a collected 1-row mapping metric→value."""
    plt = _matplotlib()
    import math

    import numpy as np

    vals = [float(radar_row[m]) for m in metrics]
    angles = np.linspace(0, 2 * math.pi, len(metrics), endpoint=False).tolist()
    angles += angles[:1]
    closed = vals + [vals[0]]
    fig = plt.figure(figsize=(7.5, 7.5))
    ax = plt.subplot(111, polar=True)
    ax.set_theta_offset(math.pi / 2)
    ax.set_theta_direction(-1)
    if rmax is not None:
        ax.set_rlim(0, rmax)
    ax.set_thetagrids(np.degrees(np.array(angles[:-1])), metrics)
    ax.plot(angles, closed, linewidth=2)
    ax.fill(angles, closed, alpha=0.15)
    ax.set_title(title, pad=20)
    ax.grid(True, linestyle=":", linewidth=0.7)
    out = _save_both(fig, out_base)
    plt.close(fig)
    return out


def _draw_pitch(ax):
    """Minimalist 120×80 pitch overlay (reference _draw_pitch)."""
    from matplotlib.patches import Circle, Rectangle

    ax.add_patch(Rectangle((0, 0), 120, 80, fill=False, linewidth=1.2))
    ax.plot([60, 60], [0, 80], linewidth=1.0)
    ax.add_patch(Circle((60, 40), 9.15, fill=False, linewidth=1.0))
    ax.add_patch(Rectangle((0, 18), 18, 44, fill=False, linewidth=1.0))
    ax.add_patch(Rectangle((102, 18), 18, 44, fill=False, linewidth=1.0))
    ax.set_xlim(0, 120)
    ax.set_ylim(0, 80)
    ax.set_aspect("equal", adjustable="box")


def render_pass_map(segments_df: DataFrame, out_base: str, progressive_only: bool = False, title: str = "") -> list[str]:
    """Quiver pass map (reference _plot_pass_map,
    core/pedri_analysis.py:546-569).  Collect only the (already filtered)
    segment rows — at scale pass maps are rendered per match, never for
    the full corpus."""
    plt = _matplotlib()

    df = segments_df
    if progressive_only:
        df = df.filter(F.col("progressive"))
    rows = [r for r in df.collect() if r["x2"] is not None and r["x1"] is not None]
    fig, ax = plt.subplots(figsize=(11, 6.5))
    _draw_pitch(ax)
    if rows:
        ax.quiver(
            [r["x1"] for r in rows],
            [r["y1"] for r in rows],
            [r["x2"] - r["x1"] for r in rows],
            [r["y2"] - r["y1"] for r in rows],
            angles="xy",
            scale_units="xy",
            scale=1,
            width=0.002,
            alpha=0.6,
        )
    ax.set_title(title)
    out = _save_both(fig, out_base)
    plt.close(fig)
    return out


def render_trend(trend_df: DataFrame, out_base: str, title: str = "KP/90 and PP/90") -> list[str]:
    """Per-match per-90 trend lines (reference plot_trends,
    core/pedri_analysis_extended.py:475-517)."""
    plt = _matplotlib()
    rows = sorted(trend_df.collect(), key=lambda r: r["idx"])
    fig, ax = plt.subplots(figsize=(12, 6))
    xs = [r["idx"] for r in rows]
    ax.plot(xs, [r["kp90"] for r in rows], marker="o", linewidth=2.2, label="Key Passes/90")
    ax.plot(xs, [r["pp90"] for r in rows], marker="s", linewidth=2.2, label="Progressive Passes/90")
    ax.set_xlabel("Match (index)")
    ax.set_ylabel("Per-90 value")
    ax.set_title(title)
    ax.grid(True, linestyle="--", alpha=0.35)
    ax.legend()
    out = _save_both(fig, out_base)
    plt.close(fig)
    return out


def render_scatter(scatter_df: DataFrame, out_base: str, title: str = "PP vs PC (size ~ xA)") -> list[str]:
    """PP-vs-PC scatter (reference plot_scatter_pp_vs_pc,
    core/pedri_analysis_extended.py:520-540)."""
    plt = _matplotlib()
    rows = scatter_df.collect()
    fig, ax = plt.subplots(figsize=(9, 7))
    ax.scatter(
        [r["progressive_passes"] for r in rows],
        [r["progressive_carries"] for r in rows],
        s=[r["marker_size"] for r in rows],
        alpha=0.55,
        linewidths=0.8,
        edgecolors="face",
    )
    ax.set_xlabel("Progressive Passes (per match)")
    ax.set_ylabel("Progressive Carries (per match)")
    ax.set_title(title)
    ax.grid(True, linestyle="--", alpha=0.35)
    out = _save_both(fig, out_base)
    plt.close(fig)
    return out
