"""The Pedri analytics pipelines — the reference's flagship workloads
rebuilt as composable DataFrame stages (SURVEY §3.2/§3.3).

Reference architecture: four sequential passes over a Python list per
match (core/pedri_analysis_extended.py:209-384) plus a separate basic
analyzer (core/pedri_analysis.py:231-299).  Rebuild architecture: one
events DataFrame, branched into per-concern aggregates (direction, main
counters, xA join, receptions, counter-press) that are joined back on
``match_id`` — Catalyst fuses the narrow stages and each branch is a
single partial+final hash aggregate.

The basic per-match measures (the stat counters, the minutes estimate
O6 and the Starting-XI pick P15) have one definition:
``_player_match_agg``, one hash aggregate per match. ``per_match_basic``,
``minutes_estimate``, ``lineup_position``, ``profile_rows`` and
``lineup_report`` are filters and projections of it; Catalyst prunes the
aggregate columns a projection does not read.

Deliberate semantics fix (documented per SURVEY §7 watch-list): the
reference memoizes attack direction per *team name*, first match wins
(core/pedri_analysis_extended.py:214-223) — an iteration-order-dependent
quirk.  Here direction is computed per (match, team), which is the
correct per-match semantics.

Rounding: final metric columns use ``pround`` — ``floor(x*10^n + 0.5) /
10^n`` on the double lattice — the one formula that evaluates to the SAME
IEEE result in Spark and DuckDB (F6 rounding parity).  ``bround``
(HALF_EVEN via Java BigDecimal's shortest-decimal repr) and DuckDB
``round`` (half away from zero) disagree whenever a metric lands exactly
on a representable .5 boundary, e.g. 9/16 passes → 56.25 → 56.2 vs 56.3;
the floor form is deterministic cross-engine because *, +, floor and /
are all IEEE-754-defined on doubles.  Deviation from the reference's
Python ``round()`` (HALF_EVEN) exists only on those exact boundaries and
is documented here as a cross-engine determinism trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.functions import predicates as P

FIVE_SECONDS_MIN = 5.0 / 60.0


def pround(c: str | Column, ndigits: int) -> Column:
    """Cross-engine parity rounding: floor(x * 10^n + 0.5) / 10^n.

    Mirror every use of this with the identical textual formula in the
    oracle SQL (see _R_SQL in plans.pedri_queries); both engines then run
    the same IEEE double ops in the same order.  Same pattern as
    operators.similarity.round6."""
    col = F.col(c) if isinstance(c, str) else c
    f = F.lit(float(10**ndigits))
    return F.floor(col * f + F.lit(0.5)) / f


def _cnt_s(pred: str) -> str:
    """Row count where SQL-text ``pred`` holds (one parse, see predicates.py)."""
    return f"sum(CASE WHEN {pred} THEN 1 ELSE 0 END)"


_CARRY_OK_S = (
    f"({P.IS_CARRY_S} AND {P.END_X_S} IS NOT NULL"
    f" AND {P.LOC_X_S} IS NOT NULL)"
)


def _carry_dist_s(me: str) -> str:
    """Length of a carry of the player's with both ends known, else NULL."""
    return (
        f"(CASE WHEN {me} AND {_CARRY_OK_S}"
        f" THEN {P.euclid_s(P.LOC_X_S, P.LOC_Y_S, P.END_X_S, P.END_Y_S)} END)"
    )


def _xg_sum_s(xg: str) -> str:
    """Sum of an xG expression as a DOUBLE, 0 when there is none. Summed
    in DECIMAL, which is exact and so independent of the fold order: the
    oracle's sum gives the same double."""
    return f"coalesce(CAST(sum(CAST({xg} AS DECIMAL(18,10))) AS DOUBLE), 0.0e0)"


def _pct(num: str, den: str) -> Column:
    """100 * num / den at 1 dp; 0 when den is 0."""
    return F.when(
        F.col(den) > 0, pround(100.0 * F.col(num) / F.col(den), 1)
    ).otherwise(0.0)


def attack_directions(events: DataFrame) -> DataFrame:
    """Per (match_id, team): does the team attack left→right?  Mean Δx of
    completed first-half passes >= 0 (reference extended.py:89-107; J4/A7).

    Scale: a narrow filtered aggregate over (match, team) — broadcast the
    result back to the event stream.  Built from the SQL-text predicates
    (predicates.py) — one parse instead of hundreds of py4j calls."""
    dx = f"({P.END_X_S} - {P.LOC_X_S})"
    return (
        events.filter(
            F.expr(
                f"{P.PASS_COMPLETED_V2_S} AND period = 1 AND {dx} IS NOT NULL"
            )
        )
        .groupBy("match_id", F.col("team.name").alias("team"))
        .agg(F.expr(f"avg({dx}) >= 0").alias("attacks_right"))
    )


def with_direction(events: DataFrame) -> DataFrame:
    """Events + their team's *effective* ``attacks_right`` flag for the
    event's period: the base direction is inferred from first-half passes,
    and teams switch ends at halftime, so period 2 flips it (reference
    extended.py:261-263). Default True when the team has no qualifying
    first-half passes."""
    dirs = (
        attack_directions(events)
        .withColumnRenamed("team", "_dir_team")
        .withColumnRenamed("match_id", "_dir_match")
    )
    return (
        events.join(
            F.broadcast(dirs),
            (F.col("match_id") == F.col("_dir_match"))
            & (F.col("team")["name"] == F.col("_dir_team")),
            "left",
        )
        .drop("_dir_match")
        .drop("_dir_team")
        .withColumn(
            "attacks_right",
            F.expr(
                "CASE WHEN coalesce(period, 1) = 2"
                " THEN NOT coalesce(attacks_right, true)"
                " ELSE coalesce(attacks_right, true) END"
            ),
        )
    )


def _player_match_agg(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """The ONE per-match aggregate of the player's measures (A1, O6, P15):
    every row that is the player's event, the player's sub-on, or a
    Starting XI row, grouped by match in one hash aggregate. Unfiltered:
    a match with a Starting XI row but no player event keeps its group
    (``_me_n`` = 0), which ``lineup_position`` needs. The public builders
    are filters + projections of it; Catalyst prunes the aggregate columns
    a projection does not read.

    - ``_t_first`` / ``_t_last`` / ``_on_min`` / ``_off_min``: the minutes
      estimate's span (reference core/pedri_analysis.py:201-218) as
      conditional min/max;
    - ``_xi``: the Starting-XI pick (reference analysis.py:190-198) as an
      ordered struct-min: min over (t, id, pos) structs is lexicographic,
      so ``["pos"]`` of the minimum is the first qualifying row by (t, id).

    Aggregates are SQL text (predicates.py) — one parse per column instead
    of thousands of py4j calls."""
    me = P.by_player_s(player_id)
    t = P.EVENT_TIME_MIN_S
    is_sub = P.is_type_s("Substitution")
    sub_on = f"({is_sub} AND substitution.replacement.id = {player_id})"
    xi_entry = (
        f"filter(tactics.lineup, p -> p.player.id = {player_id}"
        f" OR p.player_id = {player_id})"
    )
    xi_pos = (
        f"(CASE WHEN size({xi_entry}) > 0"
        f" THEN {xi_entry}[0].position.name END)"
    )
    xi_pick = (
        f"min(CASE WHEN {P.is_type_s('Starting XI')} AND {xi_pos} IS NOT NULL"
        f" THEN named_struct('t', {t}, 'id', id, 'pos', {xi_pos}) END)"
    )
    base = events.filter(
        F.expr(f"{me} OR {sub_on} OR {P.is_type_s('Starting XI')}")
    )
    aggs = [
        (_cnt_s(me), "_me_n"),
        (_cnt_s(f"{me} AND {P.IS_PASS_S}"), "passes"),
        (_cnt_s(f"{me} AND {P.PASS_COMPLETED_V1_S}"), "passes_completed"),
        (_cnt_s(f"{me} AND {P.IS_KEY_PASS_V1_S}"), "key_passes"),
        (_cnt_s(f"{me} AND {P.PROGRESSIVE_PASS_V1_S}"), "progressive_passes"),
        (_cnt_s(f"{me} AND {P.IS_SHOT_S}"), "shots"),
        (
            _cnt_s(f"{me} AND {P.IS_SHOT_S} AND shot.outcome.name = 'Goal'"),
            "goals",
        ),
        (_xg_sum_s(f"CASE WHEN {me} THEN shot.statsbomb_xg END"), "_xg_raw"),
        (_cnt_s(f"{me} AND {P.IS_DRIBBLE_S}"), "dribbles"),
        (_cnt_s(f"{me} AND {P.SUCCESSFUL_DRIBBLE_S}"), "dribbles_successful"),
        (_cnt_s(f"{me} AND {P.IS_CARRY_S}"), "carries"),
        (f"coalesce(sum({_carry_dist_s(me)}), 0.0e0)", "_carry_raw"),
        (_cnt_s(f"{me} AND {P.IS_PRESSURE_S}"), "pressures"),
        (_cnt_s(f"{me} AND {P.IS_TACKLE_V1_S}"), "tackles"),
        (_cnt_s(f"{me} AND {P.IS_INTERCEPTION_S}"), "interceptions"),
        (_cnt_s(f"{me} AND {P.IS_BALL_RECOVERY_S}"), "ball_recoveries"),
        (f"min(CASE WHEN {me} THEN match_date END)", "match_date"),
        (f"min(CASE WHEN {me} THEN {t} END)", "_t_first"),
        (f"max(CASE WHEN {me} THEN {t} END)", "_t_last"),
        (f"min(CASE WHEN {sub_on} THEN {t} END)", "_on_min"),
        (f"min(CASE WHEN {me} AND {is_sub} THEN {t} END)", "_off_min"),
        (xi_pick, "_xi"),
    ]
    return base.groupBy("match_id").agg(*[F.expr(s).alias(n) for s, n in aggs])


def _minutes_est() -> Column:
    """minutes = clamp(end - start, 10, 95) over the aggregate's span:
    start = sub-on minute else the player's first event time, end =
    sub-off minute else their last event time (SURVEY O6)."""
    return F.least(
        F.greatest(
            F.coalesce("_off_min", "_t_last") - F.coalesce("_on_min", "_t_first"),
            F.lit(10.0),
        ),
        F.lit(95.0),
    )


def _minutes(est: str | Column) -> Column:
    """The reported minutes: the estimate, 90 when absent, 1 dp."""
    return pround(F.coalesce(est, F.lit(90.0)), 1)


def minutes_estimate(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """Per-match minutes-played estimate (SURVEY O6, reference
    core/pedri_analysis.py:201-218), one row per match the player appears
    in: a projection of the per-match aggregate."""
    return (
        _player_match_agg(events, player_id)
        .filter(F.col("_me_n") > 0)
        .select("match_id", _minutes_est().alias("minutes_est"))
    )


def lineup_position(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """Starting-XI position lookup (P15, reference analysis.py:190-198),
    one row per match whose Starting XI names the player: a projection of
    the per-match aggregate's first-row pick."""
    return (
        _player_match_agg(events, player_id)
        .filter(F.col("_xi").isNotNull())
        .select("match_id", F.col("_xi")["pos"].alias("position_xi"))
    )


def player_team(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """The player's team per match = mode of team.name over their events
    (A6, reference extended.py:209-212); ties break lexicographically."""
    counts = (
        events.filter(
            F.expr(f"{P.by_player_s(player_id)} AND team.name IS NOT NULL")
        )
        .groupBy("match_id", F.col("team.name").alias("team"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("match_id").orderBy(F.desc("n"), F.asc("team"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("match_id", "team")
    )


def per_match_basic(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """The basic per-match stat row (A1, reference
    core/pedri_analysis.py:231-299): ~15 measures, the minutes estimate
    and the Starting-XI position, all from the one per-match aggregate,
    over the matches with ≥1 player event.

    Scale: predicate counters are `sum(when(pred,1))` — partial aggregation
    collapses each partition before the shuffle; the whole row set is
    |matches| ≈ tiny."""
    return (
        _player_match_agg(events, player_id)
        .filter(F.col("_me_n") > 0)
        .withColumn("pass_pct", _pct("passes_completed", "passes"))
        .withColumn("dribble_pct", _pct("dribbles_successful", "dribbles"))
        .withColumn("xg", pround("_xg_raw", 3))
        .withColumn("carry_distance", pround("_carry_raw", 1))
        .withColumn("minutes", _minutes(_minutes_est()))
        .withColumn("position", F.coalesce(F.col("_xi")["pos"], F.lit("Unknown")))
        .drop(
            "_xg_raw", "_carry_raw", "_me_n", "_t_first", "_t_last",
            "_on_min", "_off_min", "_xi",
        )
    )


def profile_rows(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """The per-match profile rows that the extended analysis reads back as
    its JSON side input (reference core/pedri_profile.py:20-50):
    (match_id, team, minutes, position) per match the player has a team
    in — ``player_team`` plus the per-match aggregate's minutes and
    Starting-XI position, one left join. Position is NULL when the player
    was not in the Starting XI (a sub-on appearance)."""
    measures = _player_match_agg(events, player_id).select(
        "match_id",
        _minutes_est().alias("minutes_est"),
        F.col("_xi")["pos"].alias("position"),
    )
    return (
        player_team(events, player_id)
        .join(measures, "match_id", "left")
        .select("match_id", "team", _minutes("minutes_est").alias("minutes"), "position")
    )


def lineup_report(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """Position-distribution report (reference
    core/pedri_inspect_lineups.py:59-83): matches per Starting-XI position
    and the first ≤10 of their match ids, ascending, as an array.
    collect_list is safe here: the grain is one row per match."""
    preview = F.slice(F.sort_array(F.collect_list("match_id")), 1, 10)
    return (
        lineup_position(events, player_id)
        .groupBy(F.col("position_xi").alias("position"))
        .agg(F.count(F.lit(1)).alias("n_matches"), preview.alias("match_ids_preview"))
    )


def match_date_ts(col: str = "match_date") -> Column:
    """A match date parsed from any of the reference's three formats
    (core/pedri_analysis.py:621-634); NULL when none fits. Sorting on the
    string would put dd/MM/yyyy dates in the wrong place."""
    return F.coalesce(
        *[
            F.expr(f"try_to_timestamp({col}, '{fmt}')")
            for fmt in ("yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy")
        ]
    )


def xa_per_match(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """xA: shots probe their key pass by id; if the pass was the player's,
    credit the shot's xG (J1, reference extended.py:226-253). A plain
    equi-join — Catalyst broadcasts the pass side when small; at scale both
    sides shuffle on the pass id."""
    shots = events.filter(
        F.expr(f"{P.IS_SHOT_S} AND shot.key_pass_id IS NOT NULL")
    ).selectExpr(
        "match_id AS s_match",
        "shot.key_pass_id AS kp_id",
        "shot.statsbomb_xg AS s_xg",
    )
    passes = events.filter(
        F.expr(f"{P.IS_PASS_S} AND {P.by_player_s(player_id)}")
    ).selectExpr("match_id AS p_match", "id AS p_id")
    return (
        shots.join(
            passes,
            (shots.kp_id == passes.p_id) & (shots.s_match == passes.p_match),
        )
        .groupBy(F.col("s_match").alias("match_id"))
        .agg(F.expr(_xg_sum_s("s_xg")).alias("xa_raw"))
    )


def receptions_per_match(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """Progressive receptions (J6, reference extended.py:340-354): completed
    progressive passes (direction of the PASSING team) received by the
    player."""
    ev = with_direction(events)
    pred = (
        f"pass.recipient.id = {player_id}"
        f" AND {P.PASS_COMPLETED_V2_S}"
        f" AND {P.progressive_v2_s('attacks_right')}"
    )
    return (
        ev.filter(F.expr(pred))
        .groupBy("match_id")
        .agg(F.count(F.lit(1)).alias("progressive_receptions"))
    )


def counterpress_per_match(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """Counter-pressures (J5/O5, reference extended.py:357-384): the
    player's Pressure events within [0, 5 s] AFTER one of their own
    turnovers, same match+period, bounds inclusive; each pressure credited
    at most once (left-semi join ≡ the reference's `break`).

    Scale: equi-keys (match, period) + time-range residual — a range join,
    shuffle on the equi keys only. The streaming analogue is a
    watermarked stream-stream interval join (streaming module)."""
    t = P.EVENT_TIME_MIN_S
    losses = events.filter(
        F.expr(f"{P.IS_TURNOVER_S} AND {P.by_player_s(player_id)}")
    ).selectExpr(
        "match_id AS l_match", "period AS l_period", f"{t} AS l_t"
    )
    pressures = events.filter(
        F.expr(f"{P.IS_PRESSURE_S} AND {P.by_player_s(player_id)}")
    ).selectExpr(
        "match_id AS match_id", "period AS p_period", f"{t} AS p_t"
    )
    hit = pressures.join(
        losses,
        (F.col("match_id") == F.col("l_match"))
        & (F.col("p_period") == F.col("l_period"))
        & (F.col("p_t") >= F.col("l_t"))
        & (F.col("p_t") <= F.col("l_t") + FIVE_SECONDS_MIN),
        "left_semi",
    )
    return hit.groupBy("match_id").agg(F.count(F.lit(1)).alias("counter_pressures"))


def team_xg_per_match(events: DataFrame, player_id: int = P.PLAYER_ID) -> DataFrame:
    """team_total_xg: xG of ALL shots by the player's team — aggregated
    before any player filter (the §7 watch-list trap)."""
    teams = player_team(events, player_id)
    shots = events.filter(F.expr(P.IS_SHOT_S)).selectExpr(
        "match_id", "team.name AS shot_team", "shot.statsbomb_xg AS xg"
    )
    return (
        shots.join(F.broadcast(teams), "match_id")
        .filter(F.col("shot_team") == F.col("team"))
        .groupBy("match_id")
        .agg(F.expr(_xg_sum_s("xg")).alias("team_total_xg_raw"))
    )


def per_match_extended(
    events: DataFrame, profile: DataFrame | None = None, player_id: int = P.PLAYER_ID
) -> DataFrame:
    """The extended per-match row (A2, reference extended.py:199-436):
    direction-aware pass/carry metrics + xA + receptions + counter-press +
    team xG, assembled from independent branch aggregates joined on
    match_id (the reference's four sequential passes become four parallel
    DataFrame branches off one scan)."""
    ev = with_direction(events)
    me = P.by_player_s(player_id)
    ar = "attacks_right"
    pcv2 = P.PASS_COMPLETED_V2_S
    prog = P.progressive_v2_s(ar)
    # The reference's receptions pass (extended.py:340-354) reads the SAME
    # direction-joined stream as the main loop, just without the player
    # filter (the pass is a teammate's; only the recipient is the player).
    # Folding it into the one hash aggregate removes a second full scan and
    # a join: group the union of (player rows | rows received by player),
    # conjoin every main-loop predicate with `me`, and post-filter to
    # matches where the player actually appeared (preserving the row set of
    # the old main ⟕ receptions join).
    # Aggregates are SQL text (predicates.py) — one parse per
    # column instead of thousands of py4j calls (r15 driver-cost fix).
    reception = f"(pass.recipient.id = {player_id} AND {pcv2} AND {prog})"
    base = ev.filter(F.expr(f"{me} OR pass.recipient.id = {player_id}"))
    aggs = [
        (_cnt_s(me), "_me_n"),
        (_cnt_s(f"{me} AND {P.IS_PASS_S}"), "passes"),
        (_cnt_s(f"{me} AND {pcv2}"), "passes_completed"),
        (_cnt_s(f"{me} AND {pcv2} AND {prog}"), "progressive_passes"),
        (
            _cnt_s(f"{me} AND {pcv2} AND {P.in_final_third_s(P.END_X_S, ar)}"),
            "final_third_passes",
        ),
        (
            _cnt_s(
                f"{me} AND {pcv2}"
                f" AND {P.in_penalty_area_s(P.END_X_S, P.END_Y_S, ar)}"
            ),
            "penalty_area_passes",
        ),
        (_cnt_s(f"{me} AND {P.deep_completion_s(ar)}"), "deep_completions"),
        (_cnt_s(f"{me} AND {P.SWITCH_OF_PLAY_S}"), "switches"),
        (_cnt_s(f"{me} AND {P.IS_CROSS_S}"), "crosses"),
        (_cnt_s(f"{me} AND {P.IS_KEY_PASS_V2_S}"), "key_passes"),
        (_cnt_s(f"{me} AND {pcv2} AND pass.goal_assist = true"), "assists"),
        (
            _cnt_s(f"{me} AND {P.UNDER_PRESSURE_COMPLETED_PASS_S}"),
            "passes_under_pressure",
        ),
        (_cnt_s(f"{me} AND {P.IS_SHOT_S}"), "shots"),
        (
            _cnt_s(f"{me} AND {P.IS_SHOT_S} AND shot.outcome.name = 'Goal'"),
            "goals",
        ),
        (_xg_sum_s(f"CASE WHEN {me} THEN shot.statsbomb_xg END"), "xg_raw"),
        (_cnt_s(f"{me} AND {P.IS_DRIBBLE_S}"), "dribbles"),
        (_cnt_s(f"{me} AND {P.SUCCESSFUL_DRIBBLE_S}"), "dribbles_successful"),
        (_cnt_s(f"{me} AND {P.IS_CARRY_S}"), "carries"),
        (f"coalesce(sum({_carry_dist_s(me)}), 0.0e0)", "carry_distance_raw"),
        (_cnt_s(f"{me} AND {_CARRY_OK_S} AND {prog}"), "progressive_carries"),
        (_cnt_s(f"{me} AND {P.IS_TACKLE_V2_S}"), "tackles"),
        (_cnt_s(f"{me} AND {P.IS_INTERCEPTION_S}"), "interceptions"),
        (_cnt_s(f"{me} AND {P.IS_BALL_RECOVERY_S}"), "ball_recoveries"),
        (_cnt_s(f"{me} AND {P.IS_PRESSURE_S}"), "pressures"),
        (_cnt_s(f"{me} AND {P.IS_TURNOVER_S}"), "turnovers"),
        (_cnt_s(reception), "progressive_receptions"),
    ]
    main = (
        base.groupBy("match_id")
        .agg(*[F.expr(s).alias(n) for s, n in aggs])
        .filter(F.col("_me_n") > 0)
        .drop("_me_n")
    )
    out = (
        main.join(xa_per_match(events, player_id), "match_id", "left")
        .join(counterpress_per_match(events, player_id), "match_id", "left")
        .join(team_xg_per_match(events, player_id), "match_id", "left")
        .fillna(
            {
                "xa_raw": 0.0,
                "counter_pressures": 0,
                "team_total_xg_raw": 0.0,
            }
        )
    )
    out = (
        out.withColumn("pass_pct", _pct("passes_completed", "passes"))
        .withColumn("dribble_pct", _pct("dribbles_successful", "dribbles"))
        .withColumn("xg", pround("xg_raw", 3))
        .withColumn("xa", pround("xa_raw", 3))
        .withColumn("team_total_xg", pround("team_total_xg_raw", 3))
        .withColumn("carry_distance", pround("carry_distance_raw", 1))
        .withColumn(
            "xg_share",
            F.when(
                F.col("team_total_xg_raw") > 0,
                pround(F.col("xg_raw") / F.col("team_total_xg_raw") * 100.0, 1),
            ).otherwise(0.0),
        )
        .drop("xg_raw", "xa_raw", "team_total_xg_raw", "carry_distance_raw")
    )
    if profile is not None:
        out = (
            out.join(F.broadcast(profile), "match_id", "left")
            .withColumn("minutes", F.coalesce("minutes", F.lit(90.0)))
            .withColumn("team", F.coalesce("team", F.lit("Unknown")))
            .withColumn("position", F.coalesce("position", F.lit("Unknown")))
        )
    return out


def season_summary_basic(stats: DataFrame) -> DataFrame:
    """Season rollup of the basic table (A3, reference analysis.py:664-691):
    sums + the weighted completion rate 100*Σcompleted/Σattempted."""
    sums = [
        F.sum(c).alias(f"total_{c}")
        for c in (
            "passes",
            "passes_completed",
            "key_passes",
            "progressive_passes",
            "shots",
            "goals",
            "dribbles",
            "carries",
            "pressures",
            "tackles",
            "interceptions",
            "ball_recoveries",
        )
    ]
    out = stats.agg(
        F.count(F.lit(1)).alias("matches"),
        *sums,
        pround(F.sum("xg"), 3).alias("total_xg"),
        pround(F.sum("minutes"), 1).alias("total_minutes"),
    )
    return out.withColumn(
        "pass_pct",
        F.when(
            F.col("total_passes") > 0,
            pround(100.0 * F.col("total_passes_completed") / F.col("total_passes"), 1),
        ).otherwise(0.0),
    )


def per90(stats: DataFrame, cols: list[str]) -> DataFrame:
    """Totals + per-90 rates (A4, reference extended.py:620-649)."""
    total_min = F.sum("minutes")
    aggs = [F.sum(c).alias(f"total_{c}") for c in cols]
    out = stats.agg(total_min.alias("total_minutes"), *aggs)
    for c in cols:
        out = out.withColumn(
            f"{c}_per90",
            F.when(
                F.col("total_minutes") > 0,
                pround(F.col(f"total_{c}") / F.col("total_minutes") * 90.0, 2),
            ).otherwise(0.0),
        )
    return out
