"""The reference's row-level predicates/extractors as Spark SQL text
(SURVEY §2.2 P1-P16, §2.7 F1-F10).

Every one of the reference's ~25 Python row functions is arithmetic /
boolean / string logic, so all of them compile to Catalyst expressions —
zero Python in the row path, full whole-stage codegen. Null tolerance is
free: Spark struct access on a missing/NULL branch yields NULL, which is
exactly the reference's ``safe_get`` semantics
(reference core/pedri_analysis.py:67-74).

Where the reference has two divergent definitions of the same concept the
rebuild keeps both, parameterized (SURVEY §7 watch-list: P5 completed-pass
and P8 progressive-pass each have a v1/v2).
"""

from __future__ import annotations

PLAYER_ID = 30486  # the reference's single-player focus (pedri_analysis.py:77)

# Pitch constants (StatsBomb 120x80; reference core/pedri_analysis.py:398-413,
# core/pedri_analysis_extended.py:26,454-472)
PITCH_X = 120.0
PITCH_Y = 80.0


# ---------------------------------------------------------------------------
# One form only: SQL text (Spark SQL dialect) — one-parse plan construction.
#
# Composing the pedri per-match aggregates from py4j Column operators costs
# ~7,000 socket round trips (~2.5-4.5 s of driver time PER QUERY, profiled
# r15: `send_command` dominates, not Catalyst) because every `&`, `==`,
# `F.col` is its own JVM call.  The same expression written as ONE SQL
# string costs one parse.  Same lesson as the one-parse kmeans assignment
# build (operators/clustering.py).  Callers splice these strings into a
# single `F.expr` / SQL aggregate per column.
#
# Literal conventions: `e0` suffix = DOUBLE literal (a bare `2.5` parses as
# DECIMAL); the location extractors are implicit-NULL CASE forms (no ELSE),
# so a short or missing coordinate array yields NULL.
# The pedri oracle contract proves the assembled queries end to end.
# ---------------------------------------------------------------------------


def is_type_s(name: str) -> str:
    return f"(type.name = '{name}')"


def by_player_s(player_id: int = PLAYER_ID) -> str:
    return f"(player.id = {player_id})"


IS_PASS_S = is_type_s("Pass")
IS_SHOT_S = is_type_s("Shot")
IS_DRIBBLE_S = is_type_s("Dribble")
IS_CARRY_S = is_type_s("Carry")
IS_PRESSURE_S = is_type_s("Pressure")
IS_INTERCEPTION_S = is_type_s("Interception")
IS_BALL_RECOVERY_S = is_type_s("Ball Recovery")
IS_TACKLE_V1_S = f"({is_type_s('Duel')} AND duel.type.name = 'Tackle')"
IS_TACKLE_V2_S = is_type_s("Tackle")
IS_TURNOVER_S = "(type.name IN ('Miscontrol', 'Dispossessed'))"

PASS_COMPLETED_V1_S = (
    f"({IS_PASS_S} AND (pass.outcome.name IS NULL"
    f" OR pass.outcome.name = 'Complete'))"
)
PASS_COMPLETED_V2_S = f"({IS_PASS_S} AND pass.outcome IS NULL)"

IS_KEY_PASS_V1_S = (
    f"({IS_PASS_S} AND (pass.shot_assist = true"
    f" OR pass.assisted_shot_id IS NOT NULL))"
)
IS_KEY_PASS_V2_S = (
    f"({PASS_COMPLETED_V2_S} AND (pass.assisted_shot_id IS NOT NULL"
    f" OR pass.shot_assist = true OR pass.goal_assist = true))"
)

# location extraction (P7; reference core/pedri_analysis.py:136-151)
LOC_X_S = "(CASE WHEN size(location) >= 2 THEN CAST(location[0] AS DOUBLE) END)"
LOC_Y_S = "(CASE WHEN size(location) >= 2 THEN CAST(location[1] AS DOUBLE) END)"
_END_LOC_S = (
    "(CASE WHEN type.name = 'Pass' THEN pass.end_location"
    " WHEN type.name = 'Carry' THEN carry.end_location END)"
)
END_X_S = (
    f"(CASE WHEN size({_END_LOC_S}) >= 2 THEN CAST({_END_LOC_S}[0] AS DOUBLE) END)"
)
END_Y_S = (
    f"(CASE WHEN size({_END_LOC_S}) >= 2 THEN CAST({_END_LOC_S}[1] AS DOUBLE) END)"
)


def euclid_s(x1: str, y1: str, x2: str, y2: str) -> str:
    return f"SQRT(POWER({x2} - {x1}, 2) + POWER({y2} - {y1}, 2))"


def toward_goal_dx_s(sx: str, ex: str, attacks_right: str) -> str:
    return f"(CASE WHEN {attacks_right} THEN {ex} - {sx} ELSE {sx} - {ex} END)"


EVENT_TIME_MIN_S = (
    "(CAST(coalesce(minute, 0) AS DOUBLE)"
    " + CAST(coalesce(second, 0) AS DOUBLE) / 60.0e0)"
)

PROGRESSIVE_PASS_V1_S = (
    f"({IS_PASS_S} AND ({END_X_S} - {LOC_X_S}) IS NOT NULL"
    f" AND {END_X_S} - {LOC_X_S} >= 10"
    f" AND {END_X_S} - {LOC_X_S} > ABS({END_Y_S} - {LOC_Y_S}))"
)


def _goal_x_s(attacks_right: str) -> str:
    return f"(CASE WHEN {attacks_right} THEN 120.0e0 ELSE 0.0e0 END)"


def progressive_v2_s(attacks_right: str) -> str:
    gx = _goal_x_s(attacks_right)
    d_start = euclid_s(LOC_X_S, LOC_Y_S, gx, "40.0e0")
    d_end = euclid_s(END_X_S, END_Y_S, gx, "40.0e0")
    fwd = toward_goal_dx_s(LOC_X_S, END_X_S, attacks_right)
    return (
        f"({LOC_X_S} IS NOT NULL AND {END_X_S} IS NOT NULL"
        f" AND {fwd} >= 10 AND {d_end} <= {d_start} * 0.7e0)"
    )


def in_final_third_s(x: str, attacks_right: str) -> str:
    return f"(CASE WHEN {attacks_right} THEN {x} >= 80.0e0 ELSE {x} <= 40 END)"


def in_penalty_area_s(x: str, y: str, attacks_right: str) -> str:
    in_y = f"({y} >= 18 AND {y} <= 62)"
    return (
        f"(CASE WHEN {attacks_right} THEN {x} >= 102.0e0 AND {in_y}"
        f" ELSE {x} <= 18 AND {in_y} END)"
    )


def deep_completion_s(attacks_right: str) -> str:
    gx = _goal_x_s(attacks_right)
    not_cross = "(pass.cross IS NULL OR pass.cross = false)"
    return (
        f"({PASS_COMPLETED_V2_S} AND {not_cross} AND {END_X_S} IS NOT NULL"
        f" AND {euclid_s(END_X_S, END_Y_S, gx, '40.0e0')} < 20)"
    )


SWITCH_OF_PLAY_S = (
    f"({PASS_COMPLETED_V2_S} AND {LOC_X_S} IS NOT NULL AND {END_X_S} IS NOT NULL"
    f" AND ABS({END_Y_S} - {LOC_Y_S}) >= 40"
    f" AND {euclid_s(LOC_X_S, LOC_Y_S, END_X_S, END_Y_S)} >= 30)"
)

SUCCESSFUL_DRIBBLE_S = f"({IS_DRIBBLE_S} AND dribble.outcome.name = 'Complete')"
UNDER_PRESSURE_COMPLETED_PASS_S = (
    f"({PASS_COMPLETED_V2_S} AND under_pressure = true)"
)
IS_CROSS_S = f"({IS_PASS_S} AND pass.cross = true)"
