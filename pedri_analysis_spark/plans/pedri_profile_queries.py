"""Profile-building and lineup-inspection workloads (SURVEY §3 adjuncts).

Reference semantics:
- ``pedri_profile_build`` assembles the per-match profile rows that the
  extended analysis consumes as its JSON side input — team (mode of the
  player's event teams), minutes estimate, Starting-XI position — i.e. it
  *produces* what ``sources.events.load_profile`` *consumes*.  Reference:
  core/pedri_profile.py:20-50 (match scan + position lookup) combined
  with the per-match team/minutes derivations of
  core/pedri_analysis.py:201-218 (minutes) and
  core/pedri_analysis_extended.py:209-212 (team).
- ``pedri_lineup_positions`` is the position-distribution report of
  core/pedri_inspect_lineups.py:59-83: matches per Starting-XI position
  plus a ≤10-match-id preview per position (ascending match id — the
  reference previews in sorted-file order, which is the same order).

Both call the pipeline's builders (``profile_rows`` / ``lineup_report``),
which ``run_all`` calls too; the per-match measures under them come from
the one per-match aggregate of ``plans.pedri_pipeline``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.plans.pedri_pipeline import lineup_report, profile_rows
from pedri_analysis_spark.plans.pedri_queries import _EVT, PID, _events
from pedri_analysis_spark.plans.registry import query_table

QUERIES, ORACLE_SQL, _register = query_table()


# Shared CTEs: the player's team per match (mode of team.name over their
# events, lexicographic tie-break) and the Starting-XI position (first
# Starting-XI row per match; entry matched on player.id OR player_id).
_TEAM_CTE = f"""
  tm AS (
    SELECT match_id, team FROM (
      SELECT match_id, team."name" AS team,
             row_number() OVER (
               PARTITION BY match_id
               ORDER BY count(*) DESC, team."name" ASC
             ) AS rn
      FROM evt
      WHERE player."id" = {PID} AND team."name" IS NOT NULL
      GROUP BY match_id, team."name"
    ) WHERE rn = 1
  )
"""

_XI_CTE = f"""
  xi AS (
    SELECT match_id, pos FROM (
      SELECT match_id,
             list_filter(tactics.lineup,
                         p -> p."player"."id" = {PID} OR p.player_id = {PID}) AS fl,
             t, id
      FROM evt WHERE "type"."name" = 'Starting XI'
    ) z, LATERAL (SELECT z.fl[1]."position"."name" AS pos) l
    WHERE len(fl) > 0
    QUALIFY row_number() OVER (PARTITION BY match_id ORDER BY t, id) = 1
  )
"""

_MINS_CTE = f"""
  own AS (SELECT match_id, min(t) AS t_first, max(t) AS t_last
          FROM evt WHERE player."id" = {PID} GROUP BY 1),
  son AS (SELECT match_id, min(t) AS on_min FROM evt
          WHERE "type"."name" = 'Substitution'
            AND substitution.replacement."id" = {PID} GROUP BY 1),
  soff AS (SELECT match_id, min(t) AS off_min FROM evt
           WHERE "type"."name" = 'Substitution' AND player."id" = {PID} GROUP BY 1),
  mins AS (
    SELECT o.match_id,
           least(greatest(coalesce(f.off_min, o.t_last)
                          - coalesce(n.on_min, o.t_first), 10.0), 95.0) AS minutes_est
    FROM own o LEFT JOIN son n ON o.match_id = n.match_id
               LEFT JOIN soff f ON o.match_id = f.match_id
  )
"""


@_register(
    "pedri_profile_build",
    f"""
    WITH {_EVT},
    {_TEAM_CTE},
    {_MINS_CTE},
    {_XI_CTE}
    SELECT tm.match_id, tm.team,
           floor((coalesce(m.minutes_est, 90.0)) * 10.0 + 0.5) / 10.0 AS minutes,
           x.pos AS position
    FROM tm
    LEFT JOIN mins m ON tm.match_id = m.match_id
    LEFT JOIN xi x ON tm.match_id = x.match_id
    """,
)
def q_pedri_profile_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the per-match profile table from raw events: one row per
    match the player appears in — (match_id, team, minutes, position).
    Position is NULL when the player was not in the Starting XI (sub-on
    appearances), mirroring the reference's absent-field profile rows.

    Scale: two narrow per-match aggregates (the team mode and the
    per-match measures) left-joined on match_id — each is a partial+final
    hash aggregate; no wide shuffle touches the event stream itself."""
    return profile_rows(_events(spark))


@_register(
    "pedri_lineup_positions",
    f"""
    WITH {_EVT},
    {_XI_CTE}
    SELECT pos AS position,
           count(*)::BIGINT AS n_matches,
           array_to_string(list_slice(list_sort(list(match_id)), 1, 10), ',')
             AS match_ids_preview
    FROM xi
    GROUP BY pos
    """,
)
def q_pedri_lineup_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-distribution report: matches per Starting-XI position with
    a ≤10-match-id preview (ascending), reference
    core/pedri_inspect_lineups.py:59-83.

    Scale: groupBy over the tiny (match, position) frame; the preview list
    is a bounded slice of a sorted collect_list — collect_list is safe
    here because the pre-aggregated grain is one row per match, not per
    event.  The preview is serialized to a comma-joined string (numeric
    sort first, then cast) so the result is flat scalar columns — array
    cells are not hashable by pandas-based result comparators."""
    preview = F.transform("match_ids_preview", lambda x: x.cast("string"))
    return lineup_report(_events(spark)).withColumn(
        "match_ids_preview", F.array_join(preview, ",")
    )


# ---------------------------------------------------------------------------
# run_all artifact read-backs for the side outputs (S4 profile JSON and
# S7 text-list sink): the stages above are oracle-green as FRAMES; these
# hash the FILES the orchestrator writes, covering the sink round-trips
# (JSON array dump, string-sorted distinct text lines) that were
# previously pinned by tests only.
# ---------------------------------------------------------------------------


@_register(
    "pedri_run_all_profile_json",
    f"""
    WITH {_EVT},
    {_TEAM_CTE},
    {_MINS_CTE},
    {_XI_CTE},
    prof AS (
      SELECT tm.match_id, tm.team AS team_name,
             floor((coalesce(m.minutes_est, 90.0)) * 10.0 + 0.5) / 10.0 AS minutes,
             x.pos AS position
      FROM tm
      LEFT JOIN mins m ON tm.match_id = m.match_id
      LEFT JOIN xi x ON tm.match_id = x.match_id
    )
    SELECT row_number() OVER (ORDER BY match_id) - 1 AS row_idx,
           match_id, team_name, minutes, position
    FROM prof
    """,
)
def q_pedri_run_all_profile_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orchestrator's pedri_profile.json read BACK from disk: the
    stage-2 profile rows as the JSON-array artifact serializes them
    (match_id order captured in row_idx), proving the side-input file the
    extended analysis consumes — not just the frame that produced it."""
    from pedri_analysis_spark.plans.pedri_queries import _runall_artifacts

    path = _runall_artifacts(spark)["profile_json"]
    df = (
        spark.read.option("multiLine", True)
        .schema("match_id long, team_name string, minutes double, position string")
        .json(path)
    )
    return df.coalesce(1).withColumn("row_idx", F.monotonically_increasing_id())


@_register(
    "pedri_run_all_match_ids",
    f"""
    WITH {_EVT}
    SELECT row_number() OVER (ORDER BY value) - 1 AS row_idx, value
    FROM (
      SELECT DISTINCT match_id::VARCHAR AS value
      FROM evt WHERE player."id" = {PID}
    )
    """,
)
def q_pedri_run_all_match_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orchestrator's pedri_match_ids.txt read BACK from disk — the
    S7 text-list sink's distinct + STRING-sorted one-per-line contract
    (reference find_pedri_matches_in_events.py:71-74), with row_idx
    capturing the physical line order."""
    from pedri_analysis_spark.plans.pedri_queries import _runall_artifacts

    path = _runall_artifacts(spark)["match_ids_txt"]
    return (
        spark.read.text(path)
        .coalesce(1)
        .withColumn("row_idx", F.monotonically_increasing_id())
        .select("row_idx", "value")
    )
