"""Explicit schemas.

The reference is schema-on-read over nested JSON: every field access is
null-tolerant (see ``safe_get``, reference ``core/pedri_analysis.py:67-74``,
and the ``(ev.get("x") or {})`` idiom throughout
``core/pedri_analysis_extended.py``).  We replace that with one explicit
``StructType`` covering the union of every field the reference reads
(SURVEY §1.2): Spark's struct access is null-safe by construction, so an
absent field simply yields NULL — the same semantics, declared once.

An explicit schema also matters at scale: schema inference over thousands
of JSON files is an extra full scan and non-deterministic; the explicit
schema makes the read single-pass and lets nested-schema pruning push
column selection into the scan.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _struct(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(k, v, True) for k, v in fields.items()])


_XY = T.ArrayType(T.DoubleType(), True)

# One row per match event.  Field inventory and types: SURVEY §1.2, citing
# reference core/pedri_analysis.py:67-227 and core/pedri_analysis_extended.py:40-384.
EVENT_SCHEMA = _struct(
    id=T.StringType(),  # UUID primary key (extended.py:227)
    type=_struct(name=T.StringType()),  # event-type enum (analysis.py:81-124)
    player=_struct(id=T.LongType(), name=T.StringType()),  # analysis.py:78
    team=_struct(name=T.StringType()),  # extended.py:93,211
    period=T.IntegerType(),  # extended.py:97,259
    minute=T.IntegerType(),  # analysis.py:174-179
    second=T.IntegerType(),
    location=_XY,  # [x, y] on the 120x80 pitch (analysis.py:136-141)
    under_pressure=T.BooleanType(),  # extended.py:286
    duration=T.DoubleType(),
    possession=T.IntegerType(),
    possession_team=_struct(name=T.StringType()),
    play_pattern=_struct(name=T.StringType()),
    **{
        "pass": _struct(
            end_location=_XY,  # analysis.py:143-151
            outcome=_struct(name=T.StringType()),  # absent => complete (analysis.py:85-89)
            shot_assist=T.BooleanType(),  # analysis.py:131
            goal_assist=T.BooleanType(),  # extended.py:282
            assisted_shot_id=T.StringType(),  # analysis.py:132
            recipient=_struct(id=T.LongType(), name=T.StringType()),  # extended.py:343-345
            cross=T.BooleanType(),  # extended.py:155-156
            length=T.DoubleType(),
            angle=T.DoubleType(),
            height=_struct(name=T.StringType()),
        )
    },
    carry=_struct(end_location=_XY),  # analysis.py:145-147
    dribble=_struct(outcome=_struct(name=T.StringType())),  # analysis.py:100-101
    duel=_struct(type=_struct(name=T.StringType())),  # analysis.py:112-116
    shot=_struct(
        statsbomb_xg=T.DoubleType(),  # analysis.py:247-251
        outcome=_struct(name=T.StringType()),  # extended.py:306
        key_pass_id=T.StringType(),  # FK -> pass id (extended.py:249-253)
        type=_struct(name=T.StringType()),
    ),
    substitution=_struct(
        replacement=_struct(id=T.LongType(), name=T.StringType())  # analysis.py:205
    ),
    tactics=_struct(
        lineup=T.ArrayType(
            _struct(
                player=_struct(id=T.LongType(), name=T.StringType()),
                player_id=T.LongType(),  # alt key shape (pedri_inspect_lineups.py:44-53)
                position=_struct(name=T.StringType()),
            ),
            True,
        )
    ),
    match_date=T.StringType(),  # speculative multi-format date (analysis.py:182-187)
)

# Profile side table: match_id -> {team, minutes, position}
# (reference core/pedri_analysis_extended.py:40-58; id key may be any of
# match_id|id|matchId|match — normalized at read time in sources.events).
PROFILE_SCHEMA = _struct(
    match_id=T.LongType(),
    id=T.LongType(),
    matchId=T.LongType(),
    match=T.LongType(),
    team_name=T.StringType(),
    team=T.StringType(),
    minutes=T.DoubleType(),
    position=T.StringType(),
)

# Driver-generated test tables (/root/repo/FIXTURES.md §A). Explicit schemas
# are not required for parquet (self-describing) but are kept here as the
# authoritative contract for tests and for the streaming reader, which
# requires a schema up front.
# NOTE: ts is microsecond-precision parquet (verified at all SFs), which
# Spark reads as TIMESTAMP_NTZ; with the session TZ pinned to UTC the cast
# to TIMESTAMP is an identity, matching the DuckDB oracle's naive values.
# The nanosAsLong safety net (session.py) only protects the SCHEMA-LESS
# batch path (load_table + events_us dtype dispatch): a NANOS-precision
# regeneration surfaces ts as BIGINT there, which conflicts with the
# TimestampNTZ field declared here — readers that pass this schema
# explicitly (the streaming file source requires one) would error at read
# and this field must then be flipped to LongType to match.
EVENTS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)
