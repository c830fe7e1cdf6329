"""Event-time windowing queries over ``events``, oracle-verified in batch.

The same builders run under Structured Streaming (tests/test_streaming.py
proves tumbling counts produce identical results through readStream +
memory sink); here they execute in batch so the DuckDB oracle can check
values. Window starts are epoch-aligned, so the oracle reproduces them
with integer bucket arithmetic on epoch microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.relational import events_us
from pedri_analysis_spark.streaming.windows import (
    sessionize_batch,
    sliding_sums,
    tumbling_counts,
    with_event_time,
)

QUERIES, ORACLE_SQL, _register = query_table()

HOUR_US = 3_600_000_000
FIVE_MIN_US = 300_000_000
TEN_MIN_US = 600_000_000


@_register(
    "tumbling_window_counts",
    f"""
    SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS window_start_us,
           event_type,
           count(*)::BIGINT AS n,
           CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type (SURVEY §2.8: the tumbling
    aggregation surface; identical plan under readStream + watermark).

    Scale: one shuffle on (window, type) with map-side partial agg;
    streaming state is one row per open window per key."""
    ev = with_event_time(events_us(spark, sf_dir))
    return tumbling_counts(ev, "1 hour", ("event_type",))


@_register(
    "sliding_window_sums",
    f"""
    WITH shifted AS (
      SELECT e.*, ((epoch_us(ts) - k.k * {FIVE_MIN_US}) // {TEN_MIN_US}) * {TEN_MIN_US}
                  + k.k * {FIVE_MIN_US} AS window_start_us
      FROM events e, (SELECT unnest([0, 1]) AS k) k
    )
    SELECT window_start_us, count(*)::BIGINT AS n,
           CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS total_value
    FROM shifted
    WHERE window_start_us <= epoch_us(ts)
      AND epoch_us(ts) < window_start_us + {TEN_MIN_US}
    GROUP BY 1
    """,
)
def q_sliding_window_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min width / 5 min slide): each event counted in
    width/slide = 2 windows. Spark plans this as an Expand (row
    multiplication), never a self-join — the oracle mirrors with an
    unnest-shift."""
    ev = with_event_time(events_us(spark, sf_dir))
    return sliding_sums(ev, "10 minutes", "5 minutes")


@_register(
    "session_windows",
    f"""
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                       > {30 * 60 * 1_000_000} THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq::BIGINT AS session_seq,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us,
           count(*)::BIGINT AS n_events
    FROM sessions
    GROUP BY 1, 2
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (SURVEY O6's
    session-like span, generalized): lag-gap flag → running sum → session
    rollup. The streaming analogue is ``session_window``."""
    ev = events_us(spark, sf_dir)
    out = sessionize_batch(ev, gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        "session_start_us",
        "session_end_us",
        "n_events",
    )


@_register(
    "streaming_dedup_counts",
    """
    WITH replayed AS (
      SELECT * FROM events
      UNION ALL
      SELECT * FROM events WHERE event_id % 13 = 0
    ),
    raw AS (
      SELECT event_type, count(*)::BIGINT AS n_raw FROM replayed GROUP BY 1
    ),
    uniq AS (
      SELECT event_type, count(*)::BIGINT AS n_unique
      FROM (SELECT event_type, event_id, row_number()
              OVER (PARTITION BY event_id ORDER BY event_id) AS rn
            FROM replayed) WHERE rn = 1
      GROUP BY 1
    )
    SELECT r.event_type, r.n_raw, u.n_unique,
           (r.n_raw - u.n_unique)::BIGINT AS n_replayed
    FROM raw r JOIN uniq u ON r.event_type = u.event_type
    """,
)
def q_streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay dedup (SURVEY §2.8 + the reference's seen-set
    dedup re-expressed for continuous ingestion): a deterministic 1/13th
    of events is replayed, ``dedup_within_watermark`` collapses them, and
    the query reports per-type raw/unique/replayed counts.

    The same builder runs under readStream as
    ``dropDuplicatesWithinWatermark`` with bounded keyed state
    (tests/test_streaming.py proves batch/stream equivalence). Scale:
    dedup shuffles on event_id once; both count branches reuse one scan;
    streaming state is bounded by arrival-rate x watermark, never stream
    length."""
    from pedri_analysis_spark.sources.tables import load_table
    from pedri_analysis_spark.streaming.windows import dedup_within_watermark

    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type")
    replayed = ev.unionByName(ev.filter(F.col("event_id") % 13 == 0))
    raw = replayed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_raw"))
    uniq = (
        dedup_within_watermark(replayed, ("event_id",))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return raw.join(uniq, "event_type").select(
        "event_type",
        "n_raw",
        "n_unique",
        (F.col("n_raw") - F.col("n_unique")).cast("bigint").alias("n_replayed"),
    )


MIN_US = 60_000_000


@_register(
    "hierarchical_rollup_hours",
    f"""
    SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS hour_start_us,
           count(*)::BIGINT AS n,
           CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q_hierarchical_rollup_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading time rollup: the hour table is derived from MINUTE-level
    partials (sum of counts, sum of DECIMAL partial sums), never from raw
    events — the hypertable/materialized-rollup pattern where each coarser
    granularity re-aggregates the previous one at 1/60th the input size.

    The oracle aggregates the raw events directly; the hash match proves
    the two-level composition is EXACT — which it is only because the
    partials are decimal (order-independent) counts and sums. At 100 TB
    the minute table is a persisted artifact and every downstream
    granularity (hour/day/month) reads partials, not events."""
    ev = events_us(spark, sf_dir)
    minutes = (
        ev.groupBy(
            (F.expr(f"ts_us div {MIN_US}") * MIN_US).alias("min_start_us")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("val_partial"),
        )
    )
    return (
        minutes.groupBy(
            (F.expr(f"min_start_us div {HOUR_US}") * HOUR_US).alias("hour_start_us")
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("val_partial").cast("double").alias("total_value"),
        )
    )


@_register(
    "stream_static_segment_counts",
    f"""
    SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS window_start_us,
           c.c_mktsegment,
           count(*)::BIGINT AS n,
           CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q_stream_static_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event feed joined to the static
    customer dimension (user_id ≡ c_custkey), then tumbling 1-hour
    counts per market segment — the standard streaming-enrichment
    topology (stream ⋈ broadcast dim → windowed agg), executed in its
    batch-equivalent form so the oracle can check values.  The same
    builder chain runs under readStream (stream-static joins need no
    watermark — the static side holds no state;
    tests/test_streaming.py::test_stream_static_enrichment_join proves
    batch ≡ streaming for this shape).

    Scale: the dimension broadcasts to every micro-batch (no shuffle
    on the stream side before the window aggregate); streaming state
    is one row per open (window, segment).  Window starts are
    epoch-aligned so integer bucket arithmetic reproduces them."""
    from pedri_analysis_spark.sources.tables import load_table

    ev = with_event_time(events_us(spark, sf_dir))
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = ev.join(
        F.broadcast(dim), ev["user_id"] == dim["c_custkey"]
    )
    return tumbling_counts(enriched, "1 hour", ("c_mktsegment",))
