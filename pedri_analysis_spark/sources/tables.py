"""Parquet table sources for the synthetic benchmark schema.

Reads are plain ``spark.read.parquet`` — columnar, with predicate pushdown
and column pruning handled by Catalyst.  Keep reads lazy and unmaterialized:
callers compose filters/projections and Catalyst pushes them into the scan
(verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# SQL confs the engine's semantics depend on, applied defensively to
# whatever session the caller hands us (the correctness driver builds its
# own SparkSession without our factory):
#  - UTC session TZ: NTZ->TIMESTAMP casts are identity, matching the
#    DuckDB oracle's naive timestamps.
#  - nanosAsLong: safety net only — the current events table is
#    timestamp[us] (reads as TIMESTAMP_NTZ), but a NANOS-precision
#    regeneration would be unreadable as timestamps by Spark 4; with this
#    set it degrades to BIGINT epoch-nanos, which events_us handles.
# All are runtime-settable (spark.sql.*), unlike JVM-level settings.
_REQUIRED_SQL_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_conf(spark: SparkSession) -> None:
    for k, v in _REQUIRED_SQL_CONF.items():
        spark.conf.set(k, v)


# Timestamp columns the dtype-dispatch layer knows how to handle when a
# nanosecond-precision parquet regeneration surfaces them as BIGINT under
# nanosAsLong: plans.relational.events_us and streaming.windows.
# with_event_time both dispatch on events.ts.  Any OTHER nanos timestamp
# column must fail loudly here rather than silently arrive as epoch-nanos
# BIGINT (the conf is session-global, so it would).
_NS_DISPATCHED_TS_COLUMNS = frozenset({("events", "ts")})


@functools.lru_cache(maxsize=None)
def _assert_ts_encoding_handled(path: str, name: str) -> None:
    """Read the parquet footer (cheap, cached per path) and assert every
    nanosecond-precision timestamp column is one the dtype dispatch
    handles.  Degrades to a no-op if pyarrow can't read the path — the
    Spark read that follows will produce the real error."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as pa_ds

        schema = pa_ds.dataset(path, format="parquet").schema
    except Exception:  # noqa: BLE001
        return
    for field in schema:
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            if (name, field.name) not in _NS_DISPATCHED_TS_COLUMNS:
                raise AssertionError(
                    f"table '{name}' column '{field.name}' is nanosecond-precision "
                    "parquet: under the session-global "
                    "spark.sql.legacy.parquet.nanosAsLong=true it would silently "
                    "arrive as BIGINT epoch-nanos, not a timestamp. Only "
                    f"{sorted(_NS_DISPATCHED_TS_COLUMNS)} are handled by the dtype "
                    "dispatch (plans.relational.events_us / "
                    "streaming.windows.with_event_time); route this column through "
                    "the same dispatch before using it."
                )


def parquet_ts_unit(path: str, column: str) -> str | None:
    """The parquet time unit ('us', 'ns', ...) of ``column`` at ``path``,
    or None if the column is not a timestamp / the footer is unreadable.
    Used by the streaming tests to assert the on-disk encoding matches the
    explicit EVENTS_TABLE_SCHEMA before a schema'd readStream."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as pa_ds

        field = pa_ds.dataset(path, format="parquet").schema.field(column)
        return field.type.unit if pa.types.is_timestamp(field.type) else None
    except Exception:  # noqa: BLE001
        return None


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one synthetic table (``region nation customer supplier part
    orders lineitem events documents embeddings``) as a DataFrame."""
    ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    _assert_ts_encoding_handled(path, name)
    return spark.read.parquet(path)
