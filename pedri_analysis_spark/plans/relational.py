"""The general relational operator suite, verified against a DuckDB oracle.

Each entry exposes one operator family from SURVEY §2 (the reference's
operator inventory) as a general relational query over the driver's
synthetic tables, together with the ANSI-SQL equivalent DuckDB runs on the
same parquet files.  The driver compares row count + schema +
order-insensitive value hash, with columns matched by NAME — so every
computed column is aliased identically on both sides.

Cross-engine float determinism
------------------------------
Summing doubles is order-dependent, and Spark/DuckDB will not visit rows in
the same order — ``round()`` does NOT fix this (and the two engines also
disagree on decimal-half rounding of doubles).  The discipline used here:

- **Money/measure aggregates run in DECIMAL** (exact, order-independent):
  both engines cast the 2-dp source columns to narrow decimals, aggregate
  exactly, and cast the final result to DOUBLE.  The decimal value is
  identical in both engines, so the double is bit-identical.
- **Ratios/averages** are a single double division whose operands are the
  exact decimal results — one IEEE op on identical inputs is deterministic.
- **Single-op double expressions** on raw columns (e.g. ``a * (1-b)`` per
  row) are kept in double: identical operands + identical op order →
  bit-identical results.
- Counts are BIGINT on both sides (DuckDB's integer SUM is int128 —
  always cast).  Timestamps are emitted as epoch microseconds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


def money(c: str | Column) -> Column:
    """2-dp money/measure column → exact decimal for order-independent sums."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(12,2)")


def factor(c: Column) -> Column:
    """Small 2-dp factor (1±discount/tax) → narrow decimal."""
    return c.cast("decimal(4,2)")


def dsum(c: Column) -> Column:
    """Exact decimal sum, emitted as double (bit-identical cross-engine)."""
    return F.sum(c).cast("double")


def epoch_us(c: str | Column) -> Column:
    """Epoch microseconds of a (possibly NTZ) timestamp column.

    Parquet timestamps read as TIMESTAMP_NTZ; with the session timezone
    pinned to UTC the cast to TIMESTAMP is an identity, so this equals
    DuckDB's ``epoch_us`` on the same naive values."""
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(c.cast("timestamp"))


def events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with event time as epoch-microseconds (``ts_us``).

    Dispatches on the dtype ``ts`` actually arrives as, so the plan is
    correct for either parquet encoding of the testdata:

    - ``timestamp[us]`` parquet → Spark reads TIMESTAMP_NTZ; with the
      session timezone pinned to UTC, ``unix_micros(cast(ts AS
      timestamp))`` equals DuckDB's ``epoch_us(ts)`` on the same naive
      values (see :func:`epoch_us`).
    - ``timestamp[ns]`` parquet → unreadable as a timestamp by Spark 4;
      the session's ``nanosAsLong`` conf surfaces it as epoch-nanos
      BIGINT, and ``ts div 1000`` is the same integer truncation DuckDB
      applies reading ns→µs.

    Both branches produce identical BIGINT epoch-µs, so every downstream
    event-time comparison stays bit-identical with the oracle."""
    df = load_table(spark, "events", sf_dir)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        ts_us = epoch_us("ts")
    else:  # BIGINT epoch-nanos via spark.sql.legacy.parquet.nanosAsLong
        ts_us = F.expr("ts div 1000")
    return df.withColumn("ts_us", ts_us)


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4 A1/A2: per-group multi-aggregate)
# ---------------------------------------------------------------------------


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE)      AS sum_qty,
           CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS sum_base_price,
           CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)) AS DOUBLE)
               AS sum_disc_price,
           CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)
                    * (1 + l_tax)::DECIMAL(4,2)) AS DOUBLE)    AS sum_charge,
           CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) / count(*)      AS avg_qty,
           CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(l_discount::DECIMAL(4,2)) AS DOUBLE) / count(*)       AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped multi-aggregate (SURVEY A1/A2: the per-match stat
    fold, reference core/pedri_analysis.py:231-299, generalized).

    Scale: partial+final hash aggregate over 2 grouping cols — map-side
    combine reduces the shuffle to |groups|×partitions rows. Filter and the
    read columns push into the parquet scan.
    """
    li = load_table(spark, "lineitem", sf_dir)
    price = money("l_extendedprice")
    disc_price = price * factor(1 - F.col("l_discount"))
    charge = disc_price * factor(1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(money("l_quantity")).alias("sum_qty"),
            dsum(price).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            (dsum(money("l_quantity")) / n).alias("avg_qty"),
            (dsum(price) / n).alias("avg_price"),
            (dsum(factor(F.col("l_discount"))) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@_register(
    "filter_project",
    """
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conjunctive predicates (SURVEY P2/P3/P16).

    Scale: fully pushed down — predicate to parquet row groups, 5-column
    ReadSchema; no shuffle at all (narrow pipeline). ``net_price`` is a
    per-row double expression — deterministic, no aggregation involved."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@_register(
    "global_rollup",
    """
    SELECT CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE)      AS total_qty,
           CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS total_price,
           CAST(sum(l_discount::DECIMAL(4,2)) AS DOUBLE) / count(*) AS avg_discount,
           count(*)::BIGINT AS n_lines,
           count(DISTINCT l_orderkey)::BIGINT AS n_orders
    FROM lineitem
    """,
)
def q_global_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 1-row season-style rollup (SURVEY A3/A4,
    reference core/pedri_analysis.py:664-691).

    Scale: partial aggregation then a single final reduce — the classic
    2-stage global agg; COUNT(DISTINCT) expands to a 2-shuffle expand plan
    Catalyst handles natively."""
    li = load_table(spark, "lineitem", sf_dir)
    n = F.count(F.lit(1))
    return li.agg(
        dsum(money("l_quantity")).alias("total_qty"),
        dsum(money("l_extendedprice")).alias("total_price"),
        (dsum(factor(F.col("l_discount"))) / n).alias("avg_discount"),
        n.alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@_register(
    "ratio_rates",
    """
    SELECT l_returnflag,
           count(*)::BIGINT AS n_lines,
           100.0 * sum(CASE WHEN l_discount > 0 THEN 1 ELSE 0 END)::BIGINT / count(*)
               AS discounted_pct,
           CASE WHEN sum(l_quantity::DECIMAL(12,2)) > 0
                THEN CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE)
                     / CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE)
                ELSE 0.0 END AS price_per_unit
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_ratio_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarded ratio/rate derivation (SURVEY A5: pass_pct / per-90 with
    divide-by-zero guard, reference core/pedri_analysis.py:266-297)."""
    li = load_table(spark, "lineitem", sf_dir)
    n = F.count(F.lit(1))
    sum_qty = F.sum(money("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        n.alias("n_lines"),
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("l_discount") > 0, 1).otherwise(0)).cast("bigint")
            / n
        ).alias("discounted_pct"),
        F.when(
            sum_qty > 0,
            F.sum(money("l_extendedprice")).cast("double") / sum_qty.cast("double"),
        )
        .otherwise(0.0)
        .alias("price_per_unit"),
    )


@_register(
    "mode_priority",
    """
    SELECT o_orderpriority AS priority, count(*)::BIGINT AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY n DESC, priority ASC
    LIMIT 1
    """,
)
def q_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode / most-frequent (SURVEY A6: team inference via Counter,
    reference core/pedri_analysis_extended.py:209-212). Tie-broken by value
    for determinism.

    Scale: groupBy-count then TakeOrderedAndProject(1) — no global sort."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("priority"))
        .limit(1)
    )


@_register(
    "histogram_acctbal",
    """
    SELECT CAST(floor(c_acctbal / 500) AS BIGINT) AS bucket,
           count(*)::BIGINT AS n,
           CAST(sum(c_acctbal::DECIMAL(12,2)) AS DOUBLE) / count(*) AS avg_bal
    FROM customer
    GROUP BY 1
    """,
)
def q_histogram_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D histogram as bucket-groupBy (SURVEY A10, reference
    core/pedri_analysis.py:383-395). The scalable formulation: bucket index
    is column math, the count is a hash aggregate — works at any data size,
    unlike collecting values to the driver."""
    c = load_table(spark, "customer", sf_dir)
    n = F.count(F.lit(1))
    return c.groupBy(
        F.floor(F.col("c_acctbal") / 500).cast("long").alias("bucket")
    ).agg(n.alias("n"), (dsum(money("c_acctbal")) / n).alias("avg_bal"))


@_register(
    "histogram2d_part",
    """
    SELECT CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
           p_size AS size_bucket,
           count(*)::BIGINT AS n
    FROM part
    GROUP BY 1, 2
    """,
)
def q_histogram2d_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram / heat grid (SURVEY A11: np.histogram2d on the 48x32
    pitch grid, reference core/pedri_analysis_extended.py:562-565). Same
    shape: groupBy(bucket_x, bucket_y).count() — the 100 TB-safe heatmap."""
    p = load_table(spark, "part", sf_dir)
    return p.groupBy(
        F.floor(F.col("p_retailprice") / 100).cast("long").alias("price_bucket"),
        F.col("p_size").alias("size_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


@_register(
    "rollup_lineitem",
    """
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
           CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sum_qty,
           count(*)::BIGINT AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP with grouping id (beyond-reference per SURVEY
    §2.4 closing note: grouping sets come native in the rebuild)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dsum(money("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
            "gid",
            "sum_qty",
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3 J1-J6)
# ---------------------------------------------------------------------------


@_register(
    "join_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(sum(o.o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join chain + aggregate (SURVEY J1/J2 generalized).

    Scale: `nation` (25 rows) is explicitly broadcast; orders⋈customer
    shuffles on the key — AQE will switch to broadcast when customer fits.
    Aggregation is partial+final."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum(money("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_register(
    "join_star_region_revenue",
    """
    SELECT r.r_name AS region,
           CAST(sum(l.l_extendedprice::DECIMAL(12,2) * (1 - l.l_discount)::DECIMAL(4,2))
                AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_lines
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_join_star_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact ⋈ three broadcast dims (SURVEY J2: the
    profile broadcast-lookup join, reference
    core/pedri_analysis_extended.py:596-613, generalized).

    Scale: all three dimension tables broadcast — the fact table never
    shuffles for the join; the only shuffle is the final 5-group agg."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    revenue = money("l_extendedprice") * factor(1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


@_register(
    "semi_join_big_spenders",
    """
    SELECT c.c_mktsegment AS segment, count(*)::BIGINT AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    GROUP BY c.c_mktsegment
    """,
)
def q_semi_join_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join / EXISTS (SURVEY J3: 'does any event of this match
    have the player' existence scan, reference
    core/find_pedri_matches_in_events.py:45-51).

    Scale: semi-join keeps only the left row, no row explosion; the filter
    on orders pushes down before the join."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 200000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "anti_join_no_orders",
    """
    SELECT n.n_name AS nation, count(*)::BIGINT AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    GROUP BY n.n_name
    """,
)
def q_anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join / NOT EXISTS (set-difference shape; SURVEY §2.6)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_totalprice") > 400000)
    n = load_table(spark, "nation", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "interval_join_click_after_error",
    """
    SELECT e.event_id AS error_id, c.event_id AS click_id, e.user_id AS user_id,
           epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
    FROM events e
    JOIN events c
      ON c.user_id = e.user_id
     AND c.event_type = 'click'
     AND e.event_type = 'error'
     AND epoch_us(c.ts) >= epoch_us(e.ts)
     AND epoch_us(c.ts) <= epoch_us(e.ts) + 3600000000::BIGINT
    """,
)
def q_interval_join_click_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (SURVEY J5/O5: 'pressure within 5 s after
    own turnover', reference core/pedri_analysis_extended.py:357-384,
    generalized to: clicks within 3600 s after an error by the same user).
    Bounds inclusive on both ends, matching the reference's inclusive
    [0, 5 s] window (extended.py:383).

    Scale: the equi-key (user_id) makes this a hash join with a range
    residual — shuffle on user_id only; no cross product. For streams, the
    same predicate becomes a stream-stream join with watermarks
    (streaming.interval_join). Event time is epoch-microseconds integer
    (events_us) — exact arithmetic, identical on both engines."""
    ev = events_us(spark, sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts_us").alias("err_us"),
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts_us").alias("click_us"),
    )
    joined = err.join(
        clk,
        (err.user_id == clk.c_user_id)
        & (clk.click_us >= err.err_us)
        & (clk.click_us <= err.err_us + F.lit(3600 * 1_000_000)),
    )
    return joined.select(
        "error_id",
        "click_id",
        "user_id",
        (F.col("click_us") - F.col("err_us")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Sorts / top-k / windows (SURVEY §2.5)
# ---------------------------------------------------------------------------


@_register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice AS totalprice,
           epoch_us(o_orderdate) AS orderdate_us
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K (SURVEY O2: top-20 bar-chart clip, reference
    core/pedri_analysis.py:362-364). Tie-broken on the key for determinism.

    Scale: Spark plans TakeOrderedAndProject — per-partition heap + driver
    merge of K rows; no global sort."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("totalprice"),
            epoch_us("o_orderdate").alias("orderdate_us"),
        )
    )


@_register(
    "window_latest_order",
    """
    SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice AS totalprice
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    WHERE rn = 1
    """,
)
def q_window_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number ranking window — latest order per customer (top-1 per
    group; windows enter the rebuild per SURVEY §2.5 closing note).

    Scale: single shuffle on the partition key; AQE handles skewed
    customers. For top-1 Spark can also use max_by, but the window form
    generalizes to top-k."""
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


@_register(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(o_totalprice::DECIMAL(12,2))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_total
    FROM orders
    """,
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum frame window (SURVEY O5's cumulative scan shape).
    Decimal accumulation keeps the running values exact cross-engine."""
    o = load_table(spark, "orders", sf_dir)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


@_register(
    "window_lag_delta",
    """
    SELECT user_id, event_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic window over event time (SURVEY §2.5: lag/lead enter
    via the general engine; same shape as the counter-press last-loss
    scan). Single double subtraction — deterministic. Ordering uses the
    µs-truncated event time so ties resolve identically to the oracle."""
    ev = events_us(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@_register(
    "multi_key_sort",
    """
    SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS orderdate_us
    FROM orders
    ORDER BY o_orderdate ASC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_multi_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort + limit (SURVEY O1/O3: date-then-id ordering,
    reference core/pedri_analysis.py:621-634)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", epoch_us("o_orderdate").alias("orderdate_us"))
    )


# ---------------------------------------------------------------------------
# Set operations / distinct (SURVEY §2.6, A13)
# ---------------------------------------------------------------------------


@_register(
    "distinct_flag_status",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def q_distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (SURVEY A13/O4). Scale: partial-agg dedup before shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select("l_returnflag", "l_linestatus").distinct()


@_register(
    "setops_nations",
    """
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT nationkey, 'both' AS tag FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
    UNION ALL
    SELECT nationkey, 'customer_only' AS tag FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
    """,
)
def q_setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over key sets (SURVEY §2.6)."""
    cn = load_table(spark, "customer", sf_dir)
    cn = cn.select(F.col("c_nationkey").alias("nationkey")).distinct()
    sn = load_table(spark, "supplier", sf_dir)
    sn = sn.select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = cn.intersect(sn).withColumn("tag", F.lit("both"))
    cust_only = cn.exceptAll(sn).withColumn("tag", F.lit("customer_only"))
    return both.unionAll(cust_only)
