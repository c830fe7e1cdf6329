"""Second batch of general relational operators (SURVEY §2 coverage
widening): pivot, cube, analytic ranks, exact percentiles, JSON field
extraction, date truncation, string functions, span aggregation, and
hex-binning. Same oracle discipline as plans.relational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.relational import (
    dsum,
    epoch_us,
    events_us,
    factor,
    money,
)
from pedri_analysis_spark.operators.quantiles import exact_quantiles
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


@_register(
    "pivot_qty_by_status",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity::DECIMAL(12,2) END) AS DOUBLE) AS qty_O,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity::DECIMAL(12,2) END) AS DOUBLE) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot_qty_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): linestatus values become columns. Spark
    plans pivot as a single pass of conditional aggregates — identical to
    the oracle's CASE formulation, no extra shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(money("l_quantity")).cast("double"))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


@_register(
    "cube_orders",
    """
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid,
           count(*)::BIGINT AS n,
           CAST(sum(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^n grouping-set combinations in one pass (Expand +
    single aggregate — not 4 separate scans)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum(money("o_totalprice")).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "gid",
            "n",
            "revenue",
        )
    )


@_register(
    "percent_rank_acctbal",
    """
    SELECT c_custkey,
           c_nationkey,
           percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS pr
    FROM customer
    """,
)
def q_percent_rank_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank analytic (SURVEY A9: percentile-vs-distribution radar
    values, reference core/pedri_analysis.py:488-514, generalized).
    Ties share a rank so the result is order-insensitive; the
    (rank-1)/(n-1) division is one double op — identical cross-engine."""
    c = load_table(spark, "customer", sf_dir)
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey", "c_nationkey", F.percent_rank().over(w).alias("pr")
    )


@_register(
    "percentiles_quantity",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.9) AS p90,
           quantile_cont(l_quantity, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (both engines implement the
    same continuous-quantile definition). At 100 TB switch to
    percentile_approx (t-digest) — kept exact here for oracle checking."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90"),
        F.expr("percentile(l_quantity, 0.99)").alias("p99"),
    )


@_register(
    "json_props_extract",
    """
    SELECT event_type,
           count(*)::BIGINT AS n,
           sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
           max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSON field extraction from a string column (SURVEY
    P1's null-safe dynamic access, generalized to the events.props
    payload): get_json_object is a per-row JVM expression, no UDF."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@_register(
    "orders_by_month",
    """
    SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
           count(*)::BIGINT AS n_orders,
           CAST(sum(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
    """,
)
def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing (date_trunc month) — the calendar-aware cousin
    of the epoch-bucket windows (SURVEY O1's date handling)."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy(
            F.unix_micros(
                F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
            ).alias("month_us")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice")).alias("revenue"),
        )
    )


@_register(
    "string_funcs_customers",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           length(c_name)::BIGINT AS name_len,
           replace(c_mktsegment, 'AUTO', 'CAR') AS segment_repl,
           concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer
    WHERE c_name LIKE '%1%'
    """,
)
def q_string_funcs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string function battery (SURVEY §2.7 generalization):
    upper/substr/length/replace/concat + LIKE pushdown."""
    c = load_table(spark, "customer", sf_dir)
    return c.filter(F.col("c_name").like("%1%")).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.regexp_replace("c_mktsegment", "AUTO", "CAR").alias("segment_repl"),
        F.concat_ws("#", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
    )


@_register(
    "user_activity_span",
    """
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           min(epoch_us(ts)) AS first_us,
           max(epoch_us(ts)) AS last_us,
           greatest(least(max(epoch_us(ts)) - min(epoch_us(ts)), 2592000000000::BIGINT), 0::BIGINT)
               AS span_us_clamped
    FROM events
    GROUP BY user_id
    """,
)
def q_user_activity_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max span with clamping (SURVEY O6: the minutes-played estimate
    clamp(first..last, bounds), generalized to user activity spans)."""
    ev = events_us(spark, sf_dir)
    first = F.min("ts_us")
    last = F.max("ts_us")
    month_us = 30 * 24 * 3600 * 1_000_000
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        first.alias("first_us"),
        last.alias("last_us"),
        F.greatest(
            F.least(last - first, F.lit(month_us)), F.lit(0)
        ).alias("span_us_clamped"),
    )


# --- hex-binning (SURVEY A12: the hexbin density map, as column math) ---

_HEX_SIZE = 8.0  # hex circumradius in (price/100, size) plane


def _hex_sql(xe: str, ye: str) -> str:
    """Axial hex coordinates with cube rounding, dialect-neutral SQL
    (identical double math both engines). x,y already scaled."""
    qf = f"((sqrt(3.0) / 3.0 * ({xe}) - 1.0 / 3.0 * ({ye})) / {_HEX_SIZE})"
    rf = f"((2.0 / 3.0 * ({ye})) / {_HEX_SIZE})"
    return qf, rf


_HEX_ROUND = """
      CASE WHEN abs(rq - qf) > abs(rr - rf) AND abs(rq - qf) > abs(rs - sf)
           THEN CAST(-rr - rs AS BIGINT)
           ELSE CAST(rq AS BIGINT) END AS hex_q,
      CASE WHEN abs(rq - qf) > abs(rr - rf) AND abs(rq - qf) > abs(rs - sf)
           THEN CAST(rr AS BIGINT)
           WHEN abs(rr - rf) > abs(rs - sf)
           THEN CAST(-rq - rs AS BIGINT)
           ELSE CAST(rr AS BIGINT) END AS hex_r
"""


def _hexbin_oracle() -> str:
    qf, rf = _hex_sql("p_retailprice / 100.0", "p_size * 1.0")
    return f"""
    WITH axial AS (
      SELECT {qf} AS qf, {rf} AS rf, (-({qf}) - ({rf})) AS sf FROM part
    ),
    rounded AS (
      SELECT qf, rf, sf, round(qf) AS rq, round(rf) AS rr, round(sf) AS rs FROM axial
    ),
    hexed AS (
      SELECT {_HEX_ROUND}
      FROM rounded
    )
    SELECT hex_q, hex_r, count(*)::BIGINT AS n
    FROM hexed
    GROUP BY 1, 2
    """


@_register("hexbin_parts", _hexbin_oracle())
def q_hexbin_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal binning (SURVEY A12: ax.hexbin of pass origins,
    reference core/pedri_analysis.py:416-433) as pure column math: axial
    coordinates + cube rounding, then groupBy(hex) — the formulation that
    scales to any point count (matplotlib's hexbin collects all points).

    NOTE: round() here is fine cross-engine — both engines round the SAME
    double values (the axial transforms are identical expressions), and
    hex centers are not adversarially close to .5 boundaries in this data."""
    p = load_table(spark, "part", sf_dir)
    qf, rf = _hex_sql("p_retailprice / 100.0", "p_size * 1.0")
    axial = p.select(
        F.expr(qf).alias("qf"),
        F.expr(rf).alias("rf"),
        F.expr(f"(-({qf}) - ({rf}))").alias("sf"),
    )
    rounded = axial.select(
        "qf", "rf", "sf",
        F.round("qf").alias("rq"), F.round("rf").alias("rr"), F.round("sf").alias("rs"),
    )
    hexed = rounded.selectExpr(
        "CASE WHEN abs(rq - qf) > abs(rr - rf) AND abs(rq - qf) > abs(rs - sf) "
        "THEN CAST(-rr - rs AS BIGINT) ELSE CAST(rq AS BIGINT) END AS hex_q",
        "CASE WHEN abs(rq - qf) > abs(rr - rf) AND abs(rq - qf) > abs(rs - sf) "
        "THEN CAST(rr AS BIGINT) "
        "WHEN abs(rr - rf) > abs(rs - sf) THEN CAST(-rq - rs AS BIGINT) "
        "ELSE CAST(rr AS BIGINT) END AS hex_r",
    )
    return hexed.groupBy("hex_q", "hex_r").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "cross_join_region_segments",
    """
    SELECT r.r_name AS region, s.segment,
           (SELECT count(*) FROM customer c2
            WHERE c2.c_mktsegment = s.segment)::BIGINT AS segment_customers
    FROM region r
    CROSS JOIN (SELECT DISTINCT c_mktsegment AS segment FROM customer) s
    """,
)
def q_cross_join_region_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (SURVEY §2.3 closing note: theta/cross enter via the
    general engine) over two tiny sides + a scalar-subquery-shaped count
    (expressed as a pre-aggregated broadcast join in Spark)."""
    r = load_table(spark, "region", sf_dir).select(F.col("r_name").alias("region"))
    seg_counts = (
        load_table(spark, "customer", sf_dir)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("segment_customers"))
    )
    return r.crossJoin(F.broadcast(seg_counts))


@_register(
    "asof_last_error_before_click",
    """
    SELECT c.event_id AS click_id, c.user_id AS user_id,
           e.event_id AS error_id,
           epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND epoch_us(c.ts) >= epoch_us(e.ts)
    """,
)
def q_asof_last_error_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — for each click, the MOST RECENT error at-or-before it
    by the same user (Spark has no native ASOF; DuckDB's native ASOF JOIN
    is the oracle).

    Implementation: the scalable union-sort-carry formulation — tag both
    streams, sort by (user, time, tag), carry the last error forward with
    an ignore-nulls last() window, keep click rows. ONE shuffle on the
    user key and no range row-explosion — this is the 100 TB as-of
    (pd.merge_asof per group via applyInPandas is the fallback for
    many-column payloads)."""
    ev = events_us(spark, sf_dir)
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts_us",
        F.lit(0).alias("tag"),
        F.col("event_id").alias("error_id"),
        F.lit(None).cast("long").alias("click_id"),
    )
    clks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts_us",
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("error_id"),
        F.col("event_id").alias("click_id"),
    )
    tagged = errs.unionByName(clks)
    # errors sort before clicks at equal time (tag 0 < 1) => ts_err <= ts_click inclusive
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "tag", F.coalesce("error_id", "click_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "last_error_id", F.last("error_id", ignorenulls=True).over(w)
    ).withColumn(
        "last_error_ts",
        F.last(F.when(F.col("tag") == 0, F.col("ts_us")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("tag") == 1).select(
        "click_id",
        "user_id",
        F.col("last_error_id").alias("error_id"),
        (F.col("ts_us") - F.col("last_error_ts")).alias("gap_us"),
    )


SKEW_SALTS = 16  # fact-side salt fan-out (dim replicates this many times)


@_register(
    "salted_skew_join",
    """
    WITH f AS (
      SELECT CASE WHEN l_partkey % 10 < 7 THEN 0 ELSE l_partkey END AS jkey,
             l_extendedprice
      FROM lineitem
    ),
    d AS (
      SELECT CASE WHEN p_partkey % 10 < 7 THEN 0 ELSE p_partkey END AS jkey,
             min(p_type) AS ptype
      FROM part
      GROUP BY 1
    )
    SELECT CASE WHEN f.jkey = 0 THEN 'hot' ELSE 'cold' END AS key_class,
           count(*)::BIGINT AS n_lines,
           count(DISTINCT f.jkey)::BIGINT AS n_keys,
           CAST(sum(f.l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS revenue
    FROM f JOIN d ON f.jkey = d.jkey
    GROUP BY 1
    """,
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed equi-join via explicit key salting: ~70% of fact rows share
    one join key (a planted hot key), which would pile onto a single
    task in a plain shuffle join. The fact side appends a uniform salt in
    [0, 16); the dim side is exploded once per salt value; joining on
    (key, salt) splits the hot key across 16 tasks — results identical to
    the unsalted join the oracle runs.

    The join is hinted ``merge`` so the demonstration can't silently
    degrade to a broadcast (where salting would be moot); at 100 TB the
    dim is too big to broadcast and this is exactly the shape you ship.
    Manual salting complements AQE skew-join splitting (enabled in the
    session factory): AQE can only split what post-shuffle statistics
    see, while salting fixes the partition layout up front for known-hot
    keys. Salt values never reach the output, so determinism is
    unaffected."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.when(F.col("l_partkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_partkey"))
        .alias("jkey"),
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
    )
    fact = li.withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(SKEW_SALTS))
    )
    dim = (
        load_table(spark, "part", sf_dir)
        .groupBy(
            F.when(F.col("p_partkey") % 10 < 7, F.lit(0))
            .otherwise(F.col("p_partkey"))
            .alias("jkey")
        )
        .agg(F.min("p_type").alias("ptype"))
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(s) for s in range(SKEW_SALTS)]))
        )
    )
    joined = fact.join(dim.hint("merge"), ["jkey", "salt"])
    return joined.groupBy(
        F.when(F.col("jkey") == 0, "hot").otherwise("cold").alias("key_class")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("jkey").alias("n_keys"),
        F.sum(money("l_extendedprice")).cast("double").alias("revenue"),
    )


@_register(
    "salted_segment_counts",
    """
    SELECT c_mktsegment AS segment, count(*)::BIGINT AS n,
           CAST(sum(c_acctbal::DECIMAL(12,2)) AS DOUBLE) AS total_bal
    FROM customer
    GROUP BY 1
    """,
)
def q_salted_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage (salted) aggregation: stage 1 groups on
    (key, salt) so one hot key spreads over ``salt`` reducers; stage 2
    merges the partials. Results are identical to the direct groupBy (the
    oracle IS the direct form) — only the shuffle distribution changes.
    Spark's partial aggregation already handles count-like skew; explicit
    salting is the pattern for high-cardinality payloads (collect_set,
    exact distinct) where map-side combine can't shrink the hot key."""
    c = load_table(spark, "customer", sf_dir)
    salted = c.withColumn("_salt", F.pmod(F.hash("c_custkey"), F.lit(16)))
    partial = salted.groupBy(
        F.col("c_mktsegment").alias("segment"), F.col("_salt")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(money("c_acctbal")).alias("pbal"),
    )
    return partial.groupBy("segment").agg(
        F.sum("pn").cast("bigint").alias("n"),
        F.sum("pbal").cast("double").alias("total_bal"),
    )


# Approximate algorithms are seed/implementation-specific, so their raw
# estimates can't be hash-compared cross-engine. Instead each query
# computes the EXACT answer plus a boolean asserting the approximate
# answer lands within its published error bound — the oracle mirrors the
# exact side and expects the assertion TRUE, so a sketch regression
# (estimate drifting out of bound) flips the hash and fails the driver.


@_register(
    "approx_distinct_parts",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey)::BIGINT AS exact_parts,
           count(*)::BIGINT AS n_lines,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB replacement for
    exact COUNT(DISTINCT) — one pass, fixed-size sketch, no expand plan.
    rsd=0.01 keeps the estimate within ~1% of the exact count; the query
    asserts |approx − exact| / exact ≤ 5% (generous vs the 3σ ≈ 3% bound)
    so the driver hash check verifies the sketch, not just the schema.
    The exact side is test-harness-only; at 100 TB you run the sketch
    alone."""
    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_partkey")
    # Two-stage exact distinct (partial-agg on (flag, partkey), then count)
    # instead of count_distinct mixed into the same agg, which would force
    # an Expand over the full scan. HLL sketches are duplicate-insensitive,
    # so running approx_count_distinct over the deduped keys yields the
    # identical estimate the one-pass sketch gives at 100 TB.
    per_key = li.groupBy("l_returnflag", "l_partkey").agg(
        F.count(F.lit(1)).alias("kn")
    )
    return per_key.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.sum("kn").cast("bigint").alias("n_lines"),
    ).select(
        "l_returnflag",
        "exact_parts",
        "n_lines",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("approx_within_5pct"),
    )


@_register(
    "approx_percentiles_price",
    """
    SELECT l_returnflag,
           count(*)::BIGINT AS n_lines,
           TRUE AS p50_rank_ok,
           TRUE AS p99_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (KLL/GK sketch): bounded-memory quantiles for
    data too large to sort — the at-scale version of percentiles_quantity.

    The sketch guarantees a RANK bound (the returned value's true rank is
    within ~n/accuracy of the target rank), so the check is rank-based:
    the fraction of rows ≤ the approximate quantile must sit within ±2%
    of the target fraction (accuracy=10000 ⇒ theoretical slack 0.01%,
    checked generously). One extra broadcast join of the k-row quantile
    table — the verification pass exists only for the harness."""
    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_extendedprice")
    ap = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99_approx"),
    )
    joined = li.join(F.broadcast(ap), "l_returnflag")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            (F.col("l_extendedprice") <= F.col("p50_approx")).cast("long")
        ).alias("n_le_p50"),
        F.sum(
            (F.col("l_extendedprice") <= F.col("p99_approx")).cast("long")
        ).alias("n_le_p99"),
    ).select(
        "l_returnflag",
        "n_lines",
        (
            (F.col("n_le_p50") / F.col("n_lines") >= 0.48)
            & (F.col("n_le_p50") / F.col("n_lines") <= 0.52)
        ).alias("p50_rank_ok"),
        (
            (F.col("n_le_p99") / F.col("n_lines") >= 0.97)
            & (F.col("n_le_p99") / F.col("n_lines") <= 1.0)
        ).alias("p99_rank_ok"),
    )


@_register(
    "grouping_sets_returns",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
           count(*)::BIGINT AS n_lines,
           CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — arbitrary slice combinations in ONE pass
    (here: per-flag totals, per-shipmode totals, and the grand total, but
    NOT the cross product a CUBE would add). Spark plans this as a single
    Expand + hash aggregate, same as cube/rollup; grouping_id
    disambiguates which set each output row belongs to."""
    li = load_table(spark, "lineitem", sf_dir)
    li.createOrReplaceTempView("gs_lineitem")
    return li.sparkSession.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(1) AS n_lines,
               CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def _stats_formula_sql(from_clause: str) -> str:
    """Shared second-stage arithmetic for exact distributed statistics.

    The moments (n, Σx, Σy, Σx², Σy², Σxy) are aggregated in DECIMAL —
    order-independent, so partial aggregation across any partitioning
    yields bit-identical sums — then emitted as DOUBLE, and every derived
    statistic is ONE textually identical double-arithmetic expression in
    both engines (IEEE ops on identical inputs ⇒ identical bits). Native
    corr()/stddev() can't be oracle-hash-matched: engines use different
    streaming algorithms (Welford vs. naive) whose float error depends on
    row order."""
    return f"""
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_lines,
           sx / n AS mean_qty,
           sy / n AS mean_price,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           sqrt((syy - sy * sy / n) / (n - 1)) AS stddev_price,
           (sxy - sx * sy / n) / (n - 1) AS covar_qty_price,
           (sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_qty_price
    FROM ({from_clause})
    """


@_register(
    "stats_moments_exact",
    _stats_formula_sql(
        """
      SELECT l_returnflag,
             count(*)::DOUBLE AS n,
             CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sx,
             CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS sy,
             CAST(sum(l_quantity::DECIMAL(12,2) * l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sxx,
             CAST(sum(l_extendedprice::DECIMAL(12,2) * l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS syy,
             CAST(sum(l_quantity::DECIMAL(12,2) * l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    """
    ),
)
def q_stats_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed mean/stddev/covariance/correlation from exact decimal
    moments (see _stats_formula_sql). The moment aggregation is one
    map-side-combinable hash agg — the only scalable way to get
    order-independent statistics at 100 TB (a streaming Welford pass is
    sequential-order-dependent and not partition-stable)."""
    li = load_table(spark, "lineitem", sf_dir)
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    moments = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("l_quantity")).cast("double").alias("sx"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dec("l_quantity") * dec("l_quantity")).cast("double").alias("sxx"),
        F.sum(dec("l_extendedprice") * dec("l_extendedprice")).cast("double").alias("syy"),
        F.sum(dec("l_quantity") * dec("l_extendedprice")).cast("double").alias("sxy"),
    )
    return moments.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_lines"),
        F.expr("sx / n").alias("mean_qty"),
        F.expr("sy / n").alias("mean_price"),
        F.expr("sqrt((sxx - sx * sx / n) / (n - 1))").alias("stddev_qty"),
        F.expr("sqrt((syy - sy * sy / n) / (n - 1))").alias("stddev_price"),
        F.expr("(sxy - sx * sy / n) / (n - 1)").alias("covar_qty_price"),
        F.expr(
            "(sxy - sx * sy / n)"
            " / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))"
        ).alias("corr_qty_price"),
    )


VALUE_BANDS = [  # (band, lo, hi) — half-open [lo, hi)
    ("tiny", 0.0, 1.0),
    ("small", 1.0, 10.0),
    ("medium", 10.0, 100.0),
    ("large", 100.0, 1000.0),
]


@_register(
    "band_join_event_values",
    f"""
    WITH bands(band, lo, hi) AS (
      VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in VALUE_BANDS)}
    )
    SELECT b.band,
           count(*)::BIGINT AS n_events,
           CAST(sum(e.value::DECIMAL(12,2)) AS DOUBLE) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def q_band_join_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric band (range) join: every event matched to its value tier by
    a non-equi predicate against a tiny banding dimension — the generic
    form of bucketing where band edges are DATA, not expression constants
    (cf. histogram_acctbal, where edges are literals).

    Scale: the band table broadcasts, so Spark plans a
    BroadcastNestedLoopJoin — each event row tests ≤ |bands| predicates
    map-side, no shuffle until the final aggregate. With many bands,
    pre-sort the band edges and use a binary-search expression or
    width_bucket instead."""
    ev = load_table(spark, "events", sf_dir)
    bands = ev.sparkSession.createDataFrame(VALUE_BANDS, "band string, lo double, hi double")
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
    )


MA_WINDOW = 7


@_register(
    "window_moving_average",
    f"""
    SELECT event_id, user_id,
           CAST(sum(value::DECIMAL(12,2))
                OVER w AS DOUBLE)
             / count(*) OVER w AS ma{MA_WINDOW},
           count(*) OVER w AS n_in_frame
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN {MA_WINDOW - 1} PRECEDING AND CURRENT ROW)
    """,
)
def q_window_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame moving average: a bounded ROWS frame (the one window
    flavor running_total's unbounded frame doesn't cover). The average is
    derived from a DECIMAL frame-sum over an exact (ts, event_id) order —
    frame membership and the sum are both order-stable, so the double
    division matches the oracle bit-for-bit.

    Scale: one shuffle on user_id; the bounded frame evaluates in a
    single sorted pass per partition with O(frame) memory."""
    from pedri_analysis_spark.plans.relational import events_us

    ev = events_us(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-(MA_WINDOW - 1), W.currentRow)
    )
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double") / n
        ).alias(f"ma{MA_WINDOW}"),
        n.alias("n_in_frame"),
    )


@_register(
    "ntile_customer_quartiles",
    """
    WITH t AS (
      SELECT c_custkey, c_mktsegment,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
      FROM customer
    )
    SELECT c_mktsegment, quartile::BIGINT AS quartile,
           count(*)::BIGINT AS n_customers,
           min(c_custkey)::BIGINT AS min_key
    FROM t GROUP BY 1, 2
    """,
)
def q_ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quantile bucketing per segment — the window-function route to
    equal-frequency binning (vs. percentile cutpoints). Deterministic
    because the ORDER BY is a total order (balance, then key)."""
    c = load_table(spark, "customer", sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("min_key"),
        )
    )


@_register(
    "correlated_above_nation_avg",
    """
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def q_correlated_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers above their own nation's
    average balance. Catalyst decorrelates this into an aggregate + join
    (visible in the plan — no per-row subquery execution); written in SQL
    because that is the surface such queries arrive on.

    avg() here is engine-internal float summation — safe only because the
    predicate is a strict inequality on values ~1e3 apart, far above ulp
    noise; for hash-matched OUTPUT of averages, use the decimal-sum
    pattern (stats_moments_exact)."""
    c = load_table(spark, "customer", sf_dir)
    c.createOrReplaceTempView("corr_customer")
    return c.sparkSession.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM corr_customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM corr_customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@_register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(sum(l.l_extendedprice::DECIMAL(12,2) * (1 - l.l_discount)::DECIMAL(4,2))
                AS DOUBLE) AS revenue,
           epoch_us(o.o_orderdate)::BIGINT AS orderdate_us,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate_us ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H Q3 pattern (shipping priority): selective dimension
    filter → 3-table equi-join chain → revenue aggregate → top-10. The
    classic decision-support shape exercising filter pushdown on BOTH
    join sides + TakeOrderedAndProject in one query.

    Scale: the segment filter prunes customer before the join; AQE picks
    broadcast for the filtered side when it fits; the final top-10 is a
    per-partition heap, never a global sort. Determinism: ties broken by
    (orderdate, orderkey); timestamps compared/emitted as epoch micros."""
    from pyspark.sql import functions as F

    c = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01'")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1998-01-01'")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            "o_orderpriority",
        )
        .agg(
            dsum(money("l_extendedprice") * factor(F.lit(1) - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "orderdate_us", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("orderdate_us"), F.asc("l_orderkey"))
        .limit(10)
    )


@_register(
    "quantile_binning_price",
    """
    WITH cut AS (
      SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.50) AS q2,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem
    )
    SELECT CASE WHEN l_extendedprice < q1 THEN 0
                WHEN l_extendedprice < q2 THEN 1
                WHEN l_extendedprice < q3 THEN 2
                ELSE 3 END::BIGINT AS bin,
           count(*)::BIGINT AS n_lines,
           CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) AS sum_price
    FROM lineitem, cut
    GROUP BY 1
    """,
)
def q_quantile_binning_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning with DATA-DERIVED cutpoints (the feature-
    engineering discretizer): phase 1 computes exact quartile cutpoints,
    phase 2 broadcasts the 1-row cutpoint frame and buckets every row
    with a CASE chain — unlike ntile, rows with equal values always land
    in the same bin, and the cutpoints are reusable artifacts (the fitted
    "model" of a Bucketizer).

    Scale: phase 1 uses operators.quantiles.exact_quantiles — a sketch-
    bracketed two-phase scheme that reproduces single-reducer
    ``percentile()`` bit-for-bit while staying fully distributed (the
    builtin exact percentile materializes the whole column in ONE
    aggregation buffer: the former 10 s hot spot here and a scale-killer
    at 100 TB).  Phase 2 is a broadcast + scan — no shuffle to assign
    bins.  Cutpoint doubles are bit-identical cross-engine (both
    implement linear-interpolated continuous quantiles; proven by
    percentiles_quantity), so strict-inequality binning is exact."""
    li = load_table(spark, "lineitem", sf_dir)
    cut = exact_quantiles(
        li, "l_extendedprice", [0.25, 0.50, 0.75], names=["q1", "q2", "q3"]
    )
    p = F.col("l_extendedprice")
    bin_col = (
        F.when(p < F.col("q1"), 0)
        .when(p < F.col("q2"), 1)
        .when(p < F.col("q3"), 2)
        .otherwise(3)
        .cast("long")
    )
    return (
        li.crossJoin(F.broadcast(cut))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(money("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality constraint report (the Deequ-style ingestion gate)
# ---------------------------------------------------------------------------


@_register(
    "table_health_report",
    """
    WITH m AS (
      SELECT count(*)::BIGINT AS total,
             count(*) FILTER (o_custkey IS NULL)::BIGINT AS null_custkey,
             (count(*) - count(DISTINCT o_orderkey))::BIGINT AS dup_orderkey,
             count(*) FILTER (o_totalprice <= 0)::BIGINT AS bad_price,
             count(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P'))::BIGINT
               AS bad_status
      FROM orders
    ),
    ri AS (
      SELECT count(*)::BIGINT AS orphans, (SELECT total FROM m) AS total
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
    )
    SELECT 'completeness:o_custkey' AS check_name, null_custkey AS violations,
           total, null_custkey = 0 AS passed FROM m
    UNION ALL
    SELECT 'uniqueness:o_orderkey', dup_orderkey, total, dup_orderkey = 0 FROM m
    UNION ALL
    SELECT 'range:o_totalprice>0', bad_price, total, bad_price = 0 FROM m
    UNION ALL
    SELECT 'accepted_values:o_orderstatus', bad_status, total, bad_status = 0
    FROM m
    UNION ALL
    SELECT 'referential:o_custkey->customer', orphans, total, orphans = 0
    FROM ri
    """,
)
def q_table_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-suite health report over ``orders`` (the Deequ-style
    ingestion gate a 100 TB pipeline runs before publishing a table):
    completeness, key uniqueness, range, accepted values, and referential
    integrity against ``customer`` — each as (check, violations, total,
    passed).

    Scale: the four scan checks fuse into ONE partial+final aggregate
    pass over the fact table (no per-check scans); the RI check is a
    key-only anti join (broadcast when the dimension fits, shuffle on the
    key otherwise — never carries payload columns). The report itself is
    5 rows regardless of table size."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    m = o.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("o_custkey").isNull()).alias("null_custkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_orderkey"),
        F.count_if(F.col("o_totalprice") <= 0).alias("bad_price"),
        F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "bad_status"
        ),
    )
    # UNHINTED (r9, the LPA-fix discipline): the docstring's "broadcast
    # when the dimension fits, shuffle otherwise" is only true if the
    # planner/AQE chooses from runtime size — a pinned F.broadcast(c)
    # would OOM on a 100 TB customer dim instead of degrading.
    orphans = (
        o.select("o_custkey")
        .join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    checks = m.crossJoin(F.broadcast(orphans)).select(
        F.expr(
            """stack(5,
            'completeness:o_custkey', null_custkey,
            'uniqueness:o_orderkey', dup_orderkey,
            'range:o_totalprice>0', bad_price,
            'accepted_values:o_orderstatus', bad_status,
            'referential:o_custkey->customer', orphans
            ) AS (check_name, violations)"""
        ),
        F.col("total"),
    )
    return checks.select(
        "check_name",
        F.col("violations").cast("bigint").alias("violations"),
        "total",
        (F.col("violations") == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# Event funnel (staged sequence analysis, ClickHouse-windowFunnel pattern)
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")


@_register(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1 GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2 GROUP BY 1
    ),
    n AS (
      SELECT (SELECT count(*) FROM v) AS n1,
             (SELECT count(*) FROM c) AS n2,
             (SELECT count(*) FROM p) AS n3
    )
    SELECT 'view' AS stage, 1::BIGINT AS stage_idx, n1::BIGINT AS n_users,
           1.0::DOUBLE AS conv_rate FROM n
    UNION ALL
    SELECT 'click', 2, n2,
           CASE WHEN n1 = 0 THEN 0.0 ELSE CAST(n2 AS DOUBLE) / n1 END FROM n
    UNION ALL
    SELECT 'purchase', 3, n3,
           CASE WHEN n2 = 0 THEN 0.0 ELSE CAST(n3 AS DOUBLE) / n2 END FROM n
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged funnel (view -> click-after-view -> purchase-after-click):
    users reaching each stage + stage-over-stage conversion.

    Spark side is the ClickHouse-windowFunnel shape: ONE shuffle on
    user_id, each user's (ts, type) sequence sorted in the aggregation
    buffer and folded left-to-right by a Catalyst lambda that advances the
    stage cursor — per-user state is 3 timestamps, per-user cost is one
    linear scan, and adding stages never adds shuffles or joins. The
    oracle is a deliberately DIFFERENT algorithm (chained min-joins), so
    the hash match checks funnel semantics, not a mirrored
    implementation. Strict time ordering (>) on both sides makes
    same-microsecond ties engine-independent."""
    ev = events_us(spark, sf_dir).filter(
        F.col("event_type").isin(*FUNNEL_STAGES)
    ).select("user_id", "ts_us", "event_type")
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts_us", "event_type"))).alias("seq")
    )
    fold = """
    aggregate(
      seq,
      named_struct('t1', CAST(NULL AS BIGINT), 't2', CAST(NULL AS BIGINT),
                   't3', CAST(NULL AS BIGINT)),
      (acc, e) -> named_struct(
        't1', CASE WHEN acc.t1 IS NULL AND e.event_type = 'view'
                   THEN e.ts_us ELSE acc.t1 END,
        't2', CASE WHEN acc.t2 IS NULL AND acc.t1 IS NOT NULL
                        AND e.event_type = 'click' AND e.ts_us > acc.t1
                   THEN e.ts_us ELSE acc.t2 END,
        't3', CASE WHEN acc.t3 IS NULL AND acc.t2 IS NOT NULL
                        AND e.event_type = 'purchase' AND e.ts_us > acc.t2
                   THEN e.ts_us ELSE acc.t3 END))
    """
    counts = seq.select(F.expr(fold).alias("f")).agg(
        F.count("f.t1").alias("n1"),
        F.count("f.t2").alias("n2"),
        F.count("f.t3").alias("n3"),
    )
    return counts.select(
        F.expr(
            """stack(3,
            'view', 1L, n1, CAST(1.0 AS DOUBLE),
            'click', 2L, n2,
              CASE WHEN n1 = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(n2 AS DOUBLE) / n1 END,
            'purchase', 3L, n3,
              CASE WHEN n2 = 0 THEN CAST(0.0 AS DOUBLE)
                   ELSE CAST(n3 AS DOUBLE) / n2 END
            ) AS (stage, stage_idx, n_users, conv_rate)"""
        )
    ).select(
        "stage",
        "stage_idx",
        F.col("n_users").cast("bigint").alias("n_users"),
        "conv_rate",
    )


# ---------------------------------------------------------------------------
# Winsorized statistics (outlier clipping at exact percentile bounds)
# ---------------------------------------------------------------------------


@_register(
    "winsorized_price_stats",
    """
    WITH cut AS (
      SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem
    )
    SELECT l_returnflag,
           count(*)::BIGINT AS n,
           count(*) FILTER (l_extendedprice < lo OR l_extendedprice > hi)
             ::BIGINT AS n_clipped,
           CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) / count(*)
             AS mean_raw,
           CAST(sum(CAST(greatest(lo, least(hi, l_extendedprice))
                         AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             AS mean_winsorized
    FROM lineitem, cut
    GROUP BY l_returnflag
    """,
)
def q_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (the outlier-robust cleaning op): clip values to the
    exact [p01, p99] band, report per-group clipped counts and raw vs
    winsorized means.

    Scale: cutpoints come from operators.quantiles.exact_quantiles (the
    distributed sketch-bracketed scheme — never a single-reducer
    percentile), broadcast as one row; clipping is per-row greatest/least;
    means aggregate in DECIMAL so both engines sum order-independently.
    Cutpoint doubles are bit-identical cross-engine, so clip decisions
    are exact."""
    li = load_table(spark, "lineitem", sf_dir)
    cut = exact_quantiles(
        li, "l_extendedprice", [0.01, 0.99], names=["lo", "hi"]
    )
    p = F.col("l_extendedprice")
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), p))
    return (
        li.crossJoin(F.broadcast(cut))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if((p < F.col("lo")) | (p > F.col("hi")))
            .cast("bigint")
            .alias("n_clipped"),
            (F.sum(money("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
                "mean_raw"
            ),
            (
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_winsorized"),
        )
    )


# ---------------------------------------------------------------------------
# CDC merge / upsert (MERGE INTO semantics without a lake format)
# ---------------------------------------------------------------------------


@_register(
    "cdc_merge_orders",
    """
    WITH updates AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice + 100.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 100 = 7
    ),
    merged AS (
      SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
             coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
             CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                  WHEN u.o_orderkey IS NULL THEN 'unchanged'
                  ELSE 'update' END AS action
      FROM orders b FULL OUTER JOIN updates u USING (o_orderkey)
    )
    SELECT action,
           count(*)::BIGINT AS n_rows,
           CAST(sum(o_totalprice::DECIMAL(14,2)) AS DOUBLE) AS total_price
    FROM merged GROUP BY action
    """,
)
def q_cdc_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert (MERGE INTO semantics): a deterministic change batch
    (10% price corrections + 1% new orders) merges into the base table
    via a full outer join on the key; per-action accounting
    (insert/update/unchanged) + decimal checksums prove the merge.

    Scale: the canonical lake-format merge shape — one shuffle of both
    sides on the merge key (or a broadcast when the change batch is
    small, which AQE picks automatically here); per-action counts are the
    audit record a production merge job emits. Updated values compose
    identically cross-engine because the mutation (+100.0) is a
    deterministic IEEE double op and checksums aggregate in DECIMAL."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .unionByName(
            o.filter(F.col("o_orderkey") % 100 == 7).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
    )
    u = updates.select(
        F.col("o_orderkey").alias("u_key"),
        F.col("o_orderstatus").alias("u_status"),
        F.col("o_totalprice").alias("u_price"),
    )
    merged = o.join(u, o.o_orderkey == u.u_key, "full_outer").select(
        F.coalesce("u_status", "o_orderstatus").alias("status"),
        F.coalesce("u_price", "o_totalprice").alias("price"),
        F.when(F.col("o_orderkey").isNull(), "insert")
        .when(F.col("u_key").isNull(), "unchanged")
        .otherwise("update")
        .alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("price").cast("decimal(14,2)")).cast("double").alias(
            "total_price"
        ),
    )


# ---------------------------------------------------------------------------
# Time-series resampling with forward-fill (gap filling onto a dense grid)
# ---------------------------------------------------------------------------

DAY_US = 86_400_000_000


@_register(
    "resample_ffill_daily",
    f"""
    WITH bounds AS (
      SELECT min(epoch_us(ts) // {DAY_US}) AS d0,
             max(epoch_us(ts) // {DAY_US}) AS d1
      FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT user_id, d FROM users, bounds,
             unnest(generate_series(d0, d1)) AS u(d)
    ),
    obs AS (
      SELECT user_id, d, value AS close FROM (
        SELECT user_id, epoch_us(ts) // {DAY_US} AS d, value,
               row_number() OVER (
                 PARTITION BY user_id, epoch_us(ts) // {DAY_US}
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    ff AS (
      SELECT g.user_id, g.d, o.close,
             last_value(o.close IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.d = o.d
    )
    SELECT user_id,
           count(*)::BIGINT AS n_days,
           count(close)::BIGINT AS n_observed,
           (count(filled) - count(close))::BIGINT AS n_filled,
           (count(*) - count(filled))::BIGINT AS n_leading_gaps,
           CAST(sum(filled::DECIMAL(12,2)) AS DOUBLE) AS filled_checksum
    FROM ff GROUP BY user_id
    """,
)
def q_resample_ffill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's event stream onto the dense daily grid and
    forward-fill gaps (the observability / feature-store gap-fill op):
    per user, observed vs filled vs never-observed days plus a decimal
    checksum of the filled series.

    Daily close = last value of the day (ties broken on event_id, so the
    pick is deterministic under any partitioning). Scale: the grid is
    |users| x |days| skinny rows generated by sequence-explode (never a
    cartesian of real data); the close pick shuffles on (user_id, day)
    with the events pre-collapsed by the rank filter, then the
    join/fill/aggregate chain runs keyed on user_id — each shuffle
    carries only (user, day, value) skinny rows, never event payloads."""
    ev = events_us(spark, sf_dir).select(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("d"), "value", "event_id"
    )
    from pyspark.sql import Window as W

    bounds = ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    obs = (
        events_us(spark, sf_dir)
        .select(
            "user_id",
            F.expr(f"ts_us div {DAY_US}").alias("d"),
            "value",
            "ts_us",
            "event_id",
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "d").orderBy(
                    F.desc("ts_us"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "d", F.col("value").alias("close"))
    )
    w_ff = (
        W.partitionBy("user_id").orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    )
    ff = (
        grid.join(obs, ["user_id", "d"], "left")
        .withColumn("filled", F.last("close", ignorenulls=True).over(w_ff))
    )
    return ff.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count("close").alias("n_observed"),
        (F.count("filled") - F.count("close")).cast("bigint").alias("n_filled"),
        (F.count(F.lit(1)) - F.count("filled")).cast("bigint").alias(
            "n_leading_gaps"
        ),
        F.sum(F.col("filled").cast("decimal(12,2)")).cast("double").alias(
            "filled_checksum"
        ),
    )


# ---------------------------------------------------------------------------
# Record linkage (fuzzy entity matching with blocking + ground truth)
# ---------------------------------------------------------------------------

LINKAGE_T = 0.5  # candidate floor; top-1 decides the link
# Pair-work cap in MOD form, cross-table variant (r9; r10: hashed cell
# key + plan-time adaptivity — operators/chunking.py): nation blocks
# split into ceil(|nation|/CHUNK) cells by seeded_hash64(s_suppkey) on
# BOTH registers — the same arithmetic on the same SHARED key set, so
# every planted ground-truth pair stays co-chunked (recall 100% at ANY
# nch — unlike the self-join dedup queries, this form is NOT
# approximate past the cap) and pair volume is O(N·CHUNK), not
# Σ|nation|².  (Mod, not rank: nations are a FIXED 25, so a rank window
# is 25 single-task sorts over a growing register — the skew hazard the
# semdedup conversion removed; mod needs only the 25-row count rollup.)
# 64 leaves every real SF bit-identical (largest nation block: 52 at
# sf0.1 ⇒ nch=1 ⇒ the adaptive helper builds the unchunked plan); the
# r9 full-chain synth decade (52→520 per nation after supplier
# replication) measured the unchunked form at 51x.
LINKAGE_CHUNK = 64


def _linkage_oracle() -> str:
    from pedri_analysis_spark.functions import textexpr as tx
    from pedri_analysis_spark.operators import chunking as chk

    cg = lambda col: tx.char_ngrams(tx.DUCK, col, 3)
    chunk = tx.chunk_of(tx.DUCK, "s.s_suppkey", "bc.nch")
    return f"""
    WITH bc AS (
      SELECT s_nationkey, {chk.nch_sql(LINKAGE_CHUNK)} AS nch
      FROM supplier GROUP BY s_nationkey
    ),
    clean AS (
      SELECT s.s_suppkey, s.s_nationkey, lower(s.s_name) AS nm,
             {cg('lower(s.s_name)')} AS cg, {chunk} AS chunk
      FROM supplier s JOIN bc ON s.s_nationkey = bc.s_nationkey
    ),
    dirty AS (
      SELECT s.s_suppkey AS src_key, s.s_nationkey,
             lower(replace(s.s_name, '2', 'Z') || ' ltd') AS nm,
             {chunk} AS chunk
      FROM supplier s JOIN bc ON s.s_nationkey = bc.s_nationkey
    ),
    dg AS (
      SELECT src_key, s_nationkey, chunk, {cg('nm')} AS cg FROM dirty
    ),
    scored AS (
      SELECT d.src_key, d.s_nationkey, c.s_suppkey AS cand,
             len(list_intersect(d.cg, c.cg))::DOUBLE
               / len(list_distinct(d.cg || c.cg)) AS sim
      FROM dg d JOIN clean c
        ON d.s_nationkey = c.s_nationkey AND d.chunk = c.chunk
      WHERE len(list_intersect(d.cg, c.cg))::DOUBLE
              / len(list_distinct(d.cg || c.cg)) >= {LINKAGE_T}
    ),
    best AS (
      SELECT src_key, s_nationkey, cand FROM (
        SELECT *, row_number() OVER (PARTITION BY src_key
                                     ORDER BY sim DESC, cand ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.s_nationkey,
           count(*)::BIGINT AS n_dirty,
           count(b.cand)::BIGINT AS n_linked,
           count(*) FILTER (b.cand = d.src_key)::BIGINT AS n_top1_correct,
           CAST(count(*) FILTER (b.cand = d.src_key) AS DOUBLE) / count(*)
             AS top1_accuracy
    FROM dirty d LEFT JOIN best b ON d.src_key = b.src_key
    GROUP BY d.s_nationkey
    """


@_register("record_linkage_suppliers", _linkage_oracle())
def q_record_linkage_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution: a deterministically corrupted
    supplier register (digit swap + ' ltd' suffix) is matched back to the
    clean table by char-3-gram Jaccard within nation blocks; top-1
    accuracy against the planted ground truth is reported per nation.

    Scale (r9 chunk-cap fix; r10 hashed + adaptive): blocking bounds
    the candidate join to the nation block, but nations are a FIXED
    25, so block membership grows with the register and the r9
    full-chain synth decade measured the unchunked join at 51x for 10x
    data.  Both registers therefore split into
    ceil(|nation|/LINKAGE_CHUNK) cells by seeded_hash64(s_suppkey)
    (operators/chunking.py) — the same arithmetic on the SHARED key
    set, so every planted ground-truth pair stays co-chunked at any
    nch (this cross-register form loses NO recall past the cap, unlike
    the self-join dedup caps), pair volume is O(N·CHUNK), and the
    oracle mirrors the hash arithmetic bit-for-bit (bit-identical at
    every real SF; the cap exceeds the largest real block ⇒ nch=1 ⇒
    unchunked plan).  Mod, not rank: a rank window over 25 fixed
    nation partitions is 25 single-task sorts at any register size
    (the skew hazard the semdedup conversion removed); the mod form
    needs only the 25-row count rollup.  At real scale the chunk key
    is an LSH bucket of the name — the same banded topology the dedup
    family uses.  Similarity is JVM array math on pre-materialized
    n-gram sets; the top-1 pick is a per-source window rank.  This is
    the cross-TABLE variant of near-dup detection — the join keeps
    source and candidate registers distinct."""
    from pedri_analysis_spark.functions import textexpr as tx
    from pedri_analysis_spark.operators import chunking as chk

    sup = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey", "s_name"
    )
    sup = chk.mod_chunk(sup, ["s_nationkey"], "s_suppkey", LINKAGE_CHUNK)
    cg = lambda e: tx.char_ngrams(tx.SPARK, e, 3)
    clean = sup.select(
        F.col("s_suppkey").alias("cand"),
        "s_nationkey",
        "chunk",
        F.expr(cg("lower(s_name)")).alias("cg_c"),
    )
    dirty = sup.select(
        F.col("s_suppkey").alias("src_key"),
        "s_nationkey",
        "chunk",
        F.expr(cg("lower(replace(s_name, '2', 'Z') || ' ltd')")).alias("cg_d"),
    )
    sim = F.size(F.array_intersect("cg_d", "cg_c")).cast("double") / F.size(
        F.array_union("cg_d", "cg_c")
    )
    scored = (
        dirty.join(clean, ["s_nationkey", "chunk"])
        .withColumn("sim", sim)
        .filter(F.col("sim") >= LINKAGE_T)
    )
    from pyspark.sql import Window as W

    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("src_key").orderBy(F.desc("sim"), F.asc("cand"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("src_key", "cand")
    )
    return (
        dirty.select("src_key", "s_nationkey")
        .join(best, "src_key", "left")
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_dirty"),
            F.count("cand").alias("n_linked"),
            F.count_if(F.col("cand") == F.col("src_key"))
            .cast("bigint")
            .alias("n_top1_correct"),
            (
                F.count_if(F.col("cand") == F.col("src_key")).cast("double")
                / F.count(F.lit(1))
            ).alias("top1_accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# Unpivot (wide -> long reshape)
# ---------------------------------------------------------------------------


@_register(
    "unpivot_lineitem_measures",
    """
    SELECT l_returnflag, measure,
           CAST(sum(val::DECIMAL(12,2)) AS DOUBLE) AS total
    FROM (
      SELECT l_returnflag, l_quantity, l_extendedprice, l_discount
      FROM lineitem
    ) UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
    GROUP BY 1, 2
    """,
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (melt): unpivot the three lineitem measure
    columns into (measure, value) rows, then aggregate per
    (returnflag, measure) — the reshape every long-format metrics store
    and plotting pipeline needs (SURVEY §2.10's tidy-data side).

    Scale: unpivot is an Expand node — a zero-shuffle per-row map that
    emits one row per measure; the only exchange is the partial-agg'd
    groupBy.  The measure columns are pruned at the scan (ReadSchema is
    exactly the 4 used columns)."""
    li = load_table(spark, "lineitem", sf_dir)
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        dsum(money("val")).alias("total")
    )


# ---------------------------------------------------------------------------
# Multi-join analytics (TPC-H Q8 / Q18 patterns)
# ---------------------------------------------------------------------------


@_register(
    "market_share_by_year",
    """
    WITH rev AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             sn.n_name AS supp_nation,
             l.l_extendedprice::DECIMAL(12,2) * (1 - l.l_discount)::DECIMAL(4,2) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT yr,
           CAST(sum(CASE WHEN supp_nation = 'NATION_8' THEN rev ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE) AS mkt_share,
           CAST(sum(rev) AS DOUBLE) AS total_rev
    FROM rev GROUP BY 1
    """,
)
def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8's national-market-share pattern: NATION_8's (a EUROPE
    member in this synthetic data) share of
    discounted revenue sold into EUROPE-region customers, per order year
    — the deep star join (7 tables, two independent dimension arms off
    the fact) that exercises Catalyst's join planning.

    Determinism: revenue terms are exact DECIMAL products summed in
    DECIMAL; the share is one double division of two exact values.

    Scale: the EUROPE-customer arm prunes ORDERS before the fact join
    (inner joins commute), so the one big-big shuffle moves only the
    ~1/|regions| of orders that survive — and AQE, seeing the shrunken
    build side at the stage boundary, demotes it to a broadcast join
    locally; every other arm — customer->nation->region and
    supplier->nation — collapses to broadcast hash joins.  The final
    aggregate is partial-agg'd to |years| rows."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")

    euro_cust = (
        c.join(
            F.broadcast(
                n.join(
                    F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
                    n.n_regionkey == r.r_regionkey,
                ).select("n_nationkey")
            ),
            c.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))

    rev = money("l_extendedprice") * factor(1 - F.col("l_discount"))
    # Join order matters (guide §3): filter orders through the EUROPE
    # customer arm FIRST (broadcast semi-shape, no shuffle), so the
    # orderkey join only sees the surviving ~1/|regions| of orders.
    o_euro = o.join(euro_cust, o.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    base = (
        li.join(o_euro, li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year(F.col("o_orderdate").cast("timestamp"))
            .cast("bigint")
            .alias("yr"),
            "supp_nation",
            rev.alias("rev"),
        )
    )
    focal = F.when(F.col("supp_nation") == "NATION_8", F.col("rev")).otherwise(
        F.lit(0).cast(base.schema["rev"].dataType)
    )
    return base.groupBy("yr").agg(
        (F.sum(focal).cast("double") / F.sum("rev").cast("double")).alias(
            "mkt_share"
        ),
        F.sum("rev").cast("double").alias("total_rev"),
    )


Q18_QTY_THRESHOLD = 200


@_register(
    "big_orders_q18",
    f"""
    WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1
      HAVING sum(l_quantity::DECIMAL(12,2)) > {Q18_QTY_THRESHOLD}
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           epoch_us(o.o_orderdate) AS orderdate_us,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q_big_orders_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18's large-volume-customer pattern: aggregate the fact to
    find orders whose total quantity clears a threshold (HAVING on a
    decimal sum), then enrich the surviving keys through orders and
    customer — the aggregate-filter-then-join chain.

    Scale: the HAVING collapses lineitem to the qualifying orderkeys
    BEFORE any join — the join probe side is |big orders|, not
    |lineitem|; orders joins on its key, customer broadcasts, and the
    top-100 is TakeOrderedAndProject (no global sort)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > Q18_QTY_THRESHOLD)
        .select("l_orderkey", F.col("sum_qty_dec").cast("double").alias("sum_qty"))
    )
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            epoch_us(F.col("o_orderdate")).alias("orderdate_us"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Top-N per group (nested ranking) — the canonical windowed-rank shape
# ---------------------------------------------------------------------------

TOPN_PER_NATION = 3


@_register(
    "top_parts_per_nation",
    f"""
    WITH rev AS (
      SELECT n.n_name, l.l_partkey,
             sum(l.l_extendedprice::DECIMAL(12,2)) AS rev
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name, l.l_partkey
    ),
    ranked AS (
      SELECT n_name, l_partkey, rev,
             row_number() OVER (
               PARTITION BY n_name ORDER BY rev DESC, l_partkey ASC
             ) AS rn
      FROM rev
    )
    SELECT n_name, rn, l_partkey, CAST(rev AS DOUBLE) AS revenue
    FROM ranked WHERE rn <= {TOPN_PER_NATION}
    ORDER BY n_name, rn
    """,
)
def q_top_parts_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPN_PER_NATION} parts by supplier-nation revenue — the
    canonical top-N-per-group shape (windowed row_number + filter),
    distinct from global top-k (heap) and per-group argmax (max_by).

    Scale: one fact shuffle for the (nation, part) aggregate (both dims
    broadcast); the rank window partitions on nation over the ALREADY
    REDUCED frame (|nations × parts| rows, never the fact table), so no
    single-partition sort exists anywhere; revenue in DECIMAL makes the
    rank order deterministic cross-engine, tie-broken on partkey."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("n_name", "l_partkey")
        .agg(dsum(money("l_extendedprice")).alias("rev"))
    )
    w = W.partitionBy("n_name").orderBy(F.desc("rev"), F.asc("l_partkey"))
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPN_PER_NATION)
        .select(
            "n_name", "rn", "l_partkey", F.col("rev").cast("double").alias("revenue")
        )
        .orderBy("n_name", "rn")
    )
