"""Advanced relational + data-quality patterns (round-6 widening).

Four classic decision-support shapes the catalog did not yet exercise
(TPC-H Q13/Q19/Q21/Q22 analogues adapted to this schema — no partsupp /
receipt-commit dates in the testdata), a 2-D skyline (Pareto frontier)
computed in one window pass instead of a quadratic self-join, a
referential-integrity audit over every FK edge of the star schema, a
moment-disciplined z-score anomaly detector, a median/MAD robust-outlier
report, and a re-aggregatable HyperLogLog sketch rollup
(nation-level sketches merged to region level — the pattern that makes
COUNT DISTINCT re-aggregatable across a 100 TB rollup hierarchy).

Same oracle discipline as plans.relational: exact DECIMAL aggregation
cast to DOUBLE, identical scalar formulas on both engines, booleans for
approximate assertions so the driver hash check stays stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.functions import textexpr as tx_mod
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.relational import (
    dsum,
    events_us,
    factor,
    money,
)
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# --------------------------------------------------------------------------
# TPC-H Q13 analogue: distribution of order counts per customer.
# --------------------------------------------------------------------------
@_register(
    "customer_order_distribution",
    """
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with an extra join-side predicate,
    per-customer count, then a histogram of the counts.  The join and the
    first aggregate share the customer key, so Catalyst reuses one
    shuffle partitioning for both; the second aggregate's domain is the
    tiny set of distinct counts (≤ max orders per customer) and is
    map-side-combined to almost nothing.  Ref: core query-shape parity
    (reference has no partsupp either)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


# --------------------------------------------------------------------------
# TPC-H Q19 analogue: disjunctive join predicate (OR of conjunctions).
# --------------------------------------------------------------------------
@_register(
    "disjunctive_revenue_q19",
    """
    SELECT
      CAST(sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2)) AS DOUBLE)
        AS revenue,
      count(*)::BIGINT AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_disjunctive_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR-of-conjunctions predicate that mixes both
    join sides.  Catalyst extracts the single-side conjuncts that are
    common across branches — here each branch constrains p_brand/p_size
    and l_quantity, so the union-of-branches bounds (quantity ∈ [1,30],
    brand ∈ {12,23,34}) are pushed below the join as partial filters and
    the full disjunction is evaluated post-join.  The part side is
    broadcast (small dim), so the whole query is one scan + one
    broadcast-hash-join + a 1-row aggregate."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    branch = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(
        branch("Brand#12", 5, 1, 11)
        | branch("Brand#23", 10, 10, 20)
        | branch("Brand#34", 15, 20, 30)
    )
    return joined.agg(
        dsum(money("l_extendedprice") * factor(1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# TPC-H Q21 analogue: suppliers solely responsible for a failed order.
# --------------------------------------------------------------------------
@_register(
    "sole_blame_suppliers",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_r
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s.s_name, count(*)::BIGINT AS numwait
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
    JOIN per_order po ON po.l_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_returnflag = 'R' AND po.n_supp > 1 AND po.n_r = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS another supplier on the order + NOT EXISTS
    another supplier who also returned).  The textbook formulation is two
    correlated self-joins on lineitem — two extra shuffles of the fact
    table and a row-explosion hazard on big orders.  Rewritten as a
    per-order aggregate computing (distinct suppliers, distinct suppliers
    with returnflag R); the EXISTS pair collapses to `n_supp > 1 AND
    n_r = 1`.  At 100 TB that's two map-side-combinable shuffles —
    (order, supplier) then order, deliberately staged because a double
    countDistinct would plan as an Expand with 2× row multiplication
    (pinned by test_q21_per_order_aggregate_has_no_expand) — the second
    on the same key the subsequent fact join uses, then a broadcast of
    the supplier dim and a TakeOrderedAndProject for the deterministic
    top-20 (tie-broken on s_name)."""
    li = load_table(spark, "lineitem", sf_dir)
    # Two-stage distinct instead of a double countDistinct: the latter
    # plans as an Expand (2× row multiplication) with an extra exchange;
    # grouping to (order, supplier) first partial-combines both counts
    # out of one pass with no row expansion.
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
        ).alias("has_r")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_r"),
    )
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, "supplier", sf_dir)
    blamed = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_r") == 1)),
              on="l_orderkey")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
    )
    return (
        blamed.groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# TPC-H Q22 analogue: rich customers with no urgent orders, by nation.
# --------------------------------------------------------------------------
@_register(
    "idle_rich_customers",
    """
    WITH thresh AS (
      SELECT CAST(sum(c_acctbal::DECIMAL(12,2)) AS DOUBLE) / count(*) AS cutoff
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name,
           count(*)::BIGINT AS numcust,
           CAST(sum(c.c_acctbal::DECIMAL(12,2)) AS DOUBLE) AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    CROSS JOIN thresh
    WHERE c.c_acctbal > thresh.cutoff
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY n.n_name
    """,
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (average positive
    balance) + anti-join (customers with no urgent orders), grouped by
    nation.  The threshold is a 1-row aggregate broadcast into a cross
    join (no shuffle); the anti join shuffles on custkey only for the
    already-filtered rich slice; the nation dim is broadcast.  The cutoff
    is computed as exact-DECIMAL sum / count so the comparison is
    bit-identical cross-engine (a plain double avg would be
    order-dependent)."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    urgent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum(money("c_acctbal")) / F.count(F.lit(1))).alias("cutoff")
    )
    rich = (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("cutoff"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
    )
    return (
        rich.join(F.broadcast(n), rich.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            dsum(money("c_acctbal")).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) in one window pass.
# --------------------------------------------------------------------------
@_register(
    "skyline_parts_2d",
    """
    WITH pts AS (
      SELECT p_retailprice AS price, p_size AS psize, count(*)::BIGINT AS n_parts
      FROM part WHERE p_brand = 'Brand#23'
      GROUP BY p_retailprice, p_size
    )
    SELECT price, psize, n_parts
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.price <= a.price AND b.psize >= a.psize
        AND (b.price < a.price OR b.psize > a.psize)
    )
    """,
)
def q_skyline_parts_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: parts not dominated on (minimize price, maximize
    size).  The naive formulation (the oracle) is a quadratic NOT EXISTS
    self-join; for two dimensions the frontier is computable in one sort:
    order distinct points by price ASC, size DESC, and keep a point iff
    its size strictly exceeds the running max size of all
    strictly-preceding (cheaper-or-equal) points.  Equal (price,size)
    duplicates collapse in the distinct aggregate; an equal-price larger
    size always precedes and correctly dominates.  At 100 TB this is one
    hash agg + one range-partitioned sort — no pair explosion.  (The
    single-partition window over *distinct* points is fine: the distinct
    (price,size) domain is bounded by the value grid, not the row
    count; for an unbounded domain you'd pre-filter with per-partition
    local skylines first, which this plan composes with trivially.)"""
    p = load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#23")
    pts = p.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    return skyline_2d(pts).select("price", "psize", "n_parts")


# --------------------------------------------------------------------------
# Referential-integrity audit across every FK edge of the star schema.
# --------------------------------------------------------------------------
_FK_EDGES = [
    # (edge label, child table, fk col, parent table, pk col)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_oracle() -> str:
    parts = []
    for label, child, fk, parent, pk in _FK_EDGES:
        parts.append(
            f"""
    SELECT '{label}' AS edge,
           (SELECT count(*) FROM {child})::BIGINT AS n_rows,
           ((SELECT count(*) FROM {child})
            - (SELECT count(*) FROM {child}
               WHERE {fk} IN (SELECT {pk} FROM {parent})))::BIGINT AS n_orphans
    """
        )
        parts.append("    UNION ALL")
    return "\n".join(parts[:-1])


def skyline_2d(pts: DataFrame, x: str = "price", y: str = "psize") -> DataFrame:
    """Keep the rows of ``pts`` (distinct on (x, y)) not dominated under
    (minimize x, maximize y): sort by x ASC, y DESC and keep a point iff
    its y strictly exceeds the running max y over all preceding points.
    O(n log n) — one range-partitioned sort, no pair join."""
    w = W.orderBy(F.asc(x), F.desc(y)).rowsBetween(W.unboundedPreceding, -1)
    return (
        pts.withColumn("_max_prev", F.max(y).over(w))
        .filter(F.col("_max_prev").isNull() | (F.col(y) > F.col("_max_prev")))
        .drop("_max_prev")
    )


@_register("referential_integrity_audit", _fk_oracle())
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: orphan counts for every FK edge of the schema —
    the check a 100 TB ingest pipeline runs before publishing a snapshot.
    Each edge is ONE scan of the child: a LEFT OUTER join against the
    deduplicated parent-key projection (cannot widen rows — the parent
    side is distinct on the key) feeds a single aggregate computing
    count(*) and count(matched pk); orphans are the difference.  (The
    semi-join-count formulation the oracle spells needs a second child
    scan for the total — at 100 TB the child scan dominates, so one
    pass wins.)  Spark broadcasts the small dims and AQE picks
    shuffle-hash for the big ones.  NULL FKs count as orphans on both
    engines (NULL never matches a join / IN)."""
    frames = []
    for label, child, fk, parent, pk in _FK_EDGES:
        ch = load_table(spark, child, sf_dir).select(F.col(fk).alias("fk"))
        par = load_table(spark, parent, sf_dir).select(F.col(pk).alias("pk")).distinct()
        frames.append(
            ch.join(par, ch.fk == par.pk, "left_outer")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count("pk"))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select(F.lit(label).alias("edge"), "n_rows", "n_orphans")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# --------------------------------------------------------------------------
# Z-score anomaly detection over daily event value totals.
# --------------------------------------------------------------------------
@_register(
    "anomaly_zscore_daily",
    """
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS day_idx,
             CAST(sum(value::DECIMAL(12,2)) AS DOUBLE) AS day_total
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             count(*)::DOUBLE AS n,
             CAST(sum(day_total::DECIMAL(14,2)) AS DOUBLE) AS sx,
             CAST(sum(day_total::DECIMAL(14,2) * day_total::DECIMAL(14,2)) AS DOUBLE) AS sxx
      FROM daily GROUP BY 1
    ),
    usable AS (
      SELECT * FROM stats
      WHERE CASE WHEN n > 1 THEN (sxx - sx * sx / n) / (n - 1) ELSE 0 END > 0
    )
    SELECT d.event_type, d.day_idx::BIGINT AS day_idx, d.day_total,
           (d.day_total - s.sx / s.n)
             / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)) AS zscore
    FROM daily d JOIN usable s ON s.event_type = d.event_type
    WHERE abs((d.day_total - s.sx / s.n)
              / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1))) > 1.5
    """,
)
def q_anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: flag days whose per-type revenue is
    more than 1.5 sample standard deviations from that type's mean.  The
    daily totals aggregate in exact DECIMAL (order-independent), and the
    mean/stddev derive from exact decimal moments (n, Σx, Σx²) via the
    same closed-form formula text on both engines — the
    stats_moments_exact discipline — so the double z-scores are
    bit-identical.  Two map-side-combinable aggregates + a broadcast of
    the k-row stats frame; nothing here grows super-linearly at 100 TB
    (days × types is the small side).

    Degenerate groups are excluded BEFORE the formula with the identical
    predicate on both engines: n = 1 makes the divisor (n − 1) zero
    (Spark's ANSI-default session throws DIVIDE_BY_ZERO where DuckDB
    returns NULL), and a zero-variance group can round the radicand to
    a tiny negative (DuckDB's sqrt throws where Spark returns NaN) — a
    z-score is meaningless for either, so both are filtered, not
    clamped."""
    ev = events_us(spark, sf_dir)
    d14 = lambda c: F.col(c).cast("decimal(14,2)")
    daily = ev.groupBy(
        "event_type",
        F.expr("ts_us div 86400000000").cast("bigint").alias("day_idx"),
    ).agg(F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("day_total"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d14("day_total")).cast("double").alias("sx"),
        F.sum(d14("day_total") * d14("day_total")).cast("double").alias("sxx"),
    )
    # CASE (not an AND conjunct) so the division is provably unevaluated
    # at n = 1 — neither engine guarantees AND short-circuit order.
    usable = stats.filter(
        F.expr(
            "CASE WHEN n > 1 THEN (sxx - sx * sx / n) / (n - 1) ELSE 0 END"
        )
        > 0
    )
    z = F.expr(
        "(day_total - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1))"
    )
    return (
        daily.join(F.broadcast(usable), on="event_type")
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 1.5)
        .select("event_type", "day_idx", "day_total", "zscore")
    )


# --------------------------------------------------------------------------
# Median / MAD robust outlier report.
# --------------------------------------------------------------------------
@_register(
    "mad_robust_outliers",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY 1
    ),
    dev AS (
      SELECT l.l_returnflag, abs(l.l_extendedprice - m.med) AS ad, m.med
      FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag
    ),
    mad AS (
      SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.l_returnflag,
           any_value(d.med) AS median_price,
           any_value(x.mad) AS mad_price,
           count(*)::BIGINT AS n_rows,
           sum(CASE WHEN d.ad > 3 * 1.4826 * x.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers
    FROM dev d JOIN mad x ON x.l_returnflag = d.l_returnflag
    GROUP BY d.l_returnflag
    """,
)
def q_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per-group median, median-absolute-
    deviation, and the count of rows beyond 3·1.4826·MAD (the normal-
    consistent robust sigma).  Exact interpolated percentiles
    (Spark `percentile` ≡ DuckDB `quantile_cont`: index p·(n−1), linear
    interpolation of doubles) and identical threshold formula text keep
    the doubles bit-identical.  Plan: two percentile aggregates (each a
    single shuffle on the 3-value group key) with the k-row median/MAD
    frames broadcast back — a 100 TB plan as long as the group-key
    cardinality is modest; for high-cardinality keys you swap
    `percentile` for `approx_percentile` and keep the same shape."""
    from pedri_analysis_spark.operators import spread

    # spread (r15): three consumers scan this frame (median agg, the
    # deviation join, the final rollup) and a single-row-group input
    # serializes each scan's map side on one core.
    li = spread(
        load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_extendedprice")
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med")
    )
    dev = li.join(F.broadcast(med), on="l_returnflag").withColumn(
        "ad", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), on="l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("med").alias("median_price"),
            F.first("mad").alias("mad_price"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("ad") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Re-aggregatable HyperLogLog sketch rollup (nation -> region merge).
# --------------------------------------------------------------------------
@_register(
    "hll_sketch_rollup",
    """
    WITH per_nation AS (
      SELECT n.n_regionkey, c.c_nationkey,
             count(DISTINCT o.o_custkey) AS exact_nation
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT r.r_name,
           (SELECT count(DISTINCT o.o_custkey)
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE n.n_regionkey = r.r_regionkey)::BIGINT AS exact_customers,
           count(*)::BIGINT AS n_nations,
           TRUE AS merged_within_5pct
    FROM per_nation pn JOIN region r ON r.r_regionkey = pn.n_regionkey
    GROUP BY r.r_name, r.r_regionkey
    """,
)
def q_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting: build one Apache DataSketches
    HLL sketch of ordering customers PER NATION (`hll_sketch_agg`), then
    MERGE the binary sketches up to region level (`hll_union_agg`) —
    never re-touching the fact table.  This is the pattern that makes
    COUNT DISTINCT work in a 100 TB rollup hierarchy: the expensive scan
    happens once at the finest grain, and every coarser grain is a
    sketch union over k rows.  The driver-checked contract is the exact
    region-level count plus a boolean asserting the merged estimate
    lands within 5% (HLL lgK=12 ⇒ ~1.6% rsd), the approx_distinct_parts
    oracle discipline."""
    o = load_table(spark, "orders", sf_dir).select("o_custkey")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_regionkey")
    r = load_table(spark, "region", sf_dir)
    fact = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    per_nation = fact.groupBy("n_regionkey", "c_nationkey").agg(
        F.hll_sketch_agg("o_custkey", F.lit(12)).alias("sketch")
    )
    merged = per_nation.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_customers"),
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
    )
    exact_region = fact.groupBy("n_regionkey").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_customers")
    )
    return (
        merged.join(exact_region, on="n_regionkey")
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            "r_name",
            "exact_customers",
            "n_nations",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                / F.col("exact_customers")
                <= 0.05
            ).alias("merged_within_5pct"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q5 analogue: local supplier volume inside one region.
# --------------------------------------------------------------------------
@_register(
    "local_supply_revenue_q5",
    """
    SELECT n.n_name,
           CAST(sum(l.l_extendedprice::DECIMAL(12,2)
                    * (1 - l.l_discount)::DECIMAL(4,2)) AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_lines
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q_local_supply_revenue_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where the supplier and the customer share
    a nation, restricted to one region and one order year.  The
    distinguishing feature is the EXTRA equality (s_nationkey =
    c_nationkey) that links the two dimension arms — it becomes part of
    the supplier join condition, not a post-join filter, so mismatched
    rows never materialize.  The date filter pushes to the orders scan;
    the region filter prunes nation (broadcast) before it touches the
    fact; the only big-big shuffle is lineitem ⋈ orders."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    asian_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(asian_nations), c.c_nationkey == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        dsum(money("l_extendedprice") * factor(1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# TPC-H Q7 analogue: bilateral trade volume between two nations.
# --------------------------------------------------------------------------
@_register(
    "bilateral_trade_q7",
    """
    SELECT supp_nation, cust_nation, yr,
           CAST(sum(rev) AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_lines
    FROM (
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS yr,
             l.l_extendedprice::DECIMAL(12,2) * (1 - l.l_discount)::DECIMAL(4,2) AS rev
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
         OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q_bilateral_trade_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between a nation PAIR in both
    directions, by ship year.  The pair disjunction references both
    dimension arms, so it can only fully evaluate post-join — but each
    arm's single-side implication (nation ∈ {NATION_1, NATION_2}) is
    pushed into the broadcast nation dims, shrinking both supplier and
    customer arms to the two-nation slice before the fact join."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    pair = ("NATION_1", "NATION_2")
    n2 = load_table(spark, "nation", sf_dir).filter(F.col("n_name").isin(*pair))
    sn = n2.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n2.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("yr"),
    ).agg(
        dsum(money("l_extendedprice") * factor(1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# TPC-H Q10 analogue: top customers by returned-item revenue.
# --------------------------------------------------------------------------
@_register(
    "returned_item_customers_q10",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(l.l_extendedprice::DECIMAL(12,2)
                    * (1 - l.l_discount)::DECIMAL(4,2)) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_returned_item_customers_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a
    half-year window, top 20.  Revenue sums in exact DECIMAL so the
    double sort keys are bit-identical cross-engine; ties break on
    c_custkey for a deterministic LIMIT.  The returnflag and date
    filters push to the two fact scans before the orderkey shuffle;
    TakeOrderedAndProject keeps the top-20 merge on the driver at k
    rows."""
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey"
    )
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(
                money("l_extendedprice") * factor(1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# TPC-H Q14 analogue: promo revenue share in one month.
# --------------------------------------------------------------------------
@_register(
    "promo_revenue_share_q14",
    """
    SELECT
      100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                 THEN l.l_extendedprice::DECIMAL(12,2) * (1 - l.l_discount)::DECIMAL(4,2)
                 ELSE 0::DECIMAL(12,2) END) AS DOUBLE)
        / CAST(sum(l.l_extendedprice::DECIMAL(12,2) * (1 - l.l_discount)::DECIMAL(4,2)) AS DOUBLE)
        AS promo_share_pct,
      count(*)::BIGINT AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY ()
    """,
)
def q_promo_revenue_share_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue from PROMO
    parts — a conditional-aggregate ratio.  Both the numerator and
    denominator sum in exact DECIMAL and divide once in double (same
    formula text both engines).  Date filter pushes to the lineitem
    scan; the part dim is broadcast; the result is one row."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    rev = money("l_extendedprice") * factor(1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * F.sum(promo).cast("double")
             / F.sum(rev).cast("double")).alias("promo_share_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q15 analogue: top supplier(s) by quarterly revenue.
# --------------------------------------------------------------------------
@_register(
    "top_supplier_q15",
    """
    WITH srev AS (
      SELECT l_suppkey,
             sum(l_extendedprice::DECIMAL(12,2) * (1 - l_discount)::DECIMAL(4,2))
               AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(v.total AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN srev v ON v.l_suppkey = s.s_suppkey
    WHERE v.total = (SELECT max(total) FROM srev)
    """,
)
def q_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals
    the global max — a scalar MAX subquery over an aggregated view.  The
    per-supplier totals stay exact DECIMAL so the max comparison is an
    exact equality (a double max would make 'equals the max' fragile).
    Plan: one partial-agg'd shuffle on suppkey, a 1-row max broadcast
    back over the k-row totals frame, then a broadcast supplier-dim
    join — the fact table is scanned once."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    srev = li.groupBy("l_suppkey").agg(
        F.sum(money("l_extendedprice") * factor(1 - F.col("l_discount"))).alias(
            "total"
        )
    )
    mx = srev.agg(F.max("total").alias("mx"))
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("total") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total").cast("double").alias("total_revenue")
        )
    )


# --------------------------------------------------------------------------
# Inverted index: posting lists for the highest-document-frequency terms.
# --------------------------------------------------------------------------
@_register(
    "inverted_index_postings",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct({tx_mod.tokens(tx_mod.DUCK, 'text')})) AS term
      FROM documents
    )
    SELECT term,
           count(*)::BIGINT AS df,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 50), ',')
             AS postings
    FROM toks
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 25
    """,
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index construction: per-term document frequency and a
    sorted, capped posting list for the 25 most frequent terms.  Terms
    explode from per-document DISTINCT tokens (so df is a document
    count, not a term count); posting arrays are sorted and sliced to a
    fixed cap so hot terms ('the') cannot produce gigabyte rows — the
    same degenerate-bucket cap discipline the LSH dedup uses.  One
    explode → one partial-agg'd shuffle on term → TakeOrderedAndProject;
    at 100 TB the posting lists for genuinely hot terms would be
    range-bucketed per (term, shard) instead, which this shape extends
    to by adding a shard key to the groupBy.

    The posting list is serialized to a comma-joined STRING (the
    pedri_lineup_positions convention, plans/pedri_profile_queries.py):
    final output columns must be flat scalars — array cells are not
    hashable by pandas-based result comparators.  The oracle tokenizes
    via the shared tx_mod.tokens builder so empty/whitespace-only
    documents yield no terms on either engine."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(tx_mod.tokens(tx_mod.SPARK, "text")))
        ).alias("term"),
    )
    postings = F.slice(F.array_sort(F.collect_list("doc_id")), 1, 50)
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.array_join(
                F.transform(postings, lambda x: x.cast("string")), ","
            ).alias("postings"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# SCD2 history: validity intervals from an event change log.
# --------------------------------------------------------------------------
@_register(
    "scd2_user_history",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id % 50 = 0
    ),
    dedup AS (
      SELECT user_id, event_type, ts_us, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
               AS prev_type
      FROM ev
    ),
    changes AS (
      SELECT user_id, event_type, ts_us, event_id FROM dedup
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
             AS valid_to_us
    FROM changes
    """,
)
def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: collapse an event
    change log into validity intervals — drop rows that repeat the
    previous state (lag), then close each surviving interval with the
    next change's timestamp (lead; NULL marks the open current row).
    Both windows shuffle once on user_id and the second reuses the
    first's partitioning; ties on ts break on event_id so the intervals
    are deterministic.  This is the standard dimension-table derivation
    a warehouse runs from CDC streams, expressed as two window passes
    with no self-join."""
    ev = events_us(spark, sf_dir).filter(F.col("user_id") % 50 == 0)
    w_lag = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w_lag))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    w_lead = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w_lead).alias("valid_to_us"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct active users (exact sliding distinct).
# --------------------------------------------------------------------------
@_register(
    "rolling_7d_active_users",
    """
    WITH day_user AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_idx, user_id
      FROM events
    ),
    contrib AS (
      SELECT unnest(range(day_idx, day_idx + 7)) AS report_day, user_id
      FROM day_user
    )
    SELECT c.report_day::BIGINT AS report_day,
           count(DISTINCT c.user_id)::BIGINT AS active_users_7d
    FROM contrib c
    WHERE c.report_day IN (SELECT day_idx FROM day_user)
    GROUP BY c.report_day
    """,
)
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day distinct active users per day.  COUNT
    DISTINCT over a sliding window isn't a window function in any
    engine; the scalable formulation dedups to (day, user) pairs, then
    explodes each pair into the 7 report days it contributes to and
    counts distinct users per report day — linear ×7 instead of a
    band self-join, with the distinct agg partial-combined per
    partition.  Report days are restricted to observed days (broadcast
    semi join against the tiny day dim), so no partial look-back rows
    leak out."""
    ev = events_us(spark, sf_dir)
    pairs = ev.select(F.expr("ts_us div 86400000000").alias("day_idx"), "user_id")
    return rolling_distinct(pairs, window_days=7).select(
        F.col("report_day").cast("bigint").alias("report_day"),
        F.col("active").cast("bigint").alias("active_users_7d"),
    )


def rolling_distinct(
    pairs: DataFrame,
    day: str = "day_idx",
    entity: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Exact trailing-``window_days`` distinct entities per observed day:
    dedup → explode each (day, entity) into the days it contributes to →
    distinct agg, restricted to observed days via a broadcast semi join."""
    day_user = pairs.select(day, entity).distinct()
    days = day_user.select(day).distinct()
    contrib = day_user.select(
        F.explode(
            F.sequence(F.col(day), F.col(day) + F.lit(window_days - 1))
        ).alias("report_day"),
        entity,
    )
    return (
        contrib.join(
            F.broadcast(days), contrib.report_day == days[day], "left_semi"
        )
        .groupBy("report_day")
        .agg(F.countDistinct(entity).alias("active"))
    )


# --------------------------------------------------------------------------
# Per-source length concentration (Gini coefficient, exact integer sums).
# --------------------------------------------------------------------------
@_register(
    "source_length_gini",
    """
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars) AS i
      FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           CASE WHEN sum(n_chars) > 0 THEN
             2.0 * CAST(sum(i * n_chars)::BIGINT AS DOUBLE)
               / (CAST(count(*)::BIGINT AS DOUBLE) * CAST(sum(n_chars)::BIGINT AS DOUBLE))
               - (CAST(count(*)::BIGINT AS DOUBLE) + 1.0) / CAST(count(*)::BIGINT AS DOUBLE)
           END AS gini
    FROM ranked
    GROUP BY source
    """,
)
def q_source_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-balance diagnostic: the Gini coefficient of document
    lengths per source — how concentrated each source's character mass
    is in its longest documents (0 = uniform, →1 = one doc dominates).
    Uses the rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    ascending lengths; Σ(i·xᵢ), Σx and n are exact BIGINT sums (tied
    lengths make Σ(i·x) invariant to tie order, so no tiebreak is
    needed), and the doubles appear only in the final closed form.  One
    rank window + one aggregate, both on the source partitioning — a
    single shuffle."""
    d = load_table(spark, "documents", sf_dir).select("source", "n_chars")
    return gini_by_group(d, "source", "n_chars").select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("total").alias("total_chars"),
        "gini",
    )


def gini_by_group(df: DataFrame, group: str, value: str) -> DataFrame:
    """Per-group Gini via the rank formulation (exact BIGINT sums,
    double math only in the final closed form).  Returns (group, n,
    total, gini); gini is NULL for a group with zero total mass (the
    coefficient is undefined there, and an unguarded division would
    throw under Spark's ANSI-default session where DuckDB nulls)."""
    w = W.partitionBy(group).orderBy(value)
    ranked = df.withColumn("i", F.row_number().over(w))
    formula = (
        F.lit(2.0)
        * F.sum(F.col("i") * F.col(value)).cast("bigint").cast("double")
        / (
            F.count(F.lit(1)).cast("bigint").cast("double")
            * F.sum(value).cast("bigint").cast("double")
        )
        - (F.count(F.lit(1)).cast("bigint").cast("double") + F.lit(1.0))
        / F.count(F.lit(1)).cast("bigint").cast("double")
    )
    return ranked.groupBy(group).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(value).cast("bigint").alias("total"),
        F.when(F.sum(value) > 0, formula).alias("gini"),
    )


# --------------------------------------------------------------------------
# Per-language LM plausibility from corpus bigram probabilities
# (integer-exact micro-probability sums — no order-dependent double sums).
# --------------------------------------------------------------------------
def _bigrams_pos(dialect: str, toks: str) -> str:
    """Adjacent token pairs as 'w1 w2' strings (every occurrence)."""
    if dialect == tx_mod.SPARK:
        return (
            f"CASE WHEN size({toks}) >= 2 THEN "
            f"transform(sequence(0, size({toks}) - 2), "
            f"i -> concat_ws(' ', {toks}[i], {toks}[i + 1])) "
            f"ELSE array() END"
        )
    return (
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"list_transform(range(1, len({toks})), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1]) "
        f"ELSE [] END"
    )



@_register(
    "lm_plausibility_by_lang",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, {tx_mod.tokens(tx_mod.DUCK, 'text')} AS t FROM documents
    ),
    pairs AS (
      SELECT doc_id, lang, u.bg
      FROM tok, unnest({_bigrams_pos('duck', 't')}) AS u(bg)
    ),
    big AS (
      SELECT bg, count(*)::BIGINT AS n_bigram FROM pairs GROUP BY bg
    ),
    ctx AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(n_bigram)::BIGINT AS n_context
      FROM big GROUP BY 1
    ),
    prob AS (
      SELECT b.bg,
             floor(CAST(b.n_bigram AS DOUBLE) / c.n_context * 1000000)::BIGINT
               AS p_micro
      FROM big b JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1
    ),
    per_doc AS (
      SELECT p.doc_id, p.lang,
             count(*)::BIGINT AS n_bigrams,
             sum(pr.p_micro)::BIGINT AS score_micro
      FROM pairs p JOIN prob pr ON pr.bg = p.bg
      GROUP BY p.doc_id, p.lang
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(n_bigrams)::BIGINT AS total_bigrams,
           sum(score_micro)::BIGINT AS total_score_micro,
           CAST(sum(score_micro)::BIGINT AS DOUBLE)
             / CAST(sum(n_bigrams)::BIGINT AS DOUBLE) AS mean_p_micro
    FROM per_doc
    GROUP BY lang
    """,
)
def q_lm_plausibility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model plausibility as a quality signal: score every
    document's bigrams under the corpus bigram LM (P(w2|w1) =
    c(w1,w2)/c(w1)) and roll the scores up per language.  The standard
    perplexity needs log(), whose last-ulp behaviour differs across
    libm implementations — so the cross-engine-safe contract quantizes
    each probability to an exact integer micro-probability
    (floor(p·10⁶), one double multiply+floor on identical inputs) and
    every aggregate after that is an exact BIGINT sum, with one double
    division at the end.  Plan: corpus exploded once into (doc, bigram)
    pairs; bigram and context counts partial-aggregate; the probability
    table joins back on the bigram key (vocabulary-sized, not
    stream-sized) — at 100 TB the prob table is the small side and
    broadcast-joins against the pair stream."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", F.expr(tx_mod.tokens(tx_mod.SPARK, "text")).alias("t")
    )
    pairs = d.select(
        "doc_id", "lang", F.explode(F.expr(_bigrams_pos("spark", "t"))).alias("bg")
    )
    big = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("n_bigram"))
    ctx_w = W.partitionBy(F.expr("split_part(bg, ' ', 1)"))
    prob = big.select(
        "bg",
        F.floor(
            F.col("n_bigram").cast("double")
            / F.sum("n_bigram").over(ctx_w).cast("bigint")
            * F.lit(1000000)
        )
        .cast("bigint")
        .alias("p_micro"),
    )
    per_doc = (
        pairs.join(prob, on="bg")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("p_micro").cast("bigint").alias("score_micro"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
        F.sum("score_micro").cast("bigint").alias("total_score_micro"),
        (
            F.sum("score_micro").cast("bigint").cast("double")
            / F.sum("n_bigrams").cast("bigint").cast("double")
        ).alias("mean_p_micro"),
    )


# --------------------------------------------------------------------------
# Daily user churn / retention (snapshot-diff pattern on day-user pairs).
# --------------------------------------------------------------------------
@_register(
    "user_churn_daily",
    """
    WITH day_user AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_idx, user_id
      FROM events
    ),
    first_seen AS (
      SELECT user_id, min(day_idx) AS first_day FROM day_user GROUP BY 1
    )
    SELECT d.day_idx::BIGINT AS day_idx,
           count(*)::BIGINT AS n_active,
           sum(CASE WHEN f.first_day = d.day_idx THEN 1 ELSE 0 END)::BIGINT
             AS n_new,
           sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_retained,
           (SELECT count(*) FROM day_user q
            WHERE q.day_idx = d.day_idx - 1
              AND NOT EXISTS (SELECT 1 FROM day_user r
                              WHERE r.user_id = q.user_id
                                AND r.day_idx = d.day_idx))::BIGINT
             AS n_churned_from_prev
    FROM day_user d
    JOIN first_seen f ON f.user_id = d.user_id
    LEFT JOIN day_user p ON p.user_id = d.user_id AND p.day_idx = d.day_idx - 1
    GROUP BY d.day_idx
    """,
)
def q_user_churn_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily churn/retention: per day, the active users, the users seen
    for the first time, the users retained from the previous day, and
    the previous day's users who did NOT return (churn).  The snapshot
    diff is ONE self-join of the deduped (day, user) pairs against
    themselves shifted by a day — churn falls out of the same join as a
    null-side count aggregated onto the previous day, so there is no
    NOT-EXISTS pass (the oracle spells it as NOT EXISTS; the engine
    counts the unmatched left rows of the shifted join).  All counts are
    exact integers; the per-user day-set rollup is the only fact-sized
    shuffle, and everything after operates on exploded day rows.

    One-shuffle form (r15, guide §2.3/§2.4): the old shape paid the
    (day, user) distinct, a second groupBy(user) for first_seen, the
    day-shifted full-outer self-join, AND a re-exchange by user to
    attach first_seen — four fact/pair-sized exchanges.  All four
    metrics are functions of each user's OWN day set, so ONE
    groupBy(user).collect_set(day) (partial-agg'd, absorbs the dedup)
    followed by an in-JVM explode of per-day contribution structs —
    active/new (d = min day)/retained (d-1 present)/churned (emitted
    onto d+1 when absent) — and a day-sized groupBy reproduces them.
    Observed-day restriction falls out as n_active > 0 (every observed
    day has an active user; churn-only synthetic days have none),
    replacing the old broadcast semi-join re-derivation."""
    ev = events_us(spark, sf_dir)
    udays = (
        ev.select(F.expr("ts_us div 86400000000").alias("day_idx"), "user_id")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("day_idx")).alias("days"))
    )
    contrib = udays.select(
        F.explode(
            F.expr(
                "flatten(transform(days, d -> CASE"
                " WHEN array_contains(days, d + 1) THEN array(named_struct("
                "  'day_idx', d, 'act', 1,"
                "  'new', CASE WHEN d = days[0] THEN 1 ELSE 0 END,"
                "  'ret', CASE WHEN array_contains(days, d - 1) THEN 1 ELSE 0 END,"
                "  'churn', 0))"
                " ELSE array(named_struct("
                "  'day_idx', d, 'act', 1,"
                "  'new', CASE WHEN d = days[0] THEN 1 ELSE 0 END,"
                "  'ret', CASE WHEN array_contains(days, d - 1) THEN 1 ELSE 0 END,"
                "  'churn', 0), named_struct("
                "  'day_idx', d + 1, 'act', 0, 'new', 0, 'ret', 0, 'churn', 1))"
                " END))"
            )
        ).alias("c")
    )
    return (
        contrib.groupBy(F.col("c.day_idx").alias("day_idx"))
        .agg(
            F.sum("c.act").cast("bigint").alias("n_active"),
            F.sum("c.new").cast("bigint").alias("n_new"),
            F.sum("c.ret").cast("bigint").alias("n_retained"),
            F.sum("c.churn").cast("bigint").alias("n_churned_from_prev"),
        )
        .filter(F.col("n_active") > 0)
        .select(
            F.col("day_idx").cast("bigint").alias("day_idx"),
            "n_active",
            "n_new",
            "n_retained",
            "n_churned_from_prev",
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q4 analogue: late-shipment order counts by priority.
# --------------------------------------------------------------------------
@_register(
    "priority_late_orders_q4",
    """
    SELECT o.o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q_priority_late_orders_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders (one year) with at least one line shipped
    more than 90 days after ordering, counted by priority.  The
    correlated EXISTS becomes a LEFT SEMI join whose condition carries
    both the orderkey equality AND the cross-table date inequality — the
    inequality rides as a residual predicate on the equi-shuffle, so no
    row ever widens and the semi join emits each order at most once (no
    DISTINCT pass needed).  Date filter pushes to the orders scan."""
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


# --------------------------------------------------------------------------
# TPC-H Q6 analogue: forecasting revenue change (scan-only aggregate).
# --------------------------------------------------------------------------
@_register(
    "forecast_revenue_q6",
    """
    SELECT
      CAST(sum(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(4,2)) AS DOUBLE)
        AS revenue,
      count(*)::BIGINT AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-side query — every predicate (date
    range, discount band, quantity cap) pushes to the parquet row-group
    level and the whole query is one scan + a 1-row partial+final
    aggregate, zero joins and zero wide shuffles.  The benchmark's
    canonical test that predicate pushdown and map-side combine are
    actually working; at 100 TB the row-group min/max stats skip most of
    the table before a byte decompresses."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(money("l_extendedprice") * factor(F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


# --------------------------------------------------------------------------
# TPC-H Q12 analogue: shipping-delay buckets vs order priority.
# --------------------------------------------------------------------------
@_register(
    "ship_delay_priority_q12",
    """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN 'normal'
                ELSE 'late' END AS delay_bucket,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q_ship_delay_priority_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → derived delay bucket, the columns this
    schema has): line counts of high- vs low-priority orders per
    shipping-delay bucket — the conditional-count pivot over a fact-fact
    join.  The delay bucket derives from a day difference (exact integer
    on both engines); the priority split is a conditional aggregate, so
    the result is |buckets| rows from one equi-join shuffle and one
    partial-agg'd aggregate."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(delay <= 30, "fast").when(delay <= 90, "normal").otherwise("late")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q17 analogue: small-quantity-order revenue (correlated per-part avg).
# --------------------------------------------------------------------------
@_register(
    "small_qty_revenue_q17",
    """
    WITH part_avg AS (
      SELECT l_partkey,
             CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT
      CAST(sum(l.l_extendedprice::DECIMAL(12,2)) AS DOUBLE) / 7.0
        AS avg_yearly,
      count(*)::BIGINT AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
    """,
)
def q_small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of less than 20% of a part's
    average quantity — the correlated scalar-average subquery
    decorrelated into a per-part aggregate joined back to the fact.  The
    per-part averages compute as exact-decimal sum / count (one double
    division), so the 0.2·avg threshold is bit-identical cross-engine.
    Plan: the partkey aggregate and the fact join share the partkey
    shuffle; the brand filter broadcasts through the part dim and prunes
    BOTH branches at 100 TB when pushed into the aggregate's input (here
    kept on the full fact so the average matches TPC-H semantics —
    average over ALL lines of the part, not just the brand slice)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = li.groupBy("l_partkey").agg(
        (dsum(money("l_quantity")) / F.count(F.lit(1))).alias("avg_qty")
    )
    p = load_table(spark, "part", sf_dir).filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(part_avg, on="l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum(money("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q9 analogue: profit by nation and year (retailprice cost proxy).
# --------------------------------------------------------------------------
@_register(
    "profit_by_nation_year_q9",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS yr,
           CAST(sum(l.l_extendedprice::DECIMAL(12,2)
                    * (1 - l.l_discount)::DECIMAL(4,2)) AS DOUBLE)
             - CAST(sum(p.p_retailprice::DECIMAL(12,2)
                      * l.l_quantity::DECIMAL(12,2)) AS DOUBLE) / 100.0
             AS profit,
           count(*)::BIGINT AS n_lines
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)
    """,
)
def q_profit_by_nation_year_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year over a
    part-type slice — the deep fact join with an arithmetic measure
    combining THREE tables' columns (price, discount, part cost,
    quantity).  This schema has no partsupp, so unit cost is proxied as
    p_retailprice/100 (a fixed public rescale, exact in DECIMAL); the
    measure is two exact DECIMAL sums (revenue; retailprice·quantity)
    combined in ONE double expression at the end — a decimal division
    inside the sum would round at engine-specific intermediate scales.
    Plan: part/supplier/nation broadcast (part pre-filtered by type),
    lineitem ⋈ orders is the one big-big shuffle, and the aggregate is
    partial-combined to |nations × years| rows."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")

    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(
            (
                dsum(money("l_extendedprice") * factor(1 - F.col("l_discount")))
                - dsum(money("p_retailprice") * money("l_quantity")) / F.lit(100.0)
            ).alias("profit"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Cumulative distribution of order values within priority classes.
# --------------------------------------------------------------------------
@_register(
    "cume_dist_order_values",
    """
    WITH scored AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice) AS cd
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, o_totalprice, cd
    FROM scored
    WHERE cd >= 0.999
    """,
)
def q_cume_dist_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist (the ≤-tie-safe cumulative distribution): the top 0.1%
    most expensive orders within each priority class.  cume_dist is
    (# rows with value ≤ current) / n — an exact rational identical in
    both engines regardless of tie order, unlike percent_rank-with-ties
    pitfalls.  One shuffle on the 5-value priority key; the filter keeps
    the output k-sized.  (Skewed window-partition keys are the hazard at
    100 TB — 5 priority classes over orders means ~n/5 rows per
    partition, so for this query you'd pre-bucket by (priority,
    price-range) and merge, the same composition the skyline notes.)"""
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return (
        o.withColumn("cd", F.cume_dist().over(w))
        .filter(F.col("cd") >= 0.999)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "cd")
    )


# --------------------------------------------------------------------------
# Month-over-month revenue growth (lag over an aggregated series).
# --------------------------------------------------------------------------
@_register(
    "mom_revenue_growth",
    """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) * 100
               + CAST(month(o_orderdate) AS BIGINT) AS ym,
             CAST(sum(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT ym, revenue,
           lag(revenue) OVER (ORDER BY ym) AS prev_revenue,
           CASE WHEN lag(revenue) OVER (ORDER BY ym) IS NULL THEN NULL
                ELSE (revenue - lag(revenue) OVER (ORDER BY ym))
                     / lag(revenue) OVER (ORDER BY ym) END AS mom_growth
    FROM monthly
    """,
)
def q_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: lag over the MONTHLY aggregate, never
    the raw fact rows — the unpartitioned window is legal because its
    input is |months| rows (the fact table was already reduced by a
    partial-agg'd shuffle).  Revenue aggregates in exact DECIMAL; the
    growth ratio is one double expression on exact inputs with a
    null-guarded first month."""
    o = load_table(spark, "orders", sf_dir)
    monthly = o.groupBy(
        (
            F.year("o_orderdate").cast("bigint") * 100
            + F.month("o_orderdate").cast("bigint")
        ).alias("ym")
    ).agg(dsum(money("o_totalprice")).alias("revenue"))
    w = W.orderBy("ym")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "ym",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise((F.col("revenue") - prev) / prev)
        .alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM semantics).
# --------------------------------------------------------------------------
@_register(
    "null_safe_join_counts",
    """
    WITH clicks AS (
      SELECT NULLIF(event_id % 10, 0) AS nk, count(*)::BIGINT AS click_n
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    views AS (
      SELECT NULLIF(event_id % 10, 0) AS nk, count(*)::BIGINT AS view_n
      FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT c.nk::BIGINT AS nk, c.click_n, v.view_n
    FROM clicks c JOIN views v ON c.nk IS NOT DISTINCT FROM v.nk
    """,
)
def q_null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: Spark's `<=>` ≡ SQL `IS NOT DISTINCT
    FROM` — NULL keys MATCH each other instead of silently dropping
    (the standard `=` would lose the NULL bucket entirely, a classic
    reconciliation bug).  Both sides pre-aggregate to ≤10 key rows
    before joining, so the null-bucket match is a k×k join of count
    rows, never a null×null row explosion on the raw fact — the shape
    to insist on at 100 TB, since a null-safe join on raw rows makes
    the NULL key the worst possible skew key."""
    ev = events_us(spark, sf_dir)
    nk = F.nullif(F.col("event_id") % 10, F.lit(0))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(nk.alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("click_n"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(nk.alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("view_n"))
    )
    return clicks.join(views, clicks.nk.eqNullSafe(views.nk)).select(
        clicks.nk.cast("bigint").alias("nk"), "click_n", "view_n"
    )


# --------------------------------------------------------------------------
# TPC-H Q16 analogue: distinct suppliers per part group, excluding
# flagged suppliers.  The testdata has no partsupp, so the part-supplier
# relation is the DISTINCT (l_partkey, l_suppkey) pairs observed in
# lineitem, and the "customer complaints" exclusion becomes the
# negative-balance suppliers (same NOT-IN-subquery shape).
# --------------------------------------------------------------------------
@_register(
    "supplier_cnt_by_part_q16",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 50)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_supplier_cnt_by_part_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape adapted (no partsupp in testdata — reference
    parity note: the reference schema lacks it too): distinct-supplier
    count per (brand, type, size) over the lineitem-observed
    part-supplier pairs, minus an excluded-supplier subquery.

    Plan: both dims broadcast (part is partkey-unique, the exclusion
    list is a handful of keys), so the fact table is filtered by a
    broadcast hash join + broadcast LEFT ANTI with ZERO pre-aggregation
    shuffles; the only exchange is the (brand, type, size) aggregate,
    where countDistinct runs as Spark's two-phase partial-distinct
    expand.  At 100 TB the anti-join side stays broadcastable (flagged
    suppliers are a tiny fraction) and the group-key domain is bounded
    (brands × types × sizes), so the final shuffle is trivially small."""
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    p = (
        load_table(spark, "part", sf_dir)
        .filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").like("MEDIUM%")
            & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 50)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(excluded),
            li.l_suppkey == excluded.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# TPC-H Q20 analogue: suppliers with excess shipped volume of a part
# family, restricted to a nation set — the nested semi-join chain.
# --------------------------------------------------------------------------
@_register(
    "excess_stock_suppliers_q20",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'old%'
          AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) > 40.0)
    """,
)
def q_excess_stock_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted (availqty -> shipped volume, since the
    testdata has no partsupp): suppliers in a nation set that shipped
    more than a threshold quantity of some 'old*'-named part inside a
    one-year window — the nested semi-join chain Q20 exercises.

    Plan: the part-family key list broadcasts into the date-pruned
    lineitem scan (predicate pushdown on l_shipdate); one shuffle
    aggregates (suppkey, partkey) quantity in DECIMAL (order-independent
    vs the oracle); the surviving supplier keys — bounded above by the
    supplier dimension's cardinality, tiny relative to the fact — are
    broadcast into a LEFT SEMI against the nation-filtered supplier dim,
    so neither supplier nor lineitem is ever re-shuffled.  At 100 TB the
    semi side stays a key list, exactly the Q20 'candidate keys first,
    dimension probe last' discipline."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    old_parts = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_name").like("old%"))
        .select("p_partkey")
    )
    qualifying = (
        li.join(F.broadcast(old_parts), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(money("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 40.0)
        .select("l_suppkey")
        .distinct()
    )
    n = load_table(spark, "nation", sf_dir).filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    s = load_table(spark, "supplier", sf_dir).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return s.join(
        F.broadcast(qualifying),
        F.col("s_suppkey") == F.col("l_suppkey"),
        "left_semi",
    ).select("s_suppkey", "s_name")


# --------------------------------------------------------------------------
# TPC-H Q11 analogue: important stock value per part (no partsupp in the
# testdata, so "stock value" = shipped extendedprice volume by one
# nation's suppliers — the same scalar-subquery HAVING shape).
# --------------------------------------------------------------------------
@_register(
    "important_stock_parts_q11",
    """
    WITH nat_sup AS (
      SELECT s_suppkey
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
    ),
    pv AS (
      SELECT l_partkey, sum(l_extendedprice::DECIMAL(12,2)) AS val
      FROM lineitem JOIN nat_sup ON l_suppkey = s_suppkey
      GROUP BY l_partkey
    ),
    tot AS (SELECT sum(val) AS total_val FROM pv)
    SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE val * 1000 > total_val
    ORDER BY part_value DESC, l_partkey ASC
    """,
)
def q_important_stock_parts_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape adapted (reference parity note: the testdata has
    no partsupp, so availqty*supplycost becomes shipped extendedprice
    volume): parts whose value shipped by NATION_3's suppliers exceeds
    0.1% of that nation's total — the fraction-of-global-sum HAVING
    with a scalar subquery.

    Scale: the nation's supplier-key list is dimension-sized and
    broadcasts into the fact scan; one shuffle aggregates per-part
    value in DECIMAL (order-independent); the grand total is a 1-row
    broadcast over the ALREADY-REDUCED per-part frame (never a second
    fact scan); the threshold compares exact decimals (no double
    boundary).  Completes the achievable TPC-H analogue set: 22/22
    shapes have a counterpart (Q2 via cheapest_supplier_per_part, Q16/
    Q20 adapted in round 7 wave 1)."""
    nat = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_3")
    nat_sup = (
        load_table(spark, "supplier", sf_dir)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, "lineitem", sf_dir)
    pv = (
        li.join(F.broadcast(nat_sup), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(dsum(money("l_extendedprice")).alias("val"))
    )
    tot = pv.agg(F.sum("val").alias("total_val"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("val") * 1000 > F.col("total_val"))
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


# ---------------------------------------------------------------------------
# ABC (Pareto 80/15/5) classification of suppliers by revenue
# ---------------------------------------------------------------------------


@_register(
    "abc_classification_suppliers",
    """
    WITH rev AS (
      SELECT l_suppkey,
             sum(((l_extendedprice::DECIMAL(12,2)
                   * (1 - l_discount)::DECIMAL(4,2)) * 10000)::BIGINT)::BIGINT
               AS rev_i4
      FROM lineitem GROUP BY l_suppkey
    ),
    t AS (SELECT sum(rev_i4)::HUGEINT AS tot FROM rev),
    c AS (
      SELECT rev_i4,
             sum(rev_i4) OVER (ORDER BY rev_i4 DESC, l_suppkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::HUGEINT AS cum
      FROM rev
    ),
    cls AS (
      SELECT rev_i4,
             CASE WHEN 100 * cum <= 80 * t.tot THEN 'A'
                  WHEN 100 * cum <= 95 * t.tot THEN 'B'
                  ELSE 'C' END AS abc_class,
             t.tot
      FROM c CROSS JOIN t
    )
    SELECT abc_class,
           count(*)::BIGINT AS n_suppliers,
           sum(rev_i4)::BIGINT AS revenue_i4,
           ((sum(rev_i4)::HUGEINT * 1000000) // max(tot))::BIGINT AS share_micros
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
)
def q_abc_classification_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of suppliers by discounted revenue —
    the 80/15/5 inventory-management cut: 'A' suppliers cover the first
    80% of cumulative revenue, 'B' the next 15%, 'C' the tail; reported
    as class population, revenue, and share.

    Determinism: revenue is exact 1e-4-dollar integers (DECIMAL(12,2) ×
    DECIMAL(4,2) has scale 4 — ×10000 is lossless); class boundaries are
    integer CROSS-MULTIPLIED comparisons (100·cum ≤ 80·total — no
    percentage doubles); the cumulative order (revenue DESC, suppkey)
    is total.  128-bit accumulators carry the cumulative past ~1e14
    revenue rows.

    Scale: one fact shuffle to the per-supplier rollup (partial agg
    map-side); the ranking window runs over the DIMENSION-sized
    supplier frame (orders of magnitude below the fact, the
    data_skew_report precedent); the grand total rides a 1-row
    broadcast.  Final output is 3 rows."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.expr(
                "CAST((CAST(l_extendedprice AS DECIMAL(12,2))"
                " * CAST(1 - l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("rev_i4")
    )
    t = rev.agg(F.sum(F.col("rev_i4").cast("decimal(38,0)")).alias("tot"))
    wc = W.orderBy(F.desc("rev_i4"), F.asc("l_suppkey")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = rev.select(
        "rev_i4",
        F.sum(F.col("rev_i4").cast("decimal(38,0)")).over(wc).alias("cum"),
    )
    cls = c.crossJoin(F.broadcast(t)).select(
        "rev_i4",
        F.expr(
            "CASE WHEN 100 * cum <= 80 * tot THEN 'A'"
            " WHEN 100 * cum <= 95 * tot THEN 'B'"
            " ELSE 'C' END"
        ).alias("abc_class"),
        "tot",
    )
    return (
        cls.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("rev_i4").cast("bigint").alias("revenue_i4"),
            F.expr(
                "CAST(sum(CAST(rev_i4 AS DECIMAL(38,0))) * 1000000"
                " div max(tot) AS BIGINT)"
            ).alias("share_micros"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Price-volume-mix decomposition of year-over-year revenue change
# ---------------------------------------------------------------------------

PVM_Y0 = 1996
PVM_Y1 = 1997


@_register(
    "price_volume_mix_yoy",
    f"""
    WITH yr AS (
      SELECT l_partkey,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             sum(CAST(l_quantity AS BIGINT))::BIGINT AS q,
             sum(((l_extendedprice::DECIMAL(12,2)
                   * (1 - l_discount)::DECIMAL(4,2)) * 10000)::BIGINT)::BIGINT
               AS rev
      FROM lineitem
      WHERE year(l_shipdate) IN ({PVM_Y0}, {PVM_Y1})
      GROUP BY l_partkey, yr
    ),
    w AS (
      SELECT l_partkey,
             max(CASE WHEN yr = {PVM_Y0} THEN q END) AS q0,
             max(CASE WHEN yr = {PVM_Y0} THEN rev END) AS rev0,
             max(CASE WHEN yr = {PVM_Y1} THEN q END) AS q1,
             max(CASE WHEN yr = {PVM_Y1} THEN rev END) AS rev1
      FROM yr GROUP BY l_partkey
    ),
    eff AS (
      SELECT CASE WHEN q0 IS NULL THEN 0 ELSE 1 END AS in0,
             CASE WHEN q1 IS NULL THEN 0 ELSE 1 END AS in1,
             coalesce(rev0, 0) AS rev0, coalesce(rev1, 0) AS rev1,
             CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
                  THEN ((q1 - q0) * rev0) // q0 ELSE 0 END AS vol_eff
      FROM w
    )
    SELECT sum(rev1 - rev0)::BIGINT AS delta_rev_i4,
           sum(CASE WHEN in0 = 1 AND in1 = 1 THEN vol_eff ELSE 0 END)::BIGINT
             AS volume_eff_i4,
           sum(CASE WHEN in0 = 1 AND in1 = 1 THEN rev1 - rev0 - vol_eff
                    ELSE 0 END)::BIGINT AS price_eff_i4,
           sum(CASE WHEN in0 = 0 THEN rev1 ELSE 0 END)::BIGINT AS new_parts_i4,
           sum(CASE WHEN in1 = 0 THEN -rev0 ELSE 0 END)::BIGINT AS lost_parts_i4
    FROM eff
    """,
)
def q_price_volume_mix_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix decomposition of the {PVM_Y0}→{PVM_Y1} revenue
    change — the FP&A waterfall: per part carried both years, the volume
    effect is (Δq)·(rev0/q0) and the price effect is the exact residual;
    parts that appear/disappear contribute new/lost buckets.  The five
    outputs sum: Δrev = volume + price + new − |lost| — an exact
    identity by construction.

    Determinism: revenue in exact 1e-4-dollar integers, quantities exact
    BIGINT; each part's volume effect takes ONE floor division
    ((Δq·rev0) // q0, quantize-then-sum) and the price effect is the
    integer residual — no doubles anywhere, and the waterfall closes to
    the exact integer Δrev.

    Scale: one fact shuffle to the (part, year) rollup (two years
    pushed down to the scan), one part-key pivot aggregate, then a
    1-row fold.  Never joins fact to fact; everything after the first
    rollup is part-dimension-sized."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
    )
    yr = (
        li.where(F.expr(f"year(l_shipdate) IN ({PVM_Y0}, {PVM_Y1})"))
        .groupBy(
            "l_partkey", F.expr("CAST(year(l_shipdate) AS BIGINT)").alias("yr")
        )
        .agg(
            F.sum(F.expr("CAST(l_quantity AS BIGINT)")).cast("bigint").alias("q"),
            F.sum(
                F.expr(
                    "CAST((CAST(l_extendedprice AS DECIMAL(12,2))"
                    " * CAST(1 - l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("rev"),
        )
    )
    w = yr.groupBy("l_partkey").agg(
        F.max(F.when(F.col("yr") == PVM_Y0, F.col("q"))).alias("q0"),
        F.max(F.when(F.col("yr") == PVM_Y0, F.col("rev"))).alias("rev0"),
        F.max(F.when(F.col("yr") == PVM_Y1, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("yr") == PVM_Y1, F.col("rev"))).alias("rev1"),
    )
    eff = w.select(
        F.expr("CASE WHEN q0 IS NULL THEN 0 ELSE 1 END").alias("in0"),
        F.expr("CASE WHEN q1 IS NULL THEN 0 ELSE 1 END").alias("in1"),
        F.expr("coalesce(rev0, 0)").alias("rev0"),
        F.expr("coalesce(rev1, 0)").alias("rev1"),
        F.expr(
            "CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL"
            " THEN ((q1 - q0) * rev0) div q0 ELSE 0 END"
        ).alias("vol_eff"),
    )
    return eff.agg(
        F.sum(F.expr("rev1 - rev0")).cast("bigint").alias("delta_rev_i4"),
        F.sum(F.expr("CASE WHEN in0 = 1 AND in1 = 1 THEN vol_eff ELSE 0 END"))
        .cast("bigint")
        .alias("volume_eff_i4"),
        F.sum(
            F.expr(
                "CASE WHEN in0 = 1 AND in1 = 1 THEN rev1 - rev0 - vol_eff"
                " ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("price_eff_i4"),
        F.sum(F.expr("CASE WHEN in0 = 0 THEN rev1 ELSE 0 END"))
        .cast("bigint")
        .alias("new_parts_i4"),
        F.sum(F.expr("CASE WHEN in1 = 0 THEN -rev0 ELSE 0 END"))
        .cast("bigint")
        .alias("lost_parts_i4"),
    )
