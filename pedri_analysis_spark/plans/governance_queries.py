"""Data-governance & longitudinal analytics wave (round 7).

Three shapes a production data platform runs that the catalog did not
yet exercise:

- gaps-and-islands streak detection (longest consecutive-day run per
  user — the canonical day_idx − row_number trick, one window pass,
  never a self-join);
- k-anonymity reporting across a generalization ladder (how many
  quasi-identifier cells re-identify fewer than k people, and whether
  coarsening repairs them — the data-release governance check);
- deterministic missing-value imputation cascade (per-user mean, else
  global mean) with integer-quantized accounting so the imputed mass
  is order-independent cross-engine.

Oracle discipline: exact DECIMAL sums for every mean's numerator, ONE
double division per mean with identical formula text, imputed totals
quantized to 6-dp integer micros and summed as BIGINT (the
lm_plausibility convention — see memory of plans/text_queries.py),
pure integer arithmetic everywhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.relational import events_us
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()

DAY_US = 86_400_000_000


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user.
# ---------------------------------------------------------------------------
@_register(
    "user_activity_streaks",
    f"""
    WITH days AS (
      SELECT DISTINCT user_id, (epoch_us(ts) // {DAY_US})::BIGINT AS d
      FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days
    ),
    runs AS (
      SELECT user_id, count(*)::BIGINT AS run_len
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id,
           count(*)::BIGINT AS n_streaks,
           max(run_len)::BIGINT AS longest_streak,
           sum(run_len)::BIGINT AS n_active_days
    FROM runs GROUP BY user_id
    """,
)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day streak per user — the gaps-and-islands
    pattern: dedup to (user, day), then ``day − row_number`` is constant
    within a consecutive run, so one window pass + two aggregates find
    every streak.  No self-join, no recursive expansion.

    Scale: the dedup and the window share the user_id hash partitioning
    (Catalyst reuses the exchange); per-user day counts are bounded by
    the calendar, so no window partition can be a skew key.  This is
    the same day-index arithmetic as rolling_active_users
    (ts_us // DAY_US ≡ epoch_us // DAY_US, exact integers)."""
    ev = events_us(spark, sf_dir)
    # integer day index: `div` (never `/`, which is a double division)
    days = ev.select(
        "user_id", F.expr(f"CAST(ts_us div {DAY_US} AS BIGINT)").alias("d")
    ).distinct()
    grp = F.col("d") - F.row_number().over(
        W.partitionBy("user_id").orderBy("d")
    )
    runs = (
        days.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("run_len").cast("bigint").alias("longest_streak"),
        F.sum("run_len").cast("bigint").alias("n_active_days"),
    )


# ---------------------------------------------------------------------------
# k-anonymity across a generalization ladder.
# ---------------------------------------------------------------------------
K_ANON = 5
ACCTBAL_BANDS = (1000, 3000)  # fine vs coarse generalization of c_acctbal


def _kanon_level_sql(band: int) -> str:
    return f"""
      SELECT {band} AS band_width,
             count(*)::BIGINT AS n_cells,
             sum(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END)::BIGINT
               AS n_violating_cells,
             sum(CASE WHEN n < {K_ANON} THEN n ELSE 0 END)::BIGINT
               AS n_rows_at_risk
      FROM (
        SELECT c_nationkey, c_mktsegment,
               (floor(c_acctbal / {band}))::BIGINT AS bal_band,
               count(*)::BIGINT AS n
        FROM customer
        GROUP BY 1, 2, 3
      ) cells"""


@_register(
    "k_anonymity_report",
    f"""
    {_kanon_level_sql(ACCTBAL_BANDS[0])}
    UNION ALL
    {_kanon_level_sql(ACCTBAL_BANDS[1])}
    """,
)
def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier triple (nation,
    market segment, account-balance band) at two generalization levels:
    a cell whose population is below k = 5 re-identifies its members,
    and widening the balance band is the generalization that repairs
    cells at the cost of utility — the report quantifies that trade
    (violating cells and rows-at-risk per level) so a release policy
    can pick the coarsest-necessary rung.

    Scale: one hash aggregate per level over the QI columns (cell count
    bounded by the QI domain product, not rows), then a second
    aggregate over cells; levels union.  floor(acctbal / band) is a
    single IEEE division + floor, identical text both engines."""
    c = load_table(spark, "customer", sf_dir)

    def level(band: int) -> DataFrame:
        cells = c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / band).cast("bigint").alias("bal_band"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        viol = F.col("n") < K_ANON
        return cells.agg(
            F.lit(band).cast("bigint").alias("band_width"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias(
                "n_violating_cells"
            ),
            F.sum(F.when(viol, F.col("n")).otherwise(0)).cast("bigint").alias(
                "n_rows_at_risk"
            ),
        )

    return level(ACCTBAL_BANDS[0]).unionByName(level(ACCTBAL_BANDS[1]))


# ---------------------------------------------------------------------------
# Deterministic imputation cascade (per-user mean, else global mean).
# ---------------------------------------------------------------------------
# 'error' events carry no valid measurement in this schema's semantics —
# they are the missing values the cascade fills.
_MISSING_TYPE = "error"


@_register(
    "value_imputation_cascade",
    f"""
    WITH obs AS (
      SELECT user_id,
             CAST(sum(value::DECIMAL(18,6)) AS DOUBLE) AS s,
             count(*)::BIGINT AS n
      FROM events WHERE event_type <> '{_MISSING_TYPE}'
      GROUP BY user_id
    ),
    gstats AS (
      SELECT CAST(sum(value::DECIMAL(18,6)) AS DOUBLE) / count(*) AS gmean
      FROM events WHERE event_type <> '{_MISSING_TYPE}'
    ),
    missing AS (
      SELECT user_id, count(*)::BIGINT AS n_missing
      FROM events WHERE event_type = '{_MISSING_TYPE}'
      GROUP BY user_id
    )
    SELECT
      sum(m.n_missing)::BIGINT AS n_imputed,
      sum(CASE WHEN o.user_id IS NOT NULL THEN m.n_missing ELSE 0 END)::BIGINT
        AS n_user_imputed,
      sum(CASE WHEN o.user_id IS NULL THEN m.n_missing ELSE 0 END)::BIGINT
        AS n_global_imputed,
      sum(m.n_missing
          * (floor((CASE WHEN o.user_id IS NOT NULL THEN o.s / o.n
                         ELSE g.gmean END) * 1000000.0 + 0.5))::BIGINT
         )::BIGINT AS imputed_micros_total
    FROM missing m
    LEFT JOIN obs o ON o.user_id = m.user_id
    CROSS JOIN gstats g
    """,
)
def q_value_imputation_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation cascade: events of the 'error' type
    carry no valid measurement; each gets its user's mean of observed
    values, falling back to the global mean for users with no
    observations.  The report accounts for the imputed mass
    order-independently: every mean is an exact-DECIMAL sum with ONE
    double division, then quantized to 6-dp integer micros and summed
    as BIGINT (the libm-free lm_plausibility convention) — a raw
    double sum of imputed values would be reduction-order-dependent.

    Scale: observed stats aggregate once per user (map-side combined);
    the cascade is a broadcast-sized LEFT JOIN of two per-user count
    frames plus a 1-row global frame (the only BNLJ-shaped input is
    that 1-row bound), so no fact-table re-shuffle ever happens."""
    ev = events_us(spark, sf_dir)
    observed = ev.filter(F.col("event_type") != _MISSING_TYPE)
    obs = observed.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    glob = observed.agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("gmean")
    )
    missing = (
        ev.filter(F.col("event_type") == _MISSING_TYPE)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_missing"))
    )
    m = missing.alias("m")
    o = obs.alias("o")
    joined = m.join(o, F.col("m.user_id") == F.col("o.user_id"), "left").crossJoin(
        F.broadcast(glob)
    )
    mean = F.when(
        F.col("o.user_id").isNotNull(), F.col("s") / F.col("n")
    ).otherwise(F.col("gmean"))
    imputed_micros = F.floor(mean * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    user_hit = F.col("o.user_id").isNotNull()
    return joined.agg(
        F.sum("n_missing").cast("bigint").alias("n_imputed"),
        F.sum(F.when(user_hit, F.col("n_missing")).otherwise(0))
        .cast("bigint")
        .alias("n_user_imputed"),
        F.sum(F.when(~user_hit, F.col("n_missing")).otherwise(0))
        .cast("bigint")
        .alias("n_global_imputed"),
        F.sum(F.col("n_missing") * imputed_micros)
        .cast("bigint")
        .alias("imputed_micros_total"),
    )


# ---------------------------------------------------------------------------
# Distribution drift between two time periods (chi-square, libm-free).
# ---------------------------------------------------------------------------
DRIFT_SPLIT_US = 1_705_363_200_000_000  # 2024-01-16T00:00:00Z
DRIFT_BINS = 10


@_register(
    "distribution_drift_chisq",
    f"""
    WITH ev AS (
      SELECT value, epoch_us(ts) AS ts_us FROM events
    ),
    bounds AS (SELECT min(value) AS mn, max(value) AS mx FROM ev),
    binned AS (
      SELECT CASE WHEN b.mx = b.mn THEN 0
                  ELSE least({DRIFT_BINS - 1},
                             floor(((e.value - b.mn) * {DRIFT_BINS}.0)
                                   / (b.mx - b.mn))::BIGINT)
             END AS bin,
             CASE WHEN e.ts_us < {DRIFT_SPLIT_US} THEN 1 ELSE 0 END AS early
      FROM ev e CROSS JOIN bounds b
    ),
    cnt AS (
      SELECT bin,
             sum(early)::BIGINT AS o_e,
             sum(1 - early)::BIGINT AS o_l
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(o_e)::BIGINT AS n_e, sum(o_l)::BIGINT AS n_l FROM cnt)
    SELECT c.bin, c.o_e AS n_early, c.o_l AS n_late,
           CASE WHEN c.o_e = 0 THEN NULL
                ELSE floor(
                  (((c.o_l - (CAST(t.n_l * c.o_e AS DOUBLE) / t.n_e))
                    * (c.o_l - (CAST(t.n_l * c.o_e AS DOUBLE) / t.n_e)))
                   / (CAST(t.n_l * c.o_e AS DOUBLE) / t.n_e))
                  * 1000000.0 + 0.5)::BIGINT
           END AS contrib_micros
    FROM cnt c CROSS JOIN tot t
    """,
)
def q_distribution_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor: chi-square contributions per value bin
    between the early and late halves of the event stream — the
    PSI-style check without PSI's log() (libm is banned for oracle
    parity; chi-square is ratios only).  Each bin row carries its
    contribution quantized to 6-dp integer micros, so the total
    statistic is an exact BIGINT sum downstream — never an
    order-dependent double reduction.

    Scale: one pass bins every event against a broadcast 1-row bounds
    frame (the only nested-loop input), one hash aggregate on the bin
    (domain = {DRIFT_BINS}), and the totals frame is bin-count sized.
    Bins with no early mass report NULL contribution (the chi-square
    term is undefined there) rather than fabricating a value."""
    ev = events_us(spark, sf_dir).select("value", "ts_us")
    bounds = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    bin_col = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.lit(DRIFT_BINS - 1),
            F.floor(
                ((F.col("value") - F.col("mn")) * DRIFT_BINS)
                / (F.col("mx") - F.col("mn"))
            ).cast("bigint"),
        )
    )
    early = F.when(F.col("ts_us") < DRIFT_SPLIT_US, 1).otherwise(0)
    cnt = (
        ev.crossJoin(F.broadcast(bounds))
        .select(bin_col.alias("bin"), early.alias("early"))
        .groupBy("bin")
        .agg(
            F.sum("early").cast("bigint").alias("o_e"),
            F.sum(1 - F.col("early")).cast("bigint").alias("o_l"),
        )
    )
    tot = cnt.agg(
        F.sum("o_e").cast("bigint").alias("n_e"),
        F.sum("o_l").cast("bigint").alias("n_l"),
    )
    exp = (F.col("n_l") * F.col("o_e")).cast("double") / F.col("n_e")
    contrib = ((F.col("o_l") - exp) * (F.col("o_l") - exp)) / exp
    return cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("o_e").alias("n_early"),
        F.col("o_l").alias("n_late"),
        F.when(F.col("o_e") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.floor(contrib * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
        )
        .alias("contrib_micros"),
    )


# ---------------------------------------------------------------------------
# Cohort retention (customers by first-order month x month offset)
# ---------------------------------------------------------------------------

RETENTION_MAX_OFFSET = 6


@_register(
    "cohort_retention",
    f"""
    WITH m AS (
      SELECT DISTINCT o_custkey,
             (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS m
      FROM orders
    ),
    coh AS (SELECT o_custkey, min(m) AS cohort_m FROM m GROUP BY o_custkey),
    r AS (
      SELECT m.o_custkey, coh.cohort_m, m.m - coh.cohort_m AS month_offset
      FROM m JOIN coh USING (o_custkey)
      WHERE m.m - coh.cohort_m <= {RETENTION_MAX_OFFSET}
    )
    SELECT cohort_m, month_offset, count(*)::BIGINT AS n_active
    FROM r GROUP BY cohort_m, month_offset
    ORDER BY cohort_m, month_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month
    (the cohort), counted as active in each subsequent month offset
    0..{RETENTION_MAX_OFFSET} — the classic product-analytics retention
    triangle.

    Scale: dedup to (customer, month) and the per-customer min-month
    both hash on o_custkey, so Catalyst reuses one exchange for the
    dedup, the cohort aggregate, AND the join back; the final rollup
    shuffles only (cohort, offset) pairs (output is calendar-bounded:
    months x {RETENTION_MAX_OFFSET + 1} rows, independent of row
    count).  Month index = year*12 + month, exact integers in both
    engines; a customer contributes at most one row per (cohort,
    offset) because offset determines the month, so count(*) counts
    distinct customers without a distinct aggregate."""
    o = load_table(spark, "orders", sf_dir)
    m = (
        o.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("m"),
        )
        .distinct()
    )
    coh = m.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    r = (
        m.join(coh, "o_custkey")
        .select(
            "cohort_m", (F.col("m") - F.col("cohort_m")).alias("month_offset")
        )
        .filter(F.col("month_offset") <= RETENTION_MAX_OFFSET)
    )
    return (
        r.groupBy("cohort_m", "month_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .orderBy("cohort_m", "month_offset")
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality index
# ---------------------------------------------------------------------------


@_register(
    "seasonality_dow_index",
    f"""
    WITH d AS (
      SELECT (epoch_us(o_orderdate) // {DAY_US}) % 7 AS dow,
             o_totalprice::DECIMAL(12,2) AS p
      FROM orders
    ),
    per AS (
      SELECT dow, count(*)::BIGINT AS n_orders, sum(p) AS rev
      FROM d GROUP BY dow
    )
    SELECT dow,
           n_orders,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(FLOOR((7000000e0 * CAST(rev AS DOUBLE)) /
                      CAST(sum(rev) OVER () AS DOUBLE)) AS BIGINT)
             AS dow_index_micros
    FROM per
    ORDER BY dow
    """,
)
def q_seasonality_dow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index of order revenue: each weekday's
    revenue as micros of the all-days-equal expectation (1,000,000 =
    exactly average) — the ops-calendar seasonality profile.

    Scale: day-of-week is epoch-day mod 7 (0 = Thursday, 1970-01-01),
    a pure projection; ONE map-side-combined aggregate to 7 rows; the
    total-revenue denominator is an unpartitioned window over those 7
    pre-aggregated rows (never the fact table).  Revenue sums run in
    DECIMAL (order-independent); the index is one double division of
    two exact decimals, floored to integer micros."""
    o = load_table(spark, "orders", sf_dir)
    d = o.select(
        F.expr(
            f"(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {DAY_US}) % 7"
        ).alias("dow"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
    )
    per = d.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("p").alias("rev"),
    )
    total = F.sum("rev").over(W.partitionBy())
    return (
        per.withColumn("total_rev", total)
        .select(
            "dow",
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            F.expr(
                "CAST(FLOOR((7000000e0 * CAST(rev AS DOUBLE)) /"
                " CAST(total_rev AS DOUBLE)) AS BIGINT)"
            ).alias("dow_index_micros"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Partition-key skew report
# ---------------------------------------------------------------------------


@_register(
    "data_skew_report",
    """
    WITH cnt AS (
      SELECT l_suppkey, count(*)::BIGINT AS c
      FROM lineitem GROUP BY l_suppkey
    ),
    s AS (
      SELECT count(*)::BIGINT AS n_keys,
             sum(c)::BIGINT AS total_rows,
             max(c)::BIGINT AS max_key_rows,
             min(c)::BIGINT AS min_key_rows,
             quantile_cont(c, 0.5) AS p50_rows,
             quantile_cont(c, 0.99) AS p99_rows
      FROM cnt
    )
    SELECT n_keys, total_rows, max_key_rows, min_key_rows,
           p50_rows, p99_rows,
           CAST(FLOOR((1000000e0 * max_key_rows) / total_rows) AS BIGINT)
             AS top1_share_micros,
           CAST(FLOOR((1000000e0 * p99_rows) / p50_rows) AS BIGINT)
             AS p99_over_p50_micros
    FROM s
    """,
)
def q_data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew report for lineitem.l_suppkey: key count,
    row totals, max/min per-key cardinality, exact p50/p99, the
    heaviest key's share, and the p99/p50 ratio — the diagnostic a
    platform runs BEFORE picking salting or AQE skew-join thresholds
    for a 100 TB shuffle.

    Scale: one map-side-combined aggregate to |keys| rows, then a
    single-row rollup; the exact percentiles run over the per-key
    count frame (|keys| rows, already reduced), not the fact table.
    Spark ``percentile`` and DuckDB ``quantile_cont`` interpolate
    identically (proven convention); ratios are single double
    divisions floored to integer micros."""
    li = load_table(spark, "lineitem", sf_dir)
    cnt = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    s = cnt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("total_rows"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        F.min("c").cast("bigint").alias("min_key_rows"),
        F.expr("percentile(c, 0.5)").alias("p50_rows"),
        F.expr("percentile(c, 0.99)").alias("p99_rows"),
    )
    return s.select(
        "n_keys",
        "total_rows",
        "max_key_rows",
        "min_key_rows",
        "p50_rows",
        "p99_rows",
        F.expr(
            "CAST(FLOOR((1000000e0 * max_key_rows) / total_rows) AS BIGINT)"
        ).alias("top1_share_micros"),
        F.expr(
            "CAST(FLOOR((1000000e0 * p99_rows) / p50_rows) AS BIGINT)"
        ).alias("p99_over_p50_micros"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day median revenue (order-statistic sliding window)
# ---------------------------------------------------------------------------


@_register(
    "rolling_7d_median_revenue",
    f"""
    WITH daily AS (
      SELECT (epoch_us(o_orderdate) // {DAY_US}) AS d,
             sum(o_totalprice::DECIMAL(12,2)) AS rev
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT t, CAST(rev AS DOUBLE) AS r
      FROM daily, unnest(generate_series(d, d + 6)) AS u(t)
    )
    SELECT w.t::BIGINT AS day_idx,
           count(*)::BIGINT AS n_days,
           quantile_cont(w.r, 0.5) AS median_rev
    FROM w SEMI JOIN daily ON w.t = daily.d
    GROUP BY w.t
    ORDER BY day_idx
    """,
)
def q_rolling_7d_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day MEDIAN of daily order revenue — the order-statistic
    sliding window a robust-trend dashboard needs (a mean-based rolling
    window is one outlier day away from useless; medians can't be
    computed incrementally, so the window shape matters).

    Scale: NO self-join and NO range join — each day's single
    pre-aggregated revenue row fans out to the 7 window-end days it
    participates in (an Expand over the |days|-row frame, the
    sliding_window_sums trick), then one hash aggregate per window-end
    computes the exact median over ≤ 7 values.  The fact table is
    touched once (the daily rollup); everything after runs on the
    calendar-bounded frame.  Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` (proven interpolation parity); the semi join
    drops phantom window-ends past the last observed day."""
    o = load_table(spark, "orders", sf_dir)
    daily = (
        o.select(
            F.expr(
                f"(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {DAY_US})"
            ).alias("d"),
            F.col("o_totalprice").cast("decimal(12,2)").alias("p"),
        )
        .groupBy("d")
        .agg(F.sum("p").alias("rev"))
    )
    w = daily.select(
        F.explode(F.expr("sequence(d, d + 6)")).alias("t"),
        F.col("rev").cast("double").alias("r"),
    )
    return (
        w.join(daily.select(F.col("d").alias("t")), "t", "semi")
        .groupBy(F.col("t").cast("bigint").alias("day_idx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr("percentile(r, 0.5)").alias("median_rev"),
        )
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# Inclusion-dependency (joinability) profiling across candidate FK pairs
# ---------------------------------------------------------------------------

# (candidate label, child table, child col, parent table, parent col) —
# the three real FKs, one dim-level FK, and one deliberate near-miss
# (custkeys vs the much smaller suppkey domain) so the report shows a
# non-trivial containment spectrum, the way a schema-discovery tool would.
IND_CANDIDATES = (
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("orders.o_custkey->supplier.s_suppkey", "orders", "o_custkey", "supplier", "s_suppkey"),
)


def _ind_oracle() -> str:
    arms = []
    for label, ct, cc, pt, pc in IND_CANDIDATES:
        arms.append(f"""
    SELECT '{label}' AS candidate,
           count(*)::BIGINT AS n_child_distinct,
           count(p.v)::BIGINT AS n_contained,
           ((count(p.v) * 1000000) // count(*))::BIGINT AS containment_micros
    FROM (SELECT DISTINCT {cc} AS v FROM {ct} WHERE {cc} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT {pc} AS v FROM {pt}) p USING (v)""")
    return " UNION ALL ".join(arms) + " ORDER BY candidate"


@_register("inclusion_dependency_profile", _ind_oracle())
def q_inclusion_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery: for each candidate FK pair, the
    fraction of the child column's distinct values contained in the
    parent column — the joinability score a data-discovery catalog
    computes to propose join paths over an unfamiliar lake (and the
    referential-integrity check an ingestion gate runs; a true FK scores
    1.0, the deliberate custkey->suppkey near-miss scores its actual
    overlap).

    Scale: each candidate costs ONE distinct-agg shuffle on the child
    key (partial distinct map-side) plus a left join against the
    parent's distinct frame — dimension-sized parents broadcast, the
    candidates are independent legs (embarrassingly parallel across the
    pair list), and nothing ever touches two fact tables in one join.
    Containment is integer micros from exact BIGINT counts."""
    out = None
    for label, ct, cc, pt, pc in IND_CANDIDATES:
        ch = (
            load_table(spark, ct, sf_dir)
            .select(F.col(cc).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
        )
        pa = (
            load_table(spark, pt, sf_dir)
            .select(F.col(pc).alias("v"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        leg = ch.join(pa, "v", "left").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_distinct"),
            F.count("hit").cast("bigint").alias("n_contained"),
        ).select(
            F.lit(label).alias("candidate"),
            "n_child_distinct",
            "n_contained",
            F.expr("(n_contained * 1000000) div n_child_distinct")
            .cast("bigint")
            .alias("containment_micros"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("candidate")


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over the event stream
# ---------------------------------------------------------------------------


@_register(
    "markov_transition_probs",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n_trans
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n_trans,
           ((n_trans * 1000000)
              // (sum(n_trans) OVER (PARTITION BY prev_type))::BIGINT
           )::BIGINT AS prob_micros
    FROM trans
    ORDER BY prev_type, next_type
    """,
)
def q_markov_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event-type
    sequence — the behavioral model a product-analytics platform fits to
    answer "what usually follows an error?" (and the generative prior
    behind next-event prediction features).

    Scale: the lag window shuffles the fact ONCE on user_id (the exact
    exchange user_activity_streaks/sessionization already pay — at 100 TB
    a shared user_id bucketing serves all of them); the transition
    rollup reduces to at most |types|^2 rows (25 here) before the
    normalizing window, which therefore runs over a constant-size frame.
    Probabilities are integer micros (floor-divided exact BIGINT counts)
    — no doubles anywhere in the matrix."""
    ev = events_us(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans")
    )
    wnorm = W.partitionBy("prev_type")
    return (
        trans.withColumn("n_out", F.sum("n_trans").over(wnorm).cast("bigint"))
        .select(
            "prev_type",
            "next_type",
            "n_trans",
            F.expr("(n_trans * 1000000) div n_out").cast("bigint").alias("prob_micros"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point scan over daily revenue
# ---------------------------------------------------------------------------

CUSUM_TOPN = 5


def _cusum_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT (epoch_us(o_orderdate) // {DAY_US})::BIGINT AS day_idx,
             sum((o_totalprice::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS rev_c
      FROM orders GROUP BY day_idx
    ),
    tot AS (
      SELECT count(*)::BIGINT AS n_days, sum(rev_c)::BIGINT AS total_c
      FROM daily
    ),
    dev AS (
      SELECT day_idx, (d.rev_c * t.n_days - t.total_c)::BIGINT AS d_i
      FROM daily d CROSS JOIN tot t
    ),
    pref AS (
      SELECT day_idx,
             sum(d_i) OVER (ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS p_i
      FROM dev
    ),
    cusum AS (
      SELECT day_idx,
             (p_i - least(0::BIGINT,
                min(p_i) OVER (ORDER BY day_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             )::BIGINT AS s_i
      FROM pref
    )
    SELECT day_idx, s_i AS cusum_stat
    FROM cusum
    ORDER BY s_i DESC, day_idx ASC
    LIMIT {CUSUM_TOPN}
    """


@_register("cusum_changepoint_daily", _cusum_oracle())
def q_cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan over daily revenue: the classic
    sequential upward-shift detector S_i = max(0, S_{i-1} + (x_i - mu)),
    surfacing the days where cumulative above-mean drift peaks (where a
    monitoring pipeline would raise "this series changed level here").

    The recurrence is NOT a window function — but its closed form is:
    with P_i the prefix sum of deviations (and P_0 = 0), S_i = P_i -
    min(0, min_{j<=i} P_j), turning the sequential scan into two
    cumulative windows. Deviations are mean-centered WITHOUT division:
    d_i = n_days * rev_i - total (exact BIGINT cross-multiplication), so
    every statistic in the scan is an exact integer — no doubles.

    Scale: daily rollup is one partial+final agg on epoch-day; the
    window frame is the DAILY series, bounded by the calendar span (a
    century is < 40k rows) regardless of fact size, so the
    single-partition cumulative windows are constant-bounded — the
    rolling_7d_median / seasonality precedent."""
    o = load_table(spark, "orders", sf_dir).select("o_orderdate", "o_totalprice")
    daily = o.groupBy(
        F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {DAY_US}")
        .cast("bigint")
        .alias("day_idx")
    ).agg(
        F.sum(F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
        .cast("bigint")
        .alias("rev_c")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("rev_c").cast("bigint").alias("total_c"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day_idx", F.expr("CAST(rev_c * n_days - total_c AS BIGINT)").alias("d_i")
    )
    wcum = W.orderBy("day_idx").rowsBetween(W.unboundedPreceding, W.currentRow)
    pref = dev.select(
        "day_idx", F.sum("d_i").over(wcum).cast("bigint").alias("p_i")
    )
    cusum = pref.select(
        "day_idx",
        (
            F.col("p_i")
            - F.least(F.lit(0).cast("bigint"), F.min("p_i").over(wcum))
        )
        .cast("bigint")
        .alias("cusum_stat"),
    )
    return cusum.orderBy(F.desc("cusum_stat"), F.asc("day_idx")).limit(CUSUM_TOPN)


# ---------------------------------------------------------------------------
# Exact AUC (Mann-Whitney) of a score against a binary label
# ---------------------------------------------------------------------------


@_register(
    "auc_purchase_value",
    """
    WITH e AS (
      SELECT (value::DECIMAL(12,2) * 100)::BIGINT AS v_c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT v_c, sum(pos)::BIGINT AS np, sum(1 - pos)::BIGINT AS nn
      FROM e GROUP BY v_c
    ),
    c AS (
      SELECT np, nn,
             coalesce(sum(nn) OVER (ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_nn
      FROM g
    ),
    t AS (
      SELECT sum(np)::BIGINT AS np_tot, sum(nn)::BIGINT AS nn_tot,
             sum((np * (2 * cum_nn + nn))::HUGEINT)::HUGEINT AS u2
      FROM c
    )
    SELECT np_tot AS n_pos, nn_tot AS n_neg, u2::BIGINT AS u_times2,
           CAST(u2 AS DOUBLE)
             / CAST(2::HUGEINT * np_tot * nn_tot AS DOUBLE) AS auc
    FROM t
    """,
)
def q_auc_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (Mann-Whitney U) of the event value as a predictor
    of 'purchase' — the model-evaluation statistic an offline scoring
    pipeline computes over billions of (score, label) rows. AUC equals
    P(score_pos > score_neg) + ½·P(tie), which the rank-free identity
    2U = Σ_s np(s)·(2·cum_nn(<s) + nn(s)) computes from per-score class
    counts — ties handled exactly by the nn(s) term, no average ranks.

    Determinism: scores quantized to cents (2-dp domain, lossless);
    every term is an exact integer (128-bit accumulators: the U sum
    crosses BIGINT around np·nn ≈ 1e19, i.e. ~3e9 rows/class); the ONLY
    float op is the final single IEEE division.

    Scale: ONE groupBy on the quantized score whose output frame is
    value-DOMAIN-bounded (≤ ~50k distinct cents regardless of fact
    rows — the calendar-series argument of rolling_7d_median), so the
    cumulative window over it is constant-bounded; class totals fold in
    the same pass. The fact table is touched exactly once."""
    ev = events_us(spark, sf_dir)
    e = ev.where(F.col("value").isNotNull()).select(
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("v_c"),
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("pos"),
    )
    g = e.groupBy("v_c").agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.sum(F.expr("1 - pos")).cast("bigint").alias("nn"),
    )
    wc = W.orderBy("v_c").rowsBetween(W.unboundedPreceding, -1)
    c = g.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(wc), F.lit(0)).cast("bigint").alias("cum_nn"),
    )
    t = c.agg(
        F.sum("np").cast("bigint").alias("np_tot"),
        F.sum("nn").cast("bigint").alias("nn_tot"),
        F.sum(F.expr("CAST(np * (2 * cum_nn + nn) AS DECIMAL(38,0))")).alias("u2"),
    )
    return t.select(
        F.col("np_tot").alias("n_pos"),
        F.col("nn_tot").alias("n_neg"),
        F.col("u2").cast("bigint").alias("u_times2"),
        (
            F.col("u2").cast("double")
            / F.expr(
                "CAST(CAST(2 AS DECIMAL(38,0)) * np_tot * nn_tot AS DOUBLE)"
            )
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution over per-user event paths
# ---------------------------------------------------------------------------


@_register(
    "attribution_linear_touch",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv_rem
      FROM events
    ),
    grp AS (
      SELECT event_type,
             count(*) OVER (PARTITION BY user_id, conv_rem) AS n_touch
      FROM seq WHERE conv_rem > 0 AND event_type <> 'purchase'
    )
    SELECT event_type,
           count(*)::BIGINT AS n_touches,
           sum(1000000 // n_touch)::BIGINT AS credit_micros
    FROM grp GROUP BY event_type ORDER BY event_type
    """,
)
def q_attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every conversion (purchase)
    distributes 1,000,000 micros of credit equally across the touches
    (non-purchase events) that precede it in the user's timeline — the
    marketing-analytics allocation behind "which channel earns the
    revenue". Touch→conversion assignment uses the remaining-purchases
    trick: a CURRENT-ROW→UNBOUNDED-FOLLOWING running count of purchases
    is constant exactly within each conversion's attribution span, so
    (user_id, conv_rem) IS the conversion key — no interval join, no
    self-join. Post-last-purchase touches (conv_rem = 0) are correctly
    unattributed.

    Determinism: per-touch credit is floor(1e6 / n_touch) — exact
    integers, the documented floor-division mass loss (< n_touch micros
    per conversion) identical on both engines; ordering ties broken by
    (ts, event_id), total.

    Scale: both windows run inside ONE user_id exchange (Catalyst
    collapses the (user_id, conv_rem) partition into the same shuffle —
    the sessionization family's key reuse); per-partition state is one
    user's path. Final rollup is ≤ |event types| rows."""
    ev = events_us(spark, sf_dir)
    wseq = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.sum(
            F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
        )
        .over(wseq)
        .alias("conv_rem"),
    )
    touch = seq.where(
        (F.col("conv_rem") > 0) & (F.col("event_type") != "purchase")
    )
    wgrp = W.partitionBy("user_id", "conv_rem")
    grp = touch.select(
        "event_type", F.count(F.lit(1)).over(wgrp).alias("n_touch")
    )
    return (
        grp.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(F.expr("1000000 div n_touch")).cast("bigint").alias("credit_micros"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Benford first-digit fraud audit over order totals
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6) for d = 1..9 — precomputed constants so the
# no-libm oracle discipline holds (both dialects embed the SAME literals).
BENFORD_MICROS = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757)


def _benford_oracle() -> str:
    exp_rows = ", ".join(
        f"({d}, {m})" for d, m in enumerate(BENFORD_MICROS, start=1)
    )
    return f"""
    WITH obs AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             count(*)::BIGINT AS n
      FROM orders WHERE o_totalprice >= 1
      GROUP BY digit
    ),
    tot AS (SELECT sum(n)::BIGINT AS n_tot FROM obs),
    exp_t(digit, expected_micros) AS (VALUES {exp_rows})
    SELECT e.digit::BIGINT AS digit,
           coalesce(o.n, 0)::BIGINT AS n_orders,
           ((coalesce(o.n, 0) * 1000000) // t.n_tot)::BIGINT AS observed_micros,
           e.expected_micros::BIGINT AS expected_micros,
           (((coalesce(o.n, 0) * 1000000) // t.n_tot - e.expected_micros)
            * ((coalesce(o.n, 0) * 1000000) // t.n_tot - e.expected_micros)
            // e.expected_micros)::BIGINT AS chi_term_micros
    FROM exp_t e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
    ORDER BY digit
    """


@_register("benford_first_digit_audit", _benford_oracle())
def q_benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic-accounting / data-fabrication screen: compare the observed
    first-significant-digit distribution against log10(1+1/d) and report
    a per-digit chi-square term. Fabricated or systematically capped
    amounts light up digits 7-9.

    Determinism: the Benford expectations are PRECOMPUTED integer-micro
    literals embedded identically in both dialects (the no-libm rule —
    no runtime log10 anywhere); observed shares are floor-divided exact
    BIGINT counts; chi terms are pure integer arithmetic.

    Scale: one partial+final aggregate to AT MOST 9 rows; the expected
    table is a 9-row literal frame; the total is folded from the 9-row
    frame. The fact table is scanned once, projection-pruned to one
    column."""
    o = load_table(spark, "orders", sf_dir).where(F.col("o_totalprice") >= 1)
    obs = o.groupBy(
        F.expr(
            "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    exp_t = spark.createDataFrame(
        [(d, m) for d, m in enumerate(BENFORD_MICROS, start=1)],
        "digit bigint, expected_micros bigint",
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("n_tot"))
    om = "(coalesce(n, 0) * 1000000) div n_tot"
    return (
        exp_t.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("digit").cast("bigint").alias("digit"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.expr(om).cast("bigint").alias("observed_micros"),
            F.col("expected_micros").cast("bigint").alias("expected_micros"),
            F.expr(
                f"(({om} - expected_micros) * ({om} - expected_micros))"
                " div expected_micros"
            )
            .cast("bigint")
            .alias("chi_term_micros"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Gini-impurity feature importance (categorical features vs binary label)
# ---------------------------------------------------------------------------

GINI_LABEL_CENTS = 10000  # label: event value >= $100


def _gini_oracle() -> str:
    legs = []
    for fname, fexpr in (
        ("event_type", "event_type"),
        ("dow", f"CAST((epoch_us(ts) // {DAY_US}) % 7 AS VARCHAR)"),
        ("user_bucket", "CAST(user_id % 10 AS VARCHAR)"),
    ):
        legs.append(f"""
    SELECT '{fname}' AS feature, v.sum_micros, r.root_micros, r.n_tot
    FROM (
      SELECT sum(((p * p + q * q) * 1000000) // t)::BIGINT AS sum_micros
      FROM (
        SELECT count(*) FILTER ((value::DECIMAL(12,2) * 100)::BIGINT >= {GINI_LABEL_CENTS})::BIGINT AS p,
               count(*) FILTER ((value::DECIMAL(12,2) * 100)::BIGINT < {GINI_LABEL_CENTS})::BIGINT AS q,
               count(*)::BIGINT AS t
        FROM events WHERE value IS NOT NULL GROUP BY {fexpr})
    ) v CROSS JOIN (
      SELECT (((p * p + q * q) * 1000000) // t)::BIGINT AS root_micros, t AS n_tot
      FROM (
        SELECT count(*) FILTER ((value::DECIMAL(12,2) * 100)::BIGINT >= {GINI_LABEL_CENTS})::BIGINT AS p,
               count(*) FILTER ((value::DECIMAL(12,2) * 100)::BIGINT < {GINI_LABEL_CENTS})::BIGINT AS q,
               count(*)::BIGINT AS t
        FROM events WHERE value IS NOT NULL)
    ) r""")
    union = " UNION ALL ".join(legs)
    return f"""
    SELECT feature,
           ((sum_micros - root_micros) // n_tot)::BIGINT AS importance_nanos
    FROM ({union})
    ORDER BY feature
    """


@_register("gini_feature_importance", _gini_oracle())
def q_gini_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-impurity feature importance: for each categorical feature
    (event type, day-of-week, user hash-bucket), the impurity decrease a
    one-level split on that feature buys when predicting the binary
    "high-value event" label (value >= $100) — the statistic a tree
    trainer / feature selector ranks features by, computed by pure
    counting.  Importance = [Σ_v (p_v²+q_v²)/t_v − (P²+Q²)/N] / N, the
    algebra-reduced Gini decrease (larger = more informative; the
    hash-bucket feature scores ~0 by construction — the null control).

    Determinism: per-value terms are floor-quantized to micros BEFORE
    summation (the quantize-then-sum rule), root term likewise; the
    final division is integer (nanos = micros/N floor). p² stays exact:
    128-bit only needed past ~3e9 rows/value, and per-value counts are
    feature-cardinality-bounded fractions of N (documented; promote to
    DECIMAL(38,0) when deploying against >1e9-row values).

    Scale: each feature leg is ONE partial+final aggregate to
    |feature-cardinality| rows (5 / 7 / 10 here) folded to a 1-row term;
    the root leg is a 1-row aggregate shared by broadcast; legs are
    independent parallel branches of a 3-row union."""
    ev = events_us(spark, sf_dir).where(F.col("value").isNotNull())
    lab = ev.select(
        "event_type",
        "user_id",
        "ts_us",
        F.expr(
            f"CASE WHEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
            f" >= {GINI_LABEL_CENTS} THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    feats = {
        "event_type": F.col("event_type"),
        "dow": F.expr(f"CAST((ts_us div {DAY_US}) % 7 AS STRING)"),
        "user_bucket": F.expr("CAST(user_id % 10 AS STRING)"),
    }
    root = lab.agg(
        F.sum("y").cast("bigint").alias("p"),
        F.sum(F.expr("1 - y")).cast("bigint").alias("q"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    ).select(
        F.expr("((p * p + q * q) * 1000000) div t")
        .cast("bigint")
        .alias("root_micros"),
        F.col("t").alias("n_tot"),
    )
    out = None
    for fname, fexpr in feats.items():
        pv = lab.groupBy(fexpr.alias("fv")).agg(
            F.sum("y").cast("bigint").alias("p"),
            F.sum(F.expr("1 - y")).cast("bigint").alias("q"),
            F.count(F.lit(1)).cast("bigint").alias("t"),
        )
        leg = (
            pv.select(
                F.expr("((p * p + q * q) * 1000000) div t")
                .cast("bigint")
                .alias("vm")
            )
            .agg(F.sum("vm").cast("bigint").alias("sum_micros"))
            .crossJoin(F.broadcast(root))
            .select(
                F.lit(fname).alias("feature"),
                F.expr("(sum_micros - root_micros) div n_tot")
                .cast("bigint")
                .alias("importance_nanos"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("feature")


# ---------------------------------------------------------------------------
# Decision-stump training (best 1-feature split by Gini, exact search)
# ---------------------------------------------------------------------------


@_register(
    "decision_stump_value_split",
    """
    WITH e AS (
      SELECT (value::DECIMAL(12,2) * 100)::BIGINT AS v_c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT v_c, sum(y)::BIGINT AS p, sum(1 - y)::BIGINT AS q FROM e GROUP BY v_c),
    t AS (SELECT sum(p)::BIGINT AS pt, sum(q)::BIGINT AS qt FROM g),
    c AS (
      SELECT v_c,
             sum(p) OVER (ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS pl,
             sum(q) OVER (ORDER BY v_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS ql
      FROM g
    ),
    sc AS (
      SELECT c.v_c, c.pl, c.ql,
             (t.pt - c.pl)::BIGINT AS pr, (t.qt - c.ql)::BIGINT AS qr,
             t.pt, t.qt
      FROM c CROSS JOIN t
      WHERE c.pl + c.ql > 0 AND (t.pt - c.pl) + (t.qt - c.ql) > 0
    ),
    best AS (
      SELECT *,
             CAST(pl * pl + ql * ql AS DOUBLE) / CAST(pl + ql AS DOUBLE)
               + CAST(pr * pr + qr * qr AS DOUBLE) / CAST(pr + qr AS DOUBLE) AS score,
             row_number() OVER (ORDER BY
               CAST(pl * pl + ql * ql AS DOUBLE) / CAST(pl + ql AS DOUBLE)
                 + CAST(pr * pr + qr * qr AS DOUBLE) / CAST(pr + qr AS DOUBLE) DESC,
               v_c ASC) AS rn
      FROM sc
    )
    SELECT v_c AS threshold_cents,
           (pl + ql)::BIGINT AS n_left, (pr + qr)::BIGINT AS n_right,
           ((greatest(pl, ql) + greatest(pr, qr)) * 1000000 // (pt + qt))::BIGINT
             AS train_acc_micros,
           score AS split_score
    FROM best WHERE rn = 1
    """,
)
def q_decision_stump_value_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training: EXACT search for the best value
    threshold splitting 'purchase' from the rest by Gini impurity — the
    depth-1 tree (and the split-finding primitive inside every
    distributed GBDT: per-feature cumulative class histograms, then an
    argmax over candidate cuts).  Reports the chosen threshold, split
    sizes, majority-vote training accuracy, and the purity score.

    Determinism: candidate evaluation uses cumulative EXACT class
    counts; the score (pl²+ql²)/tl + (pr²+qr²)/tr is two IEEE divisions
    + one add with formula text identical in both dialects (monotone
    transform of weighted-Gini decrease, so the argmax is the textbook
    split); the argmax tie-breaks on MIN threshold; accuracy is
    floor-divided exact integers.  p² needs 128-bit past ~3e9
    rows/class (documented; promote the casts then).

    Scale: one fact shuffle onto the cent-quantized score frame —
    value-DOMAIN-bounded (~50k rows at any fact size, the AUC
    argument), so the cumulative windows and the argmax run over a
    constant-bounded frame; class totals ride a 1-row broadcast."""
    ev = events_us(spark, sf_dir)
    e = ev.where(F.col("value").isNotNull()).select(
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("v_c"),
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    g = e.groupBy("v_c").agg(
        F.sum("y").cast("bigint").alias("p"),
        F.sum(F.expr("1 - y")).cast("bigint").alias("q"),
    )
    t = g.agg(
        F.sum("p").cast("bigint").alias("pt"),
        F.sum("q").cast("bigint").alias("qt"),
    )
    wcum = W.orderBy("v_c").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select(
        "v_c",
        F.sum("p").over(wcum).cast("bigint").alias("pl"),
        F.sum("q").over(wcum).cast("bigint").alias("ql"),
    )
    sc = (
        c.crossJoin(F.broadcast(t))
        .withColumn("pr", F.expr("CAST(pt - pl AS BIGINT)"))
        .withColumn("qr", F.expr("CAST(qt - ql AS BIGINT)"))
        .where(F.expr("pl + ql > 0 AND pr + qr > 0"))
    )
    score = (
        "CAST(pl * pl + ql * ql AS DOUBLE) / CAST(pl + ql AS DOUBLE)"
        " + CAST(pr * pr + qr * qr AS DOUBLE) / CAST(pr + qr AS DOUBLE)"
    )
    wbest = W.orderBy(F.desc("score"), F.asc("v_c"))
    best = (
        sc.withColumn("score", F.expr(score))
        .withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
    )
    return best.select(
        F.col("v_c").alias("threshold_cents"),
        F.expr("CAST(pl + ql AS BIGINT)").alias("n_left"),
        F.expr("CAST(pr + qr AS BIGINT)").alias("n_right"),
        F.expr(
            "CAST((greatest(pl, ql) + greatest(pr, qr)) * 1000000"
            " div (pt + qt) AS BIGINT)"
        ).alias("train_acc_micros"),
        F.col("score").alias("split_score"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per user-day
# ---------------------------------------------------------------------------

TWAP_LIMIT = 50


@_register(
    "twap_user_daily",
    f"""
    WITH ev AS (
      SELECT user_id, event_id,
             (epoch_us(ts) // {DAY_US})::BIGINT AS d,
             epoch_us(ts)::BIGINT AS ts_us,
             (value::DECIMAL(12,2) * 100)::BIGINT AS v_c
      FROM events WHERE value IS NOT NULL
    ),
    seg AS (
      SELECT user_id, d, v_c,
             (coalesce(lead(ts_us) OVER (
                 PARTITION BY user_id, d ORDER BY ts_us, event_id),
               (d + 1) * {DAY_US}) - ts_us)::BIGINT AS w_us
      FROM ev
    )
    SELECT user_id, d AS day_idx,
           count(*)::BIGINT AS n_obs,
           sum(w_us)::BIGINT AS held_us,
           (sum((v_c * w_us)::HUGEINT)::HUGEINT * 1000000
              // sum(w_us)::HUGEINT)::BIGINT AS twap_microcents
    FROM seg GROUP BY user_id, d
    ORDER BY user_id, day_idx
    LIMIT {TWAP_LIMIT}
    """,
)
def q_twap_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per user per day — each
    observation holds its value until the next one (last until
    midnight), the finance/observability estimator that de-biases
    irregular sampling (a plain mean overweights bursts).

    Determinism: hold durations are exact integer microseconds from the
    lead window ((ts, event_id) total order); the weighted sum v_c·w_us
    is exact 128-bit; TWAP is ONE floor division to micro-cents — no
    doubles.

    Scale: one shuffle on (user, day) serves both the lead window and
    the rollup (same exchange — Catalyst reuses the partitioning);
    per-partition state is one user-day.  Output bounded to
    {TWAP_LIMIT} rows by (user, day) order."""
    ev = events_us(spark, sf_dir)
    e = ev.where(F.col("value").isNotNull()).select(
        "user_id",
        "event_id",
        F.expr(f"CAST(ts_us div {DAY_US} AS BIGINT)").alias("d"),
        "ts_us",
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("v_c"),
    )
    wl = W.partitionBy("user_id", "d").orderBy("ts_us", "event_id")
    seg = e.select(
        "user_id",
        "d",
        "v_c",
        (
            F.coalesce(
                F.lead("ts_us").over(wl),
                F.expr(f"(d + 1) * {DAY_US}"),
            )
            - F.col("ts_us")
        )
        .cast("bigint")
        .alias("w_us"),
    )
    return (
        seg.groupBy("user_id", F.col("d").alias("day_idx"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum("w_us").cast("bigint").alias("held_us"),
            F.expr(
                "CAST(sum(CAST(v_c * w_us AS DECIMAL(38,0))) * 1000000"
                " div sum(CAST(w_us AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("twap_microcents"),
        )
        .orderBy("user_id", "day_idx")
        .limit(TWAP_LIMIT)
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard over order fulfilment latency
# ---------------------------------------------------------------------------

NA_HORIZON_DAYS = 60  # administrative right-censoring horizon


def _nelson_aalen_oracle() -> str:
    return f"""
    WITH lat AS (
      SELECT l.l_orderkey,
             (min(epoch_us(l.l_shipdate) // {DAY_US})
               - min(epoch_us(o.o_orderdate) // {DAY_US}) + 1)::BIGINT AS raw_t
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey
    ),
    obs AS (
      SELECT least(raw_t, {NA_HORIZON_DAYS})::BIGINT AS t,
             CASE WHEN raw_t <= {NA_HORIZON_DAYS} THEN 1 ELSE 0 END AS died
      FROM lat WHERE raw_t >= 1
    ),
    tt AS (
      SELECT t, count(*)::BIGINT AS n_at_t, sum(died)::BIGINT AS d_t
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d_t,
             (sum(n_at_t) OVER (ORDER BY t
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))::BIGINT AS n_risk
      FROM tt
    ),
    hz AS (
      SELECT t, n_risk, d_t,
             ((d_t * 1000000) // n_risk)::BIGINT AS hazard_micros
      FROM risk WHERE d_t > 0
    )
    SELECT t AS latency_days, n_risk AS n_at_risk, d_t AS n_events,
           hazard_micros,
           (sum(hazard_micros) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
             AS cum_hazard_micros
    FROM hz ORDER BY latency_days
    """


@_register("nelson_aalen_hazard", _nelson_aalen_oracle())
def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over order-fulfilment
    latency (days from order to FIRST shipment), right-censored at the
    NA_HORIZON_DAYS administrative horizon — the survival-analysis
    staple (churn, time-to-failure, SLA latency) in its warehouse form
    (orders whose first ship PRECEDES the order date — upstream
    corruption in this synthetic schema — are excluded by the same
    raw_t >= 1 gate on both engines, the referential-integrity-audit
    discipline):
    at each observed latency t the hazard increment is d_t / n_at_risk
    and H(t) is their running sum.  (Nelson-Aalen is the sum-form twin
    of Kaplan-Meier — chosen because its cumulative is a window SUM of
    quantized increments, exactly the quantize-then-sum oracle
    discipline, where KM's cumulative PRODUCT has no deterministic
    log-free form.)

    Determinism: latencies, censor flags and at-risk counts are exact
    integers; each hazard increment is ONE floor division to micros; the
    cumulative is an integer window sum — no doubles.

    Scale: one fact shuffle to the per-order min-shipdate rollup (the
    join is orderkey-aligned — bucketed at 100 TB it is the
    zero-exchange SMJ); everything after runs on the latency-
    distribution frame, bounded by the horizon (≤ NA_HORIZON_DAYS rows),
    so both cumulative windows are constant-bounded.  Never a per-order
    × per-time band join."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    lat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                f"CAST(min(unix_micros(CAST(l_shipdate AS TIMESTAMP)) div {DAY_US})"
                f" - min(unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {DAY_US})"
                " + 1 AS BIGINT)"
            ).alias("raw_t")
        )
    )
    obs = lat.where(F.col("raw_t") >= 1).select(
        F.expr(f"CAST(least(raw_t, {NA_HORIZON_DAYS}) AS BIGINT)").alias("t"),
        F.expr(
            f"CASE WHEN raw_t <= {NA_HORIZON_DAYS} THEN 1 ELSE 0 END"
        ).alias("died"),
    )
    tt = obs.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at_t"),
        F.sum("died").cast("bigint").alias("d_t"),
    )
    wrisk = W.orderBy("t").rowsBetween(W.currentRow, W.unboundedFollowing)
    risk = tt.select(
        "t", "d_t", F.sum("n_at_t").over(wrisk).cast("bigint").alias("n_risk")
    )
    hz = risk.where(F.col("d_t") > 0).select(
        "t",
        "n_risk",
        "d_t",
        F.expr("CAST((d_t * 1000000) div n_risk AS BIGINT)").alias("hazard_micros"),
    )
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    return hz.select(
        F.col("t").alias("latency_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d_t").alias("n_events"),
        "hazard_micros",
        F.sum("hazard_micros").over(wcum).cast("bigint").alias("cum_hazard_micros"),
    ).orderBy("latency_days")
