"""The r13 query wave, registered in r13 (``registry._modules``).

Every query was implemented, oracle-paired, plan-invariant-pinned and
proven green under the driver-identical comparison in r12, the round
before its registration (the r12 verification window was spent on the
15 r12 queries and the r07 stale drain).

Determinism discipline (unchanged): integer / DECIMAL arithmetic only,
hash-seeded pseudo-randomness, total orders on every rank, ratio
quantization via ``tx.floor_scaled_div`` (overflow-safe integer
cross-multiplication) — never libm.  Scale discipline: pair stages are
calendar- or domain-bounded, graph iterations are fixed and unrolled in
the oracle, global scalars ride 1-row broadcast frames.

Wave D families and the public designs they implement:
- sessionization_gap_stats — gap-based batch sessionization (the
  classic 30-minute-inactivity web-analytics session cut), per-user
  session stats.  Complements the STREAMING session_windows query with
  the batch/backfill formulation.
- max_concurrent_orders — interval sweep-line peak concurrency (+1/-1
  event deltas, running sum), per nation.  The standard "max in-flight"
  operator interval self-joins cannot express at scale.
- spearman_corr_suppliers — Spearman rank correlation (1904) between
  supplier account balance and realized supply revenue, per nation;
  exact via integer rank differences (rho = 1 - 6*sum(d^2)/(n(n^2-1))).
- kendall_tau_daily — Kendall tau-a (1938) between daily order count
  and daily revenue within each month; concordant/discordant pair
  counts over calendar-bounded day pairs (<=465/month at ANY corpus
  size).  Distinct from mann_kendall_trend (draft_r11): that tests one
  series against TIME; this correlates two series with each other.
- hits_hubs_authorities — Kleinberg's HITS (JACM 1999) on the directed
  supplier→customer shipment graph, two full hub/authority rounds with
  integer max-normalization, unrolled in the oracle like PageRank/LPA.
- ndcg_eval_topk — NDCG@10 of the IVF index against the exact cosine
  ranking (Järvelin & Kekäläinen 2002), with the 1/log2(i+1) discounts
  as precomputed integer micro-weight literals (both engines see the
  same constants; no runtime libm).  Completes the retrieval-eval
  family: recall@k audits (ivf/sq/pq/matryoshka) are rank-blind, NDCG
  is rank-sensitive.
- ks_drift_doclen — exact two-sample Kolmogorov–Smirnov distance
  between per-source document-length distributions on a binned domain
  (KS = max |F1-F2| via integer cross-multiplied CDF counts).
  Complements distribution_drift_chisq (density) with the sup-CDF
  drift statistic.
- bloom_filter_fpr_audit — measured Bloom-filter false-positive rate
  (Bloom 1970): k seeded hash positions per key, membership by
  all-positions-set join, FPR measured against known-disjoint probe
  keys.  The audit a runtime-filter (bloom join) deployment runs to
  size m/k.

Wave E (same round):
- t_closeness_audit — t-closeness (Li, Li & Venkatasubramanian, ICDE
  2007) over the QI ladder's (nation × segment) groups: ordered-EMD
  between each group's account-balance distribution and the global
  one, in integer cross-multiplied cumulative counts.  Completes the
  k-anonymity / l-diversity / t-closeness privacy trio.
- zone_map_skipping_audit — data-skipping effectiveness audit: block
  min/max zone maps under the natural (insertion-keyed) layout vs a
  date-partitioned layout, against literal date-range predicates —
  the measured "why you partition/z-order" number.
- calibration_bins_value — reliability-diagram calibration audit
  (predicted vs observed urgent-order rate per price band, trained on
  a hash-split half) — the eval-family companion to AUC/conformal:
  those rank or cover, this checks probability CALIBRATION.
- watermark_late_dups — duplicate-leakage audit for watermark-bounded
  streaming dedup: repeats of a (user, event_type) key that arrive
  past the first occurrence's watermark horizon are exactly what
  dropDuplicatesWithinWatermark cannot drop; batch-counts that upper
  bound per event type.
- embedding_dim_health — per-dimension mean/variance/dead-dimension
  audit of the embedding corpus (the representation-collapse check a
  training pipeline runs before trusting cosine geometry).
- mutual_top1_linkage — reciprocal best-match pairs (each side is the
  other's top trade partner), the classic high-precision entity/link
  resolution rule (mutual nearest neighbors).

Wave F (same round):
- lagged_spearman_ccf — Spearman cross-correlation of the daily order
  and revenue series at leads/lags ±3 (the cross-series companion to
  the within-series trend tests).
- fano_burstiness_events — variance-to-mean Fano factor of daily event
  arrivals per type (Poisson ≈ 1; burstiness diagnostic), pure integer.
- degree_mixing_matrix — joint log2-degree histogram over trade-graph
  edges (Newman's assortativity audit as a matrix, libm-free bucket
  ladder).
- permutation_test_segments — Monte-Carlo randomization test (Dwass
  1957) for a segment mean difference, null replicates from one sliced
  digest per row.

Wave G (same round):
- containment_near_dups — asymmetric Broder containment verification
  on the shared MinHash-LSH candidate chain: catches short-inside-long
  duplication that Jaccard structurally misses.
- mrr_bm25_phrases — reciprocal-rank audit of bag-of-words BM25
  against exact-phrase gold sets; rank-of-best-gold computed by
  argmax + count-before, never a corpus sort.
- rake_keyword_topk — RAKE degree/frequency keyword extraction (Rose
  et al. 2010) at corpus level, stopword-segmented phrases, integer
  milli scores.

Reference parity: none of these exist in the reference engine
(/root/reference/core/pedri_analysis.py has no correlation, graph,
ranking-eval, drift, privacy or sketch operators) — they extend the
training-data-pipeline surface the way SURVEY.md §2's "beyond the
reference" mandate prescribes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pedri_analysis_spark.cache import materialize
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.operators import similarity as sim
from pedri_analysis_spark.operators import spread
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.relational import (
    events_us,
    factor,
    money,
)
from pedri_analysis_spark.plans.similarity_queries import (
    EMB_DIM,
    N_CENTROIDS,
    NPROBE,
    _dcos,
)
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# ---------------------------------------------------------------------------
# Gap-based batch sessionization (events)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # the classic 30-minute inactivity cut


@_register(
    "sessionization_gap_stats",
    f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
    ),
    g AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    s AS (
      SELECT user_id, ts_us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ),
    per AS (
      SELECT user_id, sid,
             count(*)::BIGINT AS n_ev,
             (max(ts_us) - min(ts_us))::BIGINT AS span_us
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id,
           count(*)::BIGINT AS n_sessions,
           sum(n_ev)::BIGINT AS n_events,
           max(n_ev)::BIGINT AS max_session_events,
           max(span_us)::BIGINT AS max_session_span_us
    FROM per GROUP BY user_id
    """,
)
def q_sessionization_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a user's events split into sessions wherever
    the inactivity gap exceeds 30 minutes; per-user session stats.

    Determinism: the event order within a user is totalized by
    (ts_us, event_id), so the lag/cumsum session ids are unambiguous
    even under timestamp ties.

    Scale: both windows and both aggregations share ONE partitioning —
    user_id — so the whole query is a single shuffle however large the
    event log; per-user state is bounded by that user's history (the
    same contract the streaming session_windows query keeps with
    watermarks).  No global window, no driver state."""
    ev = events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    new_s = (
        F.when(
            F.lag("ts_us").over(wo).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(wo) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s")
    )
    sid = F.sum("new_s").over(
        wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    per = (
        ev.select("user_id", "event_id", "ts_us", new_s)
        .withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ev"),
            (F.max("ts_us") - F.min("ts_us")).cast("bigint").alias("span_us"),
        )
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.max("n_ev").cast("bigint").alias("max_session_events"),
        F.max("span_us").cast("bigint").alias("max_session_span_us"),
    )


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency (orders open per nation)
# ---------------------------------------------------------------------------


def _order_span(dialect: str) -> str:
    """Shared CTE text: per-order [start_day, end_day] from o_orderdate to
    the order's last lineitem shipdate (orders with no lineitems are out
    of scope on both engines — the interval is undefined without an
    end)."""
    return f"""
    span AS (
      SELECT o.o_orderkey, c.c_nationkey,
             {tx.epoch_day(dialect, "o.o_orderdate")} AS start_day,
             max({tx.epoch_day(dialect, "l.l_shipdate")}) + 1 AS end_day
      FROM orders o
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_orderkey, c.c_nationkey, {tx.epoch_day(dialect, "o.o_orderdate")}
    )"""


@_register(
    "max_concurrent_orders",
    f"""
    WITH {_order_span(tx.DUCK)},
    delta AS (
      SELECT c_nationkey, start_day AS day, 1 AS d FROM span
      UNION ALL
      SELECT c_nationkey, end_day AS day, -1 AS d FROM span
    ),
    net AS (
      SELECT c_nationkey, day, sum(d)::BIGINT AS net FROM delta GROUP BY 1, 2
    ),
    run AS (
      SELECT c_nationkey, day,
             sum(net) OVER (PARTITION BY c_nationkey ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS open_orders
      FROM net
    ),
    pk AS (
      SELECT c_nationkey, day, open_orders,
             max(open_orders) OVER (PARTITION BY c_nationkey) AS peak
      FROM run
    )
    SELECT n.n_name AS nation,
           max(p.peak)::BIGINT AS peak_open_orders,
           min(p.day)::BIGINT AS first_peak_day
    FROM pk p JOIN nation n ON n.n_nationkey = p.c_nationkey
    WHERE p.open_orders = p.peak
    GROUP BY n.n_name
    """,
)
def q_max_concurrent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-open orders per customer nation —
    the interval sweep-line: each order contributes +1 at its start day
    and -1 the day after its last shipment, and the running sum of the
    per-day net deltas is exactly the count of open intervals.

    The naive formulation is an interval self-join (O(n^2) per nation);
    the sweep line is two linear passes.  Determinism: per-day deltas
    are pre-summed (group by day), so the running sum never depends on
    intra-day ordering; the reported day is the FIRST day the peak is
    attained.

    Scale: the heavy stage (per-order span) aggregates lineitem by its
    natural l_orderkey partitioning; the sweep itself runs over
    nation-partitioned day-level nets — 25 x ~2500 rows regardless of
    corpus size (day domain is calendar-bounded), so the windows cost
    nothing at any SF."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    start_day = F.expr(tx.epoch_day(tx.SPARK, "o_orderdate"))
    end_day = F.expr(f"max({tx.epoch_day(tx.SPARK, 'l_shipdate')}) + 1")
    span = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_nationkey", start_day.alias("start_day"))
        .agg(end_day.alias("end_day"))
    )
    delta = span.select(
        "c_nationkey", F.col("start_day").alias("day"), F.lit(1).alias("d")
    ).unionAll(
        span.select(
            "c_nationkey", F.col("end_day").alias("day"), F.lit(-1).alias("d")
        )
    )
    net = delta.groupBy("c_nationkey", "day").agg(
        F.sum("d").cast("bigint").alias("net")
    )
    wn = W.partitionBy("c_nationkey").orderBy("day")
    run = net.withColumn(
        "open_orders",
        F.sum("net").over(wn.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    pk = run.withColumn(
        "peak", F.max("open_orders").over(W.partitionBy("c_nationkey"))
    )
    return (
        pk.filter(F.col("open_orders") == F.col("peak"))
        .join(F.broadcast(n), pk.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.max("peak").cast("bigint").alias("peak_open_orders"),
            F.min("day").cast("bigint").alias("first_peak_day"),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (supplier balance vs realized revenue)
# ---------------------------------------------------------------------------

_REV_X1E4 = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)"
)
_BAL_CENTS = "CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)"


@_register(
    "spearman_corr_suppliers",
    f"""
    WITH rev AS (
      SELECT l_suppkey, sum({_REV_X1E4})::BIGINT AS rev_x1e4
      FROM lineitem GROUP BY l_suppkey
    ),
    j AS (
      SELECT s.s_nationkey, s.s_suppkey,
             {_BAL_CENTS} AS bal_cents, r.rev_x1e4
      FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
    ),
    rk AS (
      SELECT s_nationkey, s_suppkey,
             row_number() OVER (PARTITION BY s_nationkey
                                ORDER BY bal_cents DESC, s_suppkey) AS rb,
             row_number() OVER (PARTITION BY s_nationkey
                                ORDER BY rev_x1e4 DESC, s_suppkey) AS rr
      FROM j
    ),
    agg AS (
      SELECT s_nationkey,
             count(*)::BIGINT AS n_suppliers,
             sum((rb - rr) * (rb - rr))::BIGINT AS sum_d2
      FROM rk GROUP BY s_nationkey
      HAVING count(*) >= 2
    )
    SELECT n.n_name AS nation, a.n_suppliers, a.sum_d2,
           (1000000 - {tx.floor_scaled_div(
               tx.DUCK,
               "6 * a.sum_d2",
               "a.n_suppliers * (a.n_suppliers * a.n_suppliers - 1)",
               1_000_000,
           )})::BIGINT AS rho_micro
    FROM agg a JOIN nation n ON n.n_nationkey = a.s_nationkey
    """,
)
def q_spearman_corr_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation, per nation, between a supplier's
    account balance and its realized supply revenue — "does the ledger
    reflect the business?".  rho = 1 - 6*sum(d^2) / (n(n^2-1)) with
    d = rank(balance) - rank(revenue); ranks are row_number with the
    supplier key as tiebreak, so the statistic is exact and the quoted
    rho_micro (in [-10^6, 10^6]) is the floor-quantized value both
    engines compute from the same integers (``floor_scaled_div`` keeps
    6*sum_d2*10^6 from ever materializing — sum_d2 is O(n^3) per
    nation).

    BIGINT bound (the wave's honesty convention): sum_d2 <= n(n^2-1)/3
    and the rho denominator n(n^2-1) both stay under 2^63 while no
    nation exceeds ~2.1e6 ranked suppliers (n^3 < 9.2e18); past that,
    compute sum_d2 and the denominator in DECIMAL(38,0) — the
    quantization and floor_scaled_div decomposition carry over
    unchanged.

    Suppliers with zero lineitems have no revenue rank and are out of
    scope (inner join); nations with <2 ranked suppliers are excluded
    (rho undefined, denominator zero).

    Scale: ranks are nation-partitioned windows over a supplier-sized
    frame (dimension-sized, not fact-sized: the fact table collapses in
    the rev pre-aggregation, which shuffles once on l_suppkey)."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    rev = li.groupBy("l_suppkey").agg(
        F.sum(money("l_extendedprice") * factor(1 - F.col("l_discount")) * 10000)
        .cast("bigint")
        .alias("rev_x1e4")
    )
    j = s.join(rev, s.s_suppkey == rev.l_suppkey).select(
        "s_nationkey",
        "s_suppkey",
        F.expr(_BAL_CENTS).alias("bal_cents"),
        "rev_x1e4",
    )
    rk = j.select(
        "s_nationkey",
        F.row_number()
        .over(
            W.partitionBy("s_nationkey").orderBy(
                F.desc("bal_cents"), F.asc("s_suppkey")
            )
        )
        .alias("rb"),
        F.row_number()
        .over(
            W.partitionBy("s_nationkey").orderBy(
                F.desc("rev_x1e4"), F.asc("s_suppkey")
            )
        )
        .alias("rr"),
    )
    agg = (
        rk.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum((F.col("rb") - F.col("rr")) * (F.col("rb") - F.col("rr")))
            .cast("bigint")
            .alias("sum_d2"),
        )
        .filter(F.col("n_suppliers") >= 2)
    )
    rho = F.expr(
        f"CAST(1000000 - {tx.floor_scaled_div(tx.SPARK, '6 * sum_d2', 'n_suppliers * (n_suppliers * n_suppliers - 1)', 1_000_000)} AS BIGINT)"
    )
    return agg.join(
        F.broadcast(n), agg.s_nationkey == n.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        "n_suppliers",
        "sum_d2",
        rho.alias("rho_micro"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-a between two daily series, per month
# ---------------------------------------------------------------------------

_OCENTS = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"


def _kt_daily(dialect: str) -> str:
    return f"""
    daily AS (
      SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS month_key,
             {tx.epoch_day(dialect, "o_orderdate")} AS day,
             count(*)::BIGINT AS n_orders,
             sum({_OCENTS})::BIGINT AS rev_cents
      FROM orders GROUP BY 1, 2
    )"""


@_register(
    "kendall_tau_daily",
    f"""
    WITH {_kt_daily(tx.DUCK)},
    pr AS (
      SELECT a.month_key,
             CASE WHEN b.n_orders > a.n_orders THEN 1
                  WHEN b.n_orders < a.n_orders THEN -1 ELSE 0 END
           * CASE WHEN b.rev_cents > a.rev_cents THEN 1
                  WHEN b.rev_cents < a.rev_cents THEN -1 ELSE 0 END AS cd,
             CASE WHEN b.n_orders = a.n_orders
                       OR b.rev_cents = a.rev_cents THEN 1 ELSE 0 END AS tie
      FROM daily a JOIN daily b
        ON b.month_key = a.month_key AND b.day > a.day
    ),
    agg AS (
      SELECT month_key,
             count(*)::BIGINT AS n_pairs,
             sum(CASE WHEN cd = 1 THEN 1 ELSE 0 END)::BIGINT AS concordant,
             sum(CASE WHEN cd = -1 THEN 1 ELSE 0 END)::BIGINT AS discordant,
             sum(tie)::BIGINT AS tie_pairs
      FROM pr GROUP BY month_key
    ),
    nd AS (
      SELECT month_key, count(*)::BIGINT AS n_days FROM daily GROUP BY month_key
    )
    SELECT a.month_key, n.n_days, a.n_pairs, a.concordant, a.discordant,
           a.tie_pairs,
           {tx.floor_scaled_div(
               tx.DUCK,
               "a.concordant - a.discordant + a.n_pairs",
               "2 * a.n_pairs",
               1_000_000,
           )}::BIGINT AS tau_shift_micro
    FROM agg a JOIN nd n ON n.month_key = a.month_key
    """,
)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a, per calendar month, between the daily order COUNT
    series and the daily REVENUE series — "do busy days pay?".  All
    day pairs (d1 < d2) within the month are classified concordant /
    discordant / tied by the sign product of the two deltas; tau_a =
    (C - D) / n_pairs is reported shifted to [0, 10^6]
    (tau_shift_micro = (C - D + P) / 2P scaled; 500000 = tau 0) so the
    quantization stays a floor of a NON-NEGATIVE integer ratio — both
    engines floor identically with no truncation-vs-floor trap on
    negatives (the r11-ADVICE Mann-Kendall lesson, applied at design
    time).

    Scale: the pair stage is calendar-bounded — at most 31 days a month
    ⇒ ≤465 pairs per month regardless of corpus size; the only
    fact-sized work is the daily pre-aggregation (one shuffle on
    (month, day)).  Pairs join equi on month_key, so no cross join
    appears at any SF."""
    o = load_table(spark, "orders", sf_dir)
    daily = o.groupBy(
        F.expr("year(o_orderdate) * 12 + month(o_orderdate)").alias("month_key"),
        F.expr(tx.epoch_day(tx.SPARK, "o_orderdate")).alias("day"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.expr(_OCENTS)).cast("bigint").alias("rev_cents"),
    )
    a = daily.alias("a")
    b = daily.alias("b")
    sgn_n = (
        F.when(F.col("b.n_orders") > F.col("a.n_orders"), 1)
        .when(F.col("b.n_orders") < F.col("a.n_orders"), -1)
        .otherwise(0)
    )
    sgn_r = (
        F.when(F.col("b.rev_cents") > F.col("a.rev_cents"), 1)
        .when(F.col("b.rev_cents") < F.col("a.rev_cents"), -1)
        .otherwise(0)
    )
    tie = F.when(
        (F.col("b.n_orders") == F.col("a.n_orders"))
        | (F.col("b.rev_cents") == F.col("a.rev_cents")),
        1,
    ).otherwise(0)
    pr = a.join(
        b,
        (F.col("b.month_key") == F.col("a.month_key"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.month_key").alias("month_key"),
        (sgn_n * sgn_r).alias("cd"),
        tie.alias("tie"),
    )
    agg = pr.groupBy("month_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("cd") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when(F.col("cd") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("discordant"),
        F.sum("tie").cast("bigint").alias("tie_pairs"),
    )
    nd = daily.groupBy("month_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    tau = F.expr(
        f"CAST({tx.floor_scaled_div(tx.SPARK, 'concordant - discordant + n_pairs', '2 * n_pairs', 1_000_000)} AS BIGINT)"
    )
    return agg.join(nd, "month_key").select(
        "month_key",
        "n_days",
        "n_pairs",
        "concordant",
        "discordant",
        "tie_pairs",
        tau.alias("tau_shift_micro"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (directed supplier -> customer shipment graph)
# ---------------------------------------------------------------------------

HITS_SCALE = 1_000_000  # scores live in micro-units, max-normalized to 10^6
HITS_TOP = 20


def _hits_oracle() -> str:
    fsd = tx.floor_scaled_div
    return f"""
    WITH edges AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    a1raw AS (
      SELECT c, count(*)::BIGINT * {HITS_SCALE} AS v FROM edges GROUP BY c
    ),
    ma1 AS (SELECT max(v) AS m FROM a1raw),
    auth1 AS (
      SELECT c, {fsd(tx.DUCK, "a.v", "ma1.m", HITS_SCALE)} AS v
      FROM a1raw a CROSS JOIN ma1
    ),
    h1raw AS (
      SELECT e.s, sum(a.v)::BIGINT AS v
      FROM edges e JOIN auth1 a ON a.c = e.c GROUP BY e.s
    ),
    mh1 AS (SELECT max(v) AS m FROM h1raw),
    hub1 AS (
      SELECT s, {fsd(tx.DUCK, "h.v", "mh1.m", HITS_SCALE)} AS v
      FROM h1raw h CROSS JOIN mh1
    ),
    a2raw AS (
      SELECT e.c, sum(h.v)::BIGINT AS v
      FROM edges e JOIN hub1 h ON h.s = e.s GROUP BY e.c
    ),
    ma2 AS (SELECT max(v) AS m FROM a2raw),
    auth2 AS (
      SELECT c, {fsd(tx.DUCK, "a.v", "ma2.m", HITS_SCALE)} AS v
      FROM a2raw a CROSS JOIN ma2
    )
    SELECT c AS custkey, v::BIGINT AS auth_micro
    FROM auth2
    ORDER BY v DESC, c ASC LIMIT {HITS_TOP}
    """


@_register("hits_hubs_authorities", _hits_oracle())
def q_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the directed supplier→customer shipment graph: suppliers
    are hubs, customers authorities; two full mutual-reinforcement
    rounds (auth ← Σ hub of in-neighbors, hub ← Σ auth of
    out-neighbors), each max-normalized to integer micro-units so every
    iteration is pure BIGINT — no L2 norm, no libm, and the oracle
    unrolls the same CTE chain (the PageRank discipline, minus even the
    6-dp float rounding: HITS under max-normalization needs no floats
    at all).  ``floor_scaled_div`` keeps v*10^6 from materializing.

    Scale: each half-iteration is one edge-sized equi-join plus one
    partial-agg shuffle — O(edges), the textbook distributed HITS; the
    normalizing max is a 1-row broadcast (the allowlisted 1-row-BNLJ
    pattern).  The edge list is persisted once and reused by all four
    joins (same cache-before-fanout discipline as PageRank; without it
    each round re-derives the lineitem⋈orders distinct).  Each
    generation's NODE-sized raw frame is also persisted: normalization
    reads its input twice (max + main pass), so un-persisted
    generations re-derive MULTIPLICATIVELY through the chain (8
    evaluations of the first aggregate by the final plan — the kcore
    lineage lesson, applied here with cheap node-sized persists instead
    of lineage cuts; worktree A/B at sf0.1 under equal load: 5.15 s →
    2.66 s, pagerank control flat)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    edges, _ = materialize(edges)

    def norm(df: DataFrame, key: str) -> DataFrame:
        # the input is read twice (max + main pass) — callers persist it
        m = df.agg(F.max("v").alias("m"))
        return df.crossJoin(F.broadcast(m)).select(
            key,
            F.expr(tx.floor_scaled_div(tx.SPARK, "v", "m", HITS_SCALE)).alias("v"),
        )

    a1raw = edges.groupBy("c").agg(
        (F.count(F.lit(1)).cast("bigint") * HITS_SCALE).alias("v")
    ).persist()
    auth1 = norm(a1raw, "c")
    h1raw = edges.join(auth1, "c").groupBy("s").agg(
        F.sum("v").cast("bigint").alias("v")
    ).persist()
    hub1 = norm(h1raw, "s")
    a2raw = edges.join(hub1, "s").groupBy("c").agg(
        F.sum("v").cast("bigint").alias("v")
    ).persist()
    auth2 = norm(a2raw, "c")
    return (
        auth2.select(
            F.col("c").alias("custkey"), F.col("v").cast("bigint").alias("auth_micro")
        )
        .orderBy(F.desc("auth_micro"), F.asc("custkey"))
        .limit(HITS_TOP)
    )


# ---------------------------------------------------------------------------
# NDCG@10 of the IVF index vs the exact cosine ranking
# ---------------------------------------------------------------------------

NDCG_Q0 = N_CENTROIDS + 8  # query ids 16..19 — disjoint from ivf_recall's 8..15
NDCG_Q1 = N_CENTROIDS + 12
NDCG_K = 10
# 1/log2(i+1) position discounts in micro-units, i = 1..10 — PRECOMPUTED
# literals (module import time, deterministic), so neither engine ever
# evaluates a logarithm; graded relevance of a doc is (11 - exact_rank)
# for the exact top-10, 0 otherwise.
NDCG_W = [round(1_000_000 / math.log2(i + 1)) for i in range(1, NDCG_K + 1)]
NDCG_IDCG = sum((NDCG_K + 1 - i) * NDCG_W[i - 1] for i in range(1, NDCG_K + 1))


def _ndcg_wcase(rank_expr: str) -> str:
    whens = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(NDCG_W)
    )
    return f"(CASE {rank_expr} {whens} ELSE 0 END)"


def _ndcg_oracle() -> str:
    rel = f"(CASE WHEN r.rne <= {NDCG_K} THEN {NDCG_K + 1} - r.rne ELSE 0 END)"
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding FROM embeddings
      WHERE vec_id < {N_CENTROIDS}
    ),
    qs AS (
      SELECT vec_id AS qid, embedding AS qvec FROM embeddings
      WHERE vec_id >= {NDCG_Q0} AND vec_id < {NDCG_Q1}
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM cent c
              ORDER BY {_dcos('e.embedding', 'c.embedding')} DESC, c.cid ASC
              LIMIT 1) AS cluster
      FROM embeddings e
    ),
    probe AS (
      SELECT qid, cid AS cluster FROM (
        SELECT q.qid, c.cid,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_dcos('c.embedding', 'q.qvec')} DESC, c.cid ASC
               ) AS rn
        FROM cent c CROSS JOIN qs q
      ) WHERE rn <= {NPROBE}
    ),
    scored AS (
      SELECT q.qid, a.vec_id, a.cluster,
             {_dcos('a.embedding', 'q.qvec')} AS sim
      FROM assigned a CROSS JOIN qs q
      WHERE a.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, vec_id ASC
             ) AS rne
      FROM scored
    ),
    ivf AS (
      SELECT s.qid, s.vec_id,
             row_number() OVER (
               PARTITION BY s.qid ORDER BY s.sim DESC, s.vec_id ASC
             ) AS rni
      FROM scored s JOIN probe p
        ON p.qid = s.qid AND p.cluster = s.cluster
    )
    SELECT i.qid AS query_id,
           sum({rel} * {_ndcg_wcase('i.rni')})::BIGINT AS dcg_microsum,
           {tx.floor_scaled_div(
               tx.DUCK,
               f"sum({rel} * {_ndcg_wcase('i.rni')})::BIGINT",
               str(NDCG_IDCG),
               1_000_000,
           )}::BIGINT AS ndcg_micro
    FROM ivf i JOIN ranked r ON r.qid = i.qid AND r.vec_id = i.vec_id
    WHERE i.rni <= {NDCG_K}
    GROUP BY i.qid
    ORDER BY query_id
    """


@_register("ndcg_eval_topk", _ndcg_oracle())
def q_ndcg_eval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the IVF (nprobe=2) retrieval against the exact cosine
    ranking — the rank-SENSITIVE index-quality audit the recall@k family
    (ivf/sq/pq/matryoshka) cannot express: recall treats a hit at rank 1
    and rank 10 the same, NDCG discounts by position.  Graded relevance
    of a doc is its exact-top-10 grade (11 - exact_rank, else 0); the
    1/log2(i+1) discounts are integer micro-weight LITERALS baked at
    plan-build (no runtime log in either engine), so DCG is a pure
    BIGINT sum and ndcg_micro an exact floor ratio against the
    precomputed ideal-DCG constant.

    Scale: same audit topology as ivf_recall_at_k (docstring there) —
    a fixed 4-query sample, one qid shuffle shared by both rankings,
    cost independent of index growth.  cosine_fast is the allowlisted
    Arrow kernel (per-pair vector dot; the Catalyst HOF fold measured
    5x slower — see embedding_near_dups).  The IVF rank is a
    cumulative sum of the probe-membership flag over the SAME
    (sim DESC, vec_id) order as the exact rank — both ranks come out
    of one Window over one exchange of the scored frame, so the
    Arrow scoring pass runs ONCE and the old exact⋈ivf
    (qid, vec_id) self-join disappears (r15 optimization; the flag
    join is a broadcast of the 8-row probe set BEFORE the exchange)."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    qs = emb.filter(
        (F.col("vec_id") >= NDCG_Q0) & (F.col("vec_id") < NDCG_Q1)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("_qvec"))
    assigned = sim.ivf_assign(spread(emb), cent)
    scored = (
        assigned.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "cluster",
            sim.round6(sim.cosine_fast("embedding", "_qvec")).alias("sim"),
        )
    )
    probe = (
        cent.crossJoin(F.broadcast(qs))
        .select(
            "qid",
            F.col("cid").alias("cluster"),
            sim.round6(sim.cosine_fast("embedding", "_qvec")).alias("csim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cluster"))
            ),
        )
        .filter(F.col("rn") <= NPROBE)
        .select("qid", "cluster")
    )
    flagged = scored.join(
        F.broadcast(probe.withColumn("_inp", F.lit(1))),
        ["qid", "cluster"],
        "left",
    ).withColumn("inp", F.coalesce(F.col("_inp"), F.lit(0)))
    wq = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    both = flagged.select(
        "qid",
        "inp",
        F.row_number().over(wq).alias("rne"),
        F.sum("inp")
        .over(wq.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("rni"),
    )
    rel = f"(CASE WHEN rne <= {NDCG_K} THEN {NDCG_K + 1} - rne ELSE 0 END)"
    dcg_sql = f"CAST(sum({rel} * {_ndcg_wcase('rni')}) AS BIGINT)"
    ndcg_sql = tx.floor_scaled_div(tx.SPARK, dcg_sql, str(NDCG_IDCG), 1_000_000)
    return (
        both.filter((F.col("inp") == 1) & (F.col("rni") <= NDCG_K))
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.expr(dcg_sql).alias("dcg_microsum"),
            F.expr(f"CAST({ndcg_sql} AS BIGINT)").alias("ndcg_micro"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Two-sample KS drift on binned document lengths
# ---------------------------------------------------------------------------

KS_BIN = 64  # n_chars bin width: the CDF domain is value-bounded, not corpus-


@_register(
    "ks_drift_doclen",
    f"""
    WITH c AS (
      SELECT source, (n_chars // {KS_BIN}) AS bin, count(*)::BIGINT AS cnt
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, sum(cnt)::BIGINT AS n FROM c GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM tot a JOIN tot b ON a.source < b.source
    ),
    sides AS (
      SELECT p.src_a, p.src_b, c.bin, c.cnt AS c1, 0::BIGINT AS c2
      FROM pairs p JOIN c ON c.source = p.src_a
      UNION ALL
      SELECT p.src_a, p.src_b, c.bin, 0::BIGINT, c.cnt
      FROM pairs p JOIN c ON c.source = p.src_b
    ),
    g AS (
      SELECT src_a, src_b, bin,
             sum(c1)::BIGINT AS c1, sum(c2)::BIGINT AS c2
      FROM sides GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT src_a, src_b,
             sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2
      FROM g
      WINDOW w AS (PARTITION BY src_a, src_b ORDER BY bin
                   ROWS UNBOUNDED PRECEDING)
    ),
    ks AS (
      SELECT c.src_a, c.src_b,
             max(abs(c.cum1 * tb.n - c.cum2 * ta.n))::BIGINT AS ks_num,
             max(ta.n)::BIGINT AS n_a, max(tb.n)::BIGINT AS n_b
      FROM cum c
      JOIN tot ta ON ta.source = c.src_a
      JOIN tot tb ON tb.source = c.src_b
      GROUP BY c.src_a, c.src_b
    )
    SELECT src_a, src_b, n_a, n_b, ks_num,
           {tx.floor_scaled_div(tx.DUCK, "ks_num", "n_a * n_b", 1_000_000)}::BIGINT
             AS ks_micro
    FROM ks
    """,
)
def q_ks_drift_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between every pair of
    sources' document-length distributions (binned to {KS_BIN}-char
    buckets): KS = max over the bin domain of |F_a - F_b|, computed as
    integer cross-multiplied CDF counts (|cum_a*n_b - cum_b*n_a|, later
    floor-scaled by n_a*n_b) — no floats anywhere, so the statistic is
    bit-identical cross-engine.  The sup-CDF complement to
    distribution_drift_chisq's density test: KS catches location/shape
    drift chi-square dilutes across bins.

    Scale: lengths pre-aggregate to (source, bin) — the pair stage then
    operates on a DOMAIN-bounded frame (sources^2/2 pairs x value-range
    /{KS_BIN} bins, independent of corpus size); the only fact-sized
    work is the first groupBy's single shuffle.  Binning is what keeps
    the per-pair CDF walk domain-bounded at 100 TB — the tradeoff is
    explicit: this is KS of the BINNED distribution (exactly computed),
    the standard practice for streaming/distributed KS.  BIGINT
    cross-products bound: |cum*n| <= n_a*n_b, safe through ~3e9 docs
    per source; past that the cross-multiply moves to DECIMAL(38,0)."""
    d = load_table(spark, "documents", sf_dir).select("source", "n_chars")
    c = d.groupBy(
        "source", F.expr(f"n_chars div {KS_BIN}").alias("bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = c.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n"))
    ta = tot.alias("ta")
    tb = tot.alias("tb")
    pairs = ta.join(
        tb, F.col("ta.source") < F.col("tb.source")
    ).select(
        F.col("ta.source").alias("src_a"), F.col("tb.source").alias("src_b")
    )
    sides = pairs.join(c, c.source == pairs.src_a).select(
        "src_a", "src_b", "bin", F.col("cnt").alias("c1"), F.lit(0).cast("bigint").alias("c2")
    ).unionAll(
        pairs.join(c, c.source == pairs.src_b).select(
            "src_a", "src_b", "bin", F.lit(0).cast("bigint").alias("c1"), F.col("cnt").alias("c2")
        )
    )
    g = sides.groupBy("src_a", "src_b", "bin").agg(
        F.sum("c1").cast("bigint").alias("c1"),
        F.sum("c2").cast("bigint").alias("c2"),
    )
    wp = (
        W.partitionBy("src_a", "src_b")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = g.select(
        "src_a",
        "src_b",
        F.sum("c1").over(wp).alias("cum1"),
        F.sum("c2").over(wp).alias("cum2"),
    )
    ks = (
        cum.join(tot.select(F.col("source").alias("src_a"), F.col("n").alias("na")), "src_a")
        .join(tot.select(F.col("source").alias("src_b"), F.col("n").alias("nb")), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.max(F.abs(F.col("cum1") * F.col("nb") - F.col("cum2") * F.col("na")))
            .cast("bigint")
            .alias("ks_num"),
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
        )
    )
    return ks.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "ks_num",
        F.expr(
            f"CAST({tx.floor_scaled_div(tx.SPARK, 'ks_num', 'n_a * n_b', 1_000_000)} AS BIGINT)"
        ).alias("ks_micro"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter false-positive-rate audit
# ---------------------------------------------------------------------------

BLOOM_M = 4096  # bit-array size — sized to make the FPR measurably nonzero
BLOOM_K = 3  # hash functions (seeds 'bloom0'..'bloom2')
BLOOM_BUILD_SEG = "BUILDING"  # membership set: customers of this segment
BLOOM_PROBE_SEG = "MACHINERY"  # known-disjoint probes (custkey is unique)


def _bloom_pos(dialect: str, key: str, i: int) -> str:
    cast = "STRING" if dialect == tx.SPARK else "VARCHAR"
    return (
        f"({tx.seeded_hash64(dialect, f'CAST({key} AS {cast})', f'bloom{i}')}"
        f" % {BLOOM_M})"
    )


def _bloom_oracle() -> str:
    build_pos = " UNION ALL ".join(
        f"SELECT {_bloom_pos(tx.DUCK, 'c_custkey', i)} AS pos FROM build"
        for i in range(BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT c_custkey, {_bloom_pos(tx.DUCK, 'c_custkey', i)} AS pos FROM probe"
        for i in range(BLOOM_K)
    )
    return f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_BUILD_SEG}'
    ),
    probe AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_PROBE_SEG}'
    ),
    bits AS (SELECT DISTINCT pos FROM ({build_pos})),
    pp AS ({probe_pos}),
    hits AS (
      SELECT p.c_custkey, count(b.pos)::BIGINT AS n_set
      FROM pp p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.c_custkey
    ),
    fp AS (
      SELECT count(*)::BIGINT AS n_probe,
             sum(CASE WHEN n_set = {BLOOM_K} THEN 1 ELSE 0 END)::BIGINT
               AS false_positives
      FROM hits
    ),
    bs AS (
      SELECT (SELECT count(*)::BIGINT FROM build) AS n_build,
             count(*)::BIGINT AS bits_set
      FROM bits
    )
    SELECT bs.n_build, bs.bits_set, fp.n_probe, fp.false_positives,
           {tx.floor_scaled_div(tx.DUCK, "fp.false_positives", "fp.n_probe", 1_000_000)}::BIGINT
             AS fpr_micro
    FROM fp CROSS JOIN bs
    """


@_register("bloom_filter_fpr_audit", _bloom_oracle())
def q_bloom_filter_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured Bloom-filter false-positive rate: build an m={BLOOM_M},
    k={BLOOM_K} filter over one customer segment's keys, probe it with a
    DISJOINT segment's keys (custkey is unique, segments partition the
    customers — every probe is a true negative), and count probes whose
    k positions are all set.  The audit a runtime-filter deployment
    (bloom-pushdown joins) runs to validate its m/k sizing against the
    measured fill factor; positions are ``seeded_hash64 % m`` so both
    engines build bit-identical filters.

    Scale: the filter is represented as a DISTINCT-position table
    (≤ m = {BLOOM_M} rows — domain-bounded, broadcast to the probe
    join); build and probe sides are each one linear pass with a k-way
    position expansion.  m is a LITERAL here: at growing corpus size a
    fixed filter saturates (fill→1, FPR→1) — that saturation curve is
    exactly what the audit measures; a deployment re-sizes m ∝ n and
    re-runs it (the named scale lever, same honesty contract as
    APPROX_PAST_CAP)."""
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    build = cust.filter(F.col("c_mktsegment") == BLOOM_BUILD_SEG).select("c_custkey")
    probe = cust.filter(F.col("c_mktsegment") == BLOOM_PROBE_SEG).select("c_custkey")
    pos_arr = F.array(
        *[F.expr(_bloom_pos(tx.SPARK, "c_custkey", i)) for i in range(BLOOM_K)]
    )
    bits = (
        build.select(F.explode(pos_arr).alias("pos")).distinct()
    )
    pp = probe.select("c_custkey", F.explode(pos_arr).alias("pos"))
    hits = (
        pp.join(F.broadcast(bits.withColumnRenamed("pos", "bpos")),
                F.col("pos") == F.col("bpos"), "left")
        .groupBy("c_custkey")
        .agg(F.count("bpos").cast("bigint").alias("n_set"))
    )
    fp = hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("n_set") == BLOOM_K, 1).otherwise(0))
        .cast("bigint")
        .alias("false_positives"),
    )
    bs = bits.agg(F.count(F.lit(1)).cast("bigint").alias("bits_set")).crossJoin(
        F.broadcast(build.agg(F.count(F.lit(1)).cast("bigint").alias("n_build")))
    )
    return fp.crossJoin(F.broadcast(bs)).select(
        "n_build",
        "bits_set",
        "n_probe",
        "false_positives",
        F.expr(
            f"CAST({tx.floor_scaled_div(tx.SPARK, 'false_positives', 'n_probe', 1_000_000)} AS BIGINT)"
        ).alias("fpr_micro"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (privacy trio: k-anonymity / l-diversity / t-closeness)
# ---------------------------------------------------------------------------

# fixed literal bands over the account-balance domain (cents in
# [-99999, 999999] by TPC-H spec): (cents + 100000) div 110100 -> 0..9.
# A LITERAL binning keeps the band domain corpus-independent (the same
# reason ks_drift bins): the EMD walk below is over exactly 10 cells.
TC_BANDS = 10
_TC_BAND = (
    "((CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) + 100000)"
    " {div} 110100)"
)


def _tc_band(dialect: str) -> str:
    return _TC_BAND.format(div="//" if dialect == tx.DUCK else "div")


@_register(
    "t_closeness_audit",
    f"""
    WITH cb AS (
      SELECT c_nationkey, c_mktsegment, {_tc_band(tx.DUCK)} AS band
      FROM customer
    ),
    grp AS (
      SELECT c_nationkey, c_mktsegment, band, count(*)::BIGINT AS cnt
      FROM cb GROUP BY 1, 2, 3
    ),
    gtot AS (
      SELECT c_nationkey, c_mktsegment, sum(cnt)::BIGINT AS n_g
      FROM grp GROUP BY 1, 2
    ),
    gall AS (
      SELECT band, sum(cnt)::BIGINT AS cnt FROM grp GROUP BY band
    ),
    nn AS (SELECT sum(cnt)::BIGINT AS n FROM gall),
    grid AS (
      SELECT g.c_nationkey, g.c_mktsegment, b.band
      FROM gtot g CROSS JOIN (SELECT unnest(range({TC_BANDS})) AS band) b
    ),
    dense AS (
      SELECT gr.c_nationkey, gr.c_mktsegment, gr.band,
             coalesce(p.cnt, 0)::BIGINT AS cnt_g,
             coalesce(q.cnt, 0)::BIGINT AS cnt
      FROM grid gr
      LEFT JOIN grp p ON p.c_nationkey = gr.c_nationkey
       AND p.c_mktsegment = gr.c_mktsegment AND p.band = gr.band
      LEFT JOIN gall q ON q.band = gr.band
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, band,
             sum(cnt_g) OVER w AS cum_g, sum(cnt) OVER w AS cum
      FROM dense
      WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment ORDER BY band
                   ROWS UNBOUNDED PRECEDING)
    ),
    emd AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             sum(abs(c.cum_g * nn.n - c.cum * g.n_g))::BIGINT AS emd_num,
             max(g.n_g)::BIGINT AS n_rows, max(nn.n)::BIGINT AS n
      FROM cum c
      JOIN gtot g ON g.c_nationkey = c.c_nationkey
       AND g.c_mktsegment = c.c_mktsegment
      CROSS JOIN nn
      WHERE c.band < {TC_BANDS - 1}
      GROUP BY c.c_nationkey, c.c_mktsegment
    )
    SELECT n.n_name AS nation, e.c_mktsegment AS segment, e.n_rows,
           {tx.floor_scaled_div(
               tx.DUCK,
               "e.emd_num",
               f"{TC_BANDS - 1} * e.n_rows * e.n",
               1_000_000,
           )}::BIGINT AS t_micro
    FROM emd e JOIN nation n ON n.n_nationkey = e.c_nationkey
    """,
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over the (nation x segment) quasi-identifier groups:
    ordered-EMD between each group's account-balance band distribution
    and the GLOBAL one — EMD for an ordered attribute with equal band
    spacing is (1/(m-1)) * sum over band prefixes of |P_g - P| (Li et
    al. 2007 §4), computed here as integer cross-multiplied cumulative
    counts (|cum_g*N - cum*n_g|, floor-scaled by (m-1)*n_g*N) — no
    floats, bit-identical cross-engine.  A group with t_micro near 10^6
    leaks the sensitive attribute's distribution; the audit is the
    release gate k_anonymity_report and l_diversity_audit (r12 draft)
    feed into — this completes the standard privacy trio.

    Scale: customers pre-aggregate to (group, band) counts in one
    shuffle; everything after runs on the DENSE domain grid (|QI
    groups| x {TC_BANDS} rows — the 125-row frame never grows with the
    corpus).  BIGINT cross-products are bounded by n_g*N — same ~3e9
    honesty note as ks_drift_doclen, DECIMAL(38,0) past it."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_nationkey", "c_mktsegment", F.expr(_tc_band(tx.SPARK)).alias("band")
    )
    nat = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    grp = cust.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    gtot = grp.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").cast("bigint").alias("n_g")
    )
    glob = grp.groupBy("band").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    nn = glob.agg(F.sum("cnt").cast("bigint").alias("n"))
    bands = spark.range(TC_BANDS).select(F.col("id").cast("bigint").alias("band"))
    grid = gtot.select("c_nationkey", "c_mktsegment").crossJoin(
        F.broadcast(bands)
    )
    dense = (
        grid.join(grp, ["c_nationkey", "c_mktsegment", "band"], "left")
        .withColumnRenamed("cnt", "cnt_g")
        .join(F.broadcast(glob), ["band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            F.coalesce("cnt_g", F.lit(0)).cast("bigint").alias("cnt_g"),
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
        )
    )
    wq = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = dense.select(
        "c_nationkey",
        "c_mktsegment",
        "band",
        F.sum("cnt_g").over(wq).alias("cum_g"),
        F.sum("cnt").over(wq).alias("cum"),
    )
    emd = (
        cum.filter(F.col("band") < TC_BANDS - 1)
        .join(gtot, ["c_nationkey", "c_mktsegment"])
        .crossJoin(F.broadcast(nn))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum(F.abs(F.col("cum_g") * F.col("n") - F.col("cum") * F.col("n_g")))
            .cast("bigint")
            .alias("emd_num"),
            F.max("n_g").cast("bigint").alias("n_rows"),
            F.max("n").cast("bigint").alias("n"),
        )
    )
    t_micro = F.expr(
        f"CAST({tx.floor_scaled_div(tx.SPARK, 'emd_num', f'{TC_BANDS - 1} * n_rows * n', 1_000_000)} AS BIGINT)"
    )
    return emd.join(F.broadcast(nat), emd.c_nationkey == nat.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        "n_rows",
        t_micro.alias("t_micro"),
    )


# ---------------------------------------------------------------------------
# Zone-map data-skipping audit (natural vs date-partitioned layout)
# ---------------------------------------------------------------------------

ZM_BLOCK_KEYS = 512  # natural layout: one block per 512 consecutive orderkeys
ZM_BLOCK_DAYS = 7  # date layout: one block per calendar week
# literal date-range predicates (epoch days, precomputed): a tight month,
# two quarters, a full year — the selectivity ladder a BI workload scans
ZM_PREDICATES = [
    (1, 9282, 9311),  # 1995-06 (month)
    (2, 9496, 9586),  # 1996-Q1
    (3, 10043, 10134),  # 1997-Q3
    (4, 10227, 10591),  # 1998 (year)
]


def _zm_oracle() -> str:
    preds = " UNION ALL ".join(
        f"SELECT {p} AS pid, {lo} AS lo, {hi} AS hi" for p, lo, hi in ZM_PREDICATES
    )
    day = tx.epoch_day(tx.DUCK, "o_orderdate")
    return f"""
    WITH base AS (
      SELECT o_orderkey, {day} AS day FROM orders
    ),
    blocks AS (
      SELECT 'natural' AS layout, (o_orderkey // {ZM_BLOCK_KEYS}) AS block,
             min(day) AS min_day, max(day) AS max_day,
             count(*)::BIGINT AS n_rows
      FROM base GROUP BY 1, 2
      UNION ALL
      SELECT 'bydate' AS layout, (day // {ZM_BLOCK_DAYS}) AS block,
             min(day) AS min_day, max(day) AS max_day,
             count(*)::BIGINT AS n_rows
      FROM base GROUP BY 1, 2
    ),
    preds AS ({preds}),
    hit AS (
      SELECT b.layout, p.pid,
             count(*)::BIGINT AS n_blocks,
             sum(CASE WHEN b.max_day >= p.lo AND b.min_day <= p.hi
                      THEN 1 ELSE 0 END)::BIGINT AS blocks_read,
             sum(CASE WHEN b.max_day >= p.lo AND b.min_day <= p.hi
                      THEN b.n_rows ELSE 0 END)::BIGINT AS rows_read
      FROM blocks b CROSS JOIN preds p
      GROUP BY b.layout, p.pid
    )
    SELECT layout, pid, n_blocks, blocks_read, rows_read,
           {tx.floor_scaled_div(tx.DUCK, "blocks_read", "n_blocks", 1_000_000)}::BIGINT
             AS read_micro
    FROM hit
    """


@_register("zone_map_skipping_audit", _zm_oracle())
def q_zone_map_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness audit: per-block (min, max) zone maps
    of the order date under two layouts — 'natural' (blocks of
    {ZM_BLOCK_KEYS} consecutive orderkeys, the insertion-order file
    layout) and 'bydate' (weekly partitions) — against a literal ladder
    of date-range predicates.  blocks_read counts blocks whose zone map
    OVERLAPS the predicate (what a reader must scan); the bydate layout
    reads ~the predicate's calendar share while the natural layout
    reads ~everything (order dates are uniform within any orderkey
    block) — the measured justification for zorder_layout_orders /
    compaction_plan_orders, turned into a repeatable audit.

    Scale: one linear pass builds both layouts' block rollups (blocks =
    corpus/{ZM_BLOCK_KEYS} + days/{ZM_BLOCK_DAYS} rows); the predicate
    probe is a broadcast of {len(ZM_PREDICATES)} literal rows (the
    allowlisted tiny-dim non-equi BNLJ).  The audit never reads data
    pages — exactly like a real reader's footer-only planning pass."""
    day = F.expr(tx.epoch_day(tx.SPARK, "o_orderdate"))
    base = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", day.alias("day")
    )
    nat_blocks = base.groupBy(
        F.expr(f"o_orderkey div {ZM_BLOCK_KEYS}").alias("block")
    ).agg(
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ).select(F.lit("natural").alias("layout"), "*")
    date_blocks = base.groupBy(
        F.expr(f"day div {ZM_BLOCK_DAYS}").alias("block")
    ).agg(
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ).select(F.lit("bydate").alias("layout"), "*")
    blocks = nat_blocks.unionAll(date_blocks)
    preds = spark.createDataFrame(
        ZM_PREDICATES, schema="pid int, lo bigint, hi bigint"
    )
    read = (F.col("max_day") >= F.col("lo")) & (F.col("min_day") <= F.col("hi"))
    hit = (
        blocks.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(F.when(read, 1).otherwise(0)).cast("bigint").alias("blocks_read"),
            F.sum(F.when(read, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_read"),
        )
    )
    return hit.select(
        "layout",
        "pid",
        "n_blocks",
        "blocks_read",
        "rows_read",
        F.expr(
            f"CAST({tx.floor_scaled_div(tx.SPARK, 'blocks_read', 'n_blocks', 1_000_000)} AS BIGINT)"
        ).alias("read_micro"),
    )


# ---------------------------------------------------------------------------
# Calibration (reliability diagram) audit
# ---------------------------------------------------------------------------

CAL_BAND_CENTS = 5_000_000  # $50k price bands, clamped to 10 bands
CAL_NBANDS = 10


def _cal_base(dialect: str) -> str:
    div = "//" if dialect == tx.DUCK else "div"
    cast = "VARCHAR" if dialect == tx.DUCK else "STRING"
    half = tx.seeded_hash64(dialect, f"CAST(o_orderkey AS {cast})", "cal")
    return f"""
    base AS (
      SELECT CASE WHEN (CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                        {div} {CAL_BAND_CENTS}) < {CAL_NBANDS - 1}
                  THEN (CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                        {div} {CAL_BAND_CENTS})
                  ELSE {CAL_NBANDS - 1} END AS band,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             ({half} % 2) AS fold
      FROM orders
    )"""


@_register(
    "calibration_bins_value",
    f"""
    WITH {_cal_base(tx.DUCK)},
    tr AS (
      SELECT band, count(*)::BIGINT AS n_train,
             {tx.floor_scaled_div(tx.DUCK, "sum(y)", "count(*)", 1_000_000)} AS pred_ppm
      FROM base WHERE fold = 0 GROUP BY band
    ),
    te AS (
      SELECT band, count(*)::BIGINT AS n_test,
             {tx.floor_scaled_div(tx.DUCK, "sum(y)", "count(*)", 1_000_000)} AS obs_ppm
      FROM base WHERE fold = 1 GROUP BY band
    )
    SELECT tr.band, tr.n_train, te.n_test,
           tr.pred_ppm::BIGINT AS pred_ppm, te.obs_ppm::BIGINT AS obs_ppm,
           abs(tr.pred_ppm - te.obs_ppm)::BIGINT AS gap_ppm
    FROM tr JOIN te ON te.band = tr.band
    """,
)
def q_calibration_bins_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration audit: a binned-frequency model
    (urgent-order rate per $50k price band) is FIT on the hash-split
    train half and SCORED on the test half; per band the audit reports
    predicted vs observed rate and their gap — the probability-
    calibration check the rank-based AUC and the coverage-based
    conformal audit (r12 draft) cannot express.  Rates are exact
    floor-ppm integer ratios; the split is the established
    seeded_hash64 %2 fold (deterministic, engine-identical).

    Scale: two filtered single-shuffle aggregations over literal bands
    (domain-bounded {CAL_NBANDS} rows each side) joined band-to-band —
    fact-sized work is one pass, everything after is 10 rows."""
    cast = "STRING"
    div = "div"
    cents = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
    band = (
        f"CASE WHEN ({cents} {div} {CAL_BAND_CENTS}) < {CAL_NBANDS - 1} "
        f"THEN ({cents} {div} {CAL_BAND_CENTS}) ELSE {CAL_NBANDS - 1} END"
    )
    half = tx.seeded_hash64(tx.SPARK, f"CAST(o_orderkey AS {cast})", "cal")
    base = load_table(spark, "orders", sf_dir).select(
        F.expr(band).alias("band"),
        F.expr(
            "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END"
        ).alias("y"),
        F.expr(f"({half} % 2)").alias("fold"),
    )
    rate = tx.floor_scaled_div(tx.SPARK, "sum(y)", "count(*)", 1_000_000)
    tr = (
        base.filter("fold = 0")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.expr(rate).alias("pred_ppm"),
        )
    )
    te = (
        base.filter("fold = 1")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.expr(rate).alias("obs_ppm"),
        )
    )
    return tr.join(te, "band").select(
        "band",
        "n_train",
        "n_test",
        F.col("pred_ppm").cast("bigint").alias("pred_ppm"),
        F.col("obs_ppm").cast("bigint").alias("obs_ppm"),
        F.abs(F.col("pred_ppm") - F.col("obs_ppm"))
        .cast("bigint")
        .alias("gap_ppm"),
    )


# ---------------------------------------------------------------------------
# Watermark duplicate-leakage audit
# ---------------------------------------------------------------------------

WM_LATE_US = 10 * 60 * 1_000_000  # the streaming family's 10-minute watermark


@_register(
    "watermark_late_dups",
    f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    f AS (
      SELECT event_type, ts_us,
             min(ts_us) OVER (PARTITION BY user_id, event_type) AS first_us
      FROM e
    )
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           sum(CASE WHEN ts_us > first_us THEN 1 ELSE 0 END)::BIGINT
             AS n_repeats,
           sum(CASE WHEN ts_us - first_us > {WM_LATE_US} THEN 1 ELSE 0 END)::BIGINT
             AS n_past_watermark,
           CASE WHEN sum(CASE WHEN ts_us > first_us THEN 1 ELSE 0 END) > 0
                THEN {tx.floor_scaled_div(
                    tx.DUCK,
                    f"sum(CASE WHEN ts_us - first_us > {WM_LATE_US} THEN 1 ELSE 0 END)",
                    "sum(CASE WHEN ts_us > first_us THEN 1 ELSE 0 END)",
                    1_000_000,
                )}
                ELSE 0 END::BIGINT AS leak_ppm
    FROM f GROUP BY event_type
    """,
)
def q_watermark_late_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-leakage audit for watermark-bounded streaming dedup:
    repeats of a (user, event_type) key arriving more than the
    {WM_LATE_US // 60_000_000}-minute watermark after the key's FIRST
    occurrence are precisely the duplicates
    ``dropDuplicatesWithinWatermark`` (streaming/windows.py) can no
    longer hold state for — the batch side quantifies, per event type,
    the upper bound on what the streaming path leaks (upper bound
    because re-armed state after a leaked dup re-suppresses its own
    followers).  The operational question this answers: is the
    watermark long enough for THIS data's repeat-gap distribution?

    Scale: one (user_id, event_type)-keyed shuffle shared by the
    window min and the final aggregation; per-key state is one
    timestamp — the same bound the streaming operator itself keeps."""
    ev = events_us(spark, sf_dir).select("user_id", "event_type", "ts_us")
    f = ev.select(
        "event_type",
        "ts_us",
        F.min("ts_us")
        .over(W.partitionBy("user_id", "event_type"))
        .alias("first_us"),
    )
    rep = F.when(F.col("ts_us") > F.col("first_us"), 1).otherwise(0)
    late = F.when(F.col("ts_us") - F.col("first_us") > WM_LATE_US, 1).otherwise(0)
    agg = f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(rep).cast("bigint").alias("n_repeats"),
        F.sum(late).cast("bigint").alias("n_past_watermark"),
    )
    leak = F.when(
        F.col("n_repeats") > 0,
        F.expr(
            tx.floor_scaled_div(tx.SPARK, "n_past_watermark", "n_repeats", 1_000_000)
        ),
    ).otherwise(0)
    return agg.select(
        "event_type",
        "n_events",
        "n_repeats",
        "n_past_watermark",
        leak.cast("bigint").alias("leak_ppm"),
    )


# ---------------------------------------------------------------------------
# Embedding dimension health audit
# ---------------------------------------------------------------------------


@_register(
    "embedding_dim_health",
    f"""
    WITH x AS (
      SELECT i.i AS dim, e.embedding[i.i]::DOUBLE AS v
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) i
      WHERE CASE WHEN len(e.embedding) = {EMB_DIM} THEN TRUE
                 ELSE error('embedding dim != {EMB_DIM}') END
    ),
    agg AS (
      SELECT dim,
             count(*)::BIGINT AS n,
             CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) AS s,
             CAST(sum(CAST({sim.round6_sql('v * v')} AS DECIMAL(18,6))) AS DOUBLE) AS s2
      FROM x GROUP BY dim
    )
    SELECT dim::BIGINT AS dim,
           {sim.round6_sql('s / n')} AS mean_r6,
           {sim.round6_sql('s2 / n - (s / n) * (s / n)')} AS var_r6,
           (CASE WHEN {sim.round6_sql('s2 / n - (s / n) * (s / n)')} = 0.0
                 THEN 1 ELSE 0 END)::BIGINT AS is_dead
    FROM agg
    """,
)
def q_embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health audit: mean, (biased) variance and
    a dead-dimension flag for each of the 64 components — the
    representation-collapse check (dead or near-constant dimensions
    waste index capacity and distort cosine geometry) a pipeline runs
    before trusting ANN results.

    Determinism: component sums in DECIMAL(27,10) (order-independent);
    squares 6-dp floor-rounded BEFORE the DECIMAL sum (the PageRank
    contribution discipline); the final mean/variance arithmetic is a
    fixed chain of single IEEE ops, then 6-dp rounded — bit-identical
    cross-engine, zero tolerance.

    Dimension contract (ADVICE r11): both engines derive the dim range
    from the shared EMB_DIM constant and FAIL LOUDLY on any row whose
    array length differs (Spark assert_true / DuckDB error()) — a
    re-generated fixture with a new dimensionality breaks the run, not
    the per-dim n counts.

    Scale: one narrow EMB_DIM-way explode (corpus x EMB_DIM rows, no
    pre-shuffle) into an EMB_DIM-group aggregation — map-side partials
    collapse each partition to EMB_DIM rows before the only shuffle."""
    emb = load_table(spark, "embeddings", sf_dir).select("embedding")
    x = (
        emb.filter(
            F.expr(
                f"assert_true(size(embedding) = {EMB_DIM}, "
                f"'embedding dim != {EMB_DIM}') IS NULL"
            )
        )
        .select(F.posexplode("embedding").alias("pos", "vf"))
        .select(
            (F.col("pos") + 1).alias("dim"), F.col("vf").cast("double").alias("v")
        )
    )
    agg = x.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(27,10)")).cast("double").alias("s"),
        F.sum(
            F.expr(f"CAST({sim.round6_sql('v * v')} AS DECIMAL(18,6))")
        )
        .cast("double")
        .alias("s2"),
    )
    var = F.expr(sim.round6_sql("s2 / n - (s / n) * (s / n)"))
    return agg.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.expr(sim.round6_sql("s / n")).alias("mean_r6"),
        var.alias("var_r6"),
        F.when(var == 0.0, 1).otherwise(0).cast("bigint").alias("is_dead"),
    )


# ---------------------------------------------------------------------------
# Mutual top-1 linkage (reciprocal best match)
# ---------------------------------------------------------------------------

_PAIR_CENTS = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - l_discount AS DECIMAL(4,2)) * 10000 AS BIGINT)"
)


@_register(
    "mutual_top1_linkage",
    f"""
    WITH pair AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s,
             sum({_PAIR_CENTS})::BIGINT AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    topc AS (
      SELECT c, s, v FROM (
        SELECT c, s, v, row_number() OVER (
          PARTITION BY c ORDER BY v DESC, s ASC) AS rn
        FROM pair) WHERE rn = 1
    ),
    tops AS (
      SELECT c, s FROM (
        SELECT c, s, row_number() OVER (
          PARTITION BY s ORDER BY v DESC, c ASC) AS rn
        FROM pair) WHERE rn = 1
    )
    SELECT t.c AS custkey, t.s AS suppkey, t.v AS trade_x1e4
    FROM topc t JOIN tops u ON u.c = t.c AND u.s = t.s
    """,
)
def q_mutual_top1_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match linkage: (customer, supplier) pairs where
    each is the OTHER's top trade partner by realized revenue — the
    mutual-nearest-neighbor rule, the classic high-precision low-recall
    link-resolution heuristic (a one-sided top-1 match is often a hub
    artifact; mutuality kills hub links).  Ties break on the partner
    key, so both row_numbers are total orders.

    Scale: the fact table collapses to the distinct trade-pair rollup
    in one shuffle; each top-1 side is a HASH aggregation (max of a
    (v, -partner) struct — total order, so the argmax is the oracle's
    row_number(v DESC, partner ASC) = 1 row exactly) re-keying the
    PAIR-sized frame — no sort anywhere, unlike the naive rank-window
    formulation the oracle uses (pair-frame A/B at sf1.0synth: window
    8.2 s → struct-argmax agg, see SCALE.md); the mutuality join is
    pair-key equi."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", F.expr(_PAIR_CENTS).alias("x")
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.sum("x").cast("bigint").alias("v"))
    )
    # argmax by (v DESC, partner ASC) as a struct max: (v, -partner)
    # compares lexicographically, so ties on v resolve to the SMALLEST
    # partner key — exactly the oracle's row_number order.
    # r16 (verdict item 5): BOTH directions' argmaxes come from ONE
    # aggregate over the side-tagged explode of the pair frame — the two
    # per-side groupBys each re-keyed the |pair|-sized frame with its own
    # exchange; the tagged form shuffles the same 2·|pair| rows once and
    # ReusedExchange serves both consumers of `best`.
    cand = pair.select(
        F.explode(
            F.expr(
                "array(struct(0L AS side, c AS key, s AS partner, v), "
                "struct(1L AS side, s AS key, c AS partner, v))"
            )
        ).alias("e")
    ).select("e.*")
    best = cand.groupBy("side", "key").agg(
        F.max(F.struct("v", (-F.col("partner")).alias("np"))).alias("m")
    )
    # The mutuality check is a COUNT, not a join: normalize each side's
    # argmax row back to its (c, s) pair — a pair occurs at most once per
    # side, so a groupBy(c, s) with count == 2 is exactly topc ⨝ tops
    # (and both rows carry the same v, the pair's trade value). The old
    # two-groupBy + equi-join form planned the whole fact-join/pair-agg
    # subtree TWICE (no exchange reuse across the join's sides: 8 scans);
    # this linear pipeline computes it once (4 scans) and replaces the
    # SortMergeJoin with one |best|-sized aggregate.
    return (
        best.select(
            F.when(
                F.col("side") == 0,
                F.struct(F.col("key").alias("c"), (-F.col("m.np")).alias("s")),
            )
            .otherwise(
                F.struct((-F.col("m.np")).alias("c"), F.col("key").alias("s"))
            )
            .alias("p"),
            F.col("m.v").alias("v"),
        )
        .groupBy("p.c", "p.s")
        .agg(F.count(F.lit(1)).alias("n_sides"), F.max("v").alias("v"))
        .filter(F.col("n_sides") == 2)
        .select(
            F.col("c").alias("custkey"),
            F.col("s").alias("suppkey"),
            F.col("v").alias("trade_x1e4"),
        )
    )


# ---------------------------------------------------------------------------
# Lagged Spearman cross-correlation (daily orders vs daily revenue)
# ---------------------------------------------------------------------------

CCF_LAGS = list(range(-3, 4))  # leads and lags, in days


def _ccf_daily(dialect: str) -> str:
    return f"""
    daily AS (
      SELECT {tx.epoch_day(dialect, "o_orderdate")} AS day,
             count(*)::BIGINT AS x,
             sum({_OCENTS})::BIGINT AS y
      FROM orders GROUP BY 1
    )"""


@_register(
    "lagged_spearman_ccf",
    f"""
    WITH {_ccf_daily(tx.DUCK)},
    lags AS (SELECT unnest([{", ".join(str(lag) for lag in CCF_LAGS)}]) AS lag),
    pairs AS (
      SELECT g.lag, a.day, a.x, b.y
      FROM lags g
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + g.lag
    ),
    rk AS (
      SELECT lag,
             row_number() OVER (PARTITION BY lag ORDER BY x ASC, day ASC) AS rx,
             row_number() OVER (PARTITION BY lag ORDER BY y ASC, day ASC) AS ry
      FROM pairs
    ),
    agg AS (
      SELECT lag, count(*)::BIGINT AS n_days,
             sum((rx - ry) * (rx - ry))::BIGINT AS sum_d2
      FROM rk GROUP BY lag
      HAVING count(*) >= 2
    )
    SELECT lag::BIGINT AS lag, n_days, sum_d2,
           (1000000 - {tx.floor_scaled_div(
               tx.DUCK, "6 * sum_d2", "n_days * (n_days * n_days - 1)", 1_000_000
           )})::BIGINT AS rho_micro
    FROM agg
    """,
)
def q_lagged_spearman_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily order-count series and
    the daily revenue series — Spearman rho at each lead/lag in
    {CCF_LAGS} ("do busy days predict rich days k days later?"), the
    cross-series companion to the within-series trend family
    (Mann-Kendall, Theil-Sen, seasonal-naive).  Ranks are row_number
    with the day as tiebreak; rho is the exact integer Spearman formula
    (spearman_corr_suppliers' discipline).

    Scale: the fact table collapses to the calendar-bounded daily
    rollup in one shuffle; the lag fan-out is 7 literal rows against
    that day-domain frame, and rank windows partition by lag — every
    post-rollup frame is bounded by 7 x days regardless of corpus."""
    daily = load_table(spark, "orders", sf_dir).groupBy(
        F.expr(tx.epoch_day(tx.SPARK, "o_orderdate")).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.expr(_OCENTS)).cast("bigint").alias("y"),
    )
    lags = spark.createDataFrame([(lag,) for lag in CCF_LAGS], schema="lag int")
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.day") == F.col("a.day") + F.col("lag"))
        .select("lag", F.col("a.day").alias("day"), F.col("a.x").alias("x"), F.col("b.y").alias("y"))
    )
    rk = pairs.select(
        "lag",
        F.row_number()
        .over(W.partitionBy("lag").orderBy(F.asc("x"), F.asc("day")))
        .alias("rx"),
        F.row_number()
        .over(W.partitionBy("lag").orderBy(F.asc("y"), F.asc("day")))
        .alias("ry"),
    )
    agg = (
        rk.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum((F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry")))
            .cast("bigint")
            .alias("sum_d2"),
        )
        .filter(F.col("n_days") >= 2)
    )
    rho = F.expr(
        f"CAST(1000000 - {tx.floor_scaled_div(tx.SPARK, '6 * sum_d2', 'n_days * (n_days * n_days - 1)', 1_000_000)} AS BIGINT)"
    )
    return agg.select(
        F.col("lag").cast("bigint").alias("lag"), "n_days", "sum_d2", rho.alias("rho_micro")
    )


# ---------------------------------------------------------------------------
# Fano-factor burstiness of the event stream
# ---------------------------------------------------------------------------


@_register(
    "fano_burstiness_events",
    f"""
    WITH e AS (
      SELECT event_type, {tx.epoch_day(tx.DUCK, "ts")} AS day FROM events
    ),
    daily AS (
      SELECT event_type, day, count(*)::BIGINT AS c FROM e GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             count(*)::BIGINT AS n_days,
             sum(c)::BIGINT AS n_events,
             sum(c * c)::BIGINT AS sum_c2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, n_events,
           {tx.floor_scaled_div(
               tx.DUCK,
               "n_days * sum_c2 - n_events * n_events",
               "n_days * n_events",
               1_000_000,
           )}::BIGINT AS fano_micro
    FROM agg
    """,
)
def q_fano_burstiness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of the daily arrival counts)
    per event type — the burstiness diagnostic: ~10^6 (Fano 1) is
    Poisson-like arrival, far above is bursty/clumped traffic, far
    below is pacing.  Entirely integer: with S = Σc, Q = Σc² over the
    n observed days, var/mean = (nQ - S²)/(nS) — non-negative by
    Cauchy-Schwarz — floor-scaled to micro-units (population variance
    over OBSERVED days; zero-event days are out of the day domain, as
    in anomaly_zscore_daily).

    BIGINT bound (the wave's honesty convention): S² = n_events² is the
    first term to wrap, at ~3e9 events per type (and nQ at a similar
    magnitude once hot days concentrate); past that, compute S², nQ and
    the floor_scaled_div operands in DECIMAL(38,0) — the quantization
    is unchanged.

    Scale: one (type, day) rollup shuffle (map-side combine collapses
    each partition to its observed day-domain first), then a 5-row
    aggregate.  The ts encoding rides the same dual-dtype contract as
    every event-time query (events_us)."""
    ev = events_us(spark, sf_dir).select(
        "event_type", F.expr(f"ts_us div {tx.DAY_US}").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    fano = F.expr(
        f"CAST({tx.floor_scaled_div(tx.SPARK, 'n_days * sum_c2 - n_events * n_events', 'n_days * n_events', 1_000_000)} AS BIGINT)"
    )
    return agg.select("event_type", "n_days", "n_events", fano.alias("fano_micro"))


# ---------------------------------------------------------------------------
# Degree mixing matrix (bipartite trade-graph assortativity audit)
# ---------------------------------------------------------------------------

MIX_MAX_BUCKET = 20  # log2 degree buckets 0..20 cover deg < 2^21


def _mix_bucket(col: str) -> str:
    """floor(log2(deg)) as a LITERAL threshold ladder — libm-free (the
    engines' log2 need not agree at representable-boundary inputs) and
    identical text in both dialects."""
    arms = " ".join(
        f"WHEN {col} < {1 << (k + 1)} THEN {k}" for k in range(MIX_MAX_BUCKET)
    )
    return f"(CASE {arms} ELSE {MIX_MAX_BUCKET} END)"


@_register(
    "degree_mixing_matrix",
    f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    dc AS (SELECT c, count(*)::BIGINT AS deg FROM edges GROUP BY c),
    ds AS (SELECT s, count(*)::BIGINT AS deg FROM edges GROUP BY s)
    SELECT {_mix_bucket("dc.deg")}::BIGINT AS cust_deg_bucket,
           {_mix_bucket("ds.deg")}::BIGINT AS supp_deg_bucket,
           count(*)::BIGINT AS n_edges
    FROM edges e
    JOIN dc ON dc.c = e.c
    JOIN ds ON ds.s = e.s
    GROUP BY 1, 2
    """,
)
def q_degree_mixing_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree mixing matrix of the bipartite customer–supplier trade
    graph: the joint histogram of (log2-bucketed customer degree,
    log2-bucketed supplier degree) over edges — the network-science
    assortativity audit (Newman 2003) without the float correlation
    coefficient: the MATRIX is the artifact (a diagonal-heavy matrix is
    assortative — big buyers trade with big sellers; an anti-diagonal
    one is hub-and-spoke).  Buckets are a literal power-of-two CASE
    ladder, not log2() — libm floor-at-boundary behavior is
    engine-specific, the ladder is not.

    Scale: degrees are two node-keyed rollups of the persisted edge list;
    the final join fans each edge to its two degree lookups (node
    tables broadcast while they fit, AQE shuffle-join fallback past
    that) and collapses straight to the ≤21×21 bucket grid — output is
    domain-bounded at any corpus size."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist()
    )
    dc = edges.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("dc_deg"))
    ds = edges.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("ds_deg"))
    return (
        edges.join(dc, "c")
        .join(ds, "s")
        .groupBy(
            F.expr(_mix_bucket("dc_deg")).cast("bigint").alias("cust_deg_bucket"),
            F.expr(_mix_bucket("ds_deg")).cast("bigint").alias("supp_deg_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )


# ---------------------------------------------------------------------------
# Permutation (randomization) test: segment mean order values
# ---------------------------------------------------------------------------

PERM_REPS = 32  # one md5 digest's hex chars, as in bootstrap_ci
PERM_SEG_A = "AUTOMOBILE"
PERM_SEG_B = "BUILDING"


def _perm_base(dialect: str) -> str:
    cast = "VARCHAR" if dialect == tx.DUCK else "STRING"
    h = (
        "md5('perm:' || o_orderkey::VARCHAR)"
        if dialect == tx.DUCK
        else "md5(concat('perm:', CAST(o_orderkey AS STRING)))"
    )
    return f"""
    base AS (
      SELECT {h} AS h,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN c.c_mktsegment = '{PERM_SEG_A}' THEN 1 ELSE 0 END AS grp
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{PERM_SEG_A}', '{PERM_SEG_B}')
    )"""


def _perm_bit(dialect: str, h: str, rep: str) -> str:
    """Replicate ``rep``'s fair relabeling bit: hex char ``rep`` of the
    per-order digest, mod 2 (8 of 16 hex values are odd — exactly 1/2)."""
    ch = f"substr({h}, {rep} + 1, 1)"
    pos = (
        f"strpos('0123456789abcdef', {ch})"
        if dialect == tx.DUCK
        else f"instr('0123456789abcdef', {ch})"
    )
    return f"(({pos} - 1) % 2)"


def _perm_diff(dialect: str) -> str:
    """|mean(grp A) - mean(grp B)| in floor-micro-dollars, as a SQL
    aggregate-expression template over (flag, cents) rows."""
    fsd = tx.floor_scaled_div
    ma = fsd(
        dialect,
        "sum(CASE WHEN flag = 1 THEN cents ELSE 0 END)",
        "sum(flag)",
        10_000,
    )
    mb = fsd(
        dialect,
        "sum(CASE WHEN flag = 0 THEN cents ELSE 0 END)",
        "sum(1 - flag)",
        10_000,
    )
    return f"abs(({ma}) - ({mb}))"


@_register(
    "permutation_test_segments",
    f"""
    WITH {_perm_base(tx.DUCK)},
    obs AS (
      SELECT {_perm_diff(tx.DUCK)} AS d
      FROM (SELECT grp AS flag, cents FROM base)
    ),
    reps AS (SELECT unnest(range({PERM_REPS})) AS rep),
    null_d AS (
      SELECT r.rep, {_perm_diff(tx.DUCK)} AS d
      FROM (SELECT rep, {_perm_bit(tx.DUCK, "b.h", "r0.rep")} AS flag, b.cents
            FROM base b CROSS JOIN reps r0) r
      GROUP BY r.rep
    )
    SELECT o.d::BIGINT AS observed_diff_micros,
           sum(CASE WHEN n.d >= o.d THEN 1 ELSE 0 END)::BIGINT AS n_ge,
           {tx.floor_scaled_div(
               tx.DUCK,
               "sum(CASE WHEN n.d >= o.d THEN 1 ELSE 0 END) + 1",
               str(PERM_REPS + 1),
               1_000_000,
           )}::BIGINT AS p_micro
    FROM null_d n CROSS JOIN obs o
    GROUP BY o.d
    """,
)
def q_permutation_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the difference in mean order value between
    the {PERM_SEG_A} and {PERM_SEG_B} segments: {PERM_REPS} null
    replicates relabel every pooled order by a fair digest bit (hex
    char ``rep`` of ONE md5 per order, mod 2 — the bootstrap_ci
    digest-slicing trick, so the whole null ensemble costs one hash per
    row), and the reported p is the add-one-smoothed rank
    (n_ge + 1)/({PERM_REPS} + 1) of the observed |Δmean| among the null
    |Δmean|s — Monte-Carlo permutation testing (Dwass 1957) with a
    Bernoulli(1/2) relabeling null.  Means are floor-micro integer
    ratios, so every replicate statistic is bit-identical cross-engine.

    Scale: the replicate fan-out is a flat-map (no shuffle) into ONE
    {PERM_REPS}-group aggregation with map-side combine; the observed
    statistic is a 1-row frame crossed in (allowlisted BNLJ).  Nothing
    after the two aggregations exceeds {PERM_REPS} rows."""
    base = (
        load_table(spark, "orders", sf_dir)
        .join(
            load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("c_mktsegment").isin(PERM_SEG_A, PERM_SEG_B))
        .select(
            F.expr("md5(concat('perm:', CAST(o_orderkey AS STRING)))").alias("h"),
            F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
            F.expr(
                f"CASE WHEN c_mktsegment = '{PERM_SEG_A}' THEN 1 ELSE 0 END"
            ).alias("grp"),
        )
    )
    obs = base.select(F.col("grp").alias("flag"), "cents").agg(
        F.expr(_perm_diff(tx.SPARK)).alias("d")
    )
    reps = base.withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(PERM_REPS - 1)))
    ).select("rep", F.expr(_perm_bit(tx.SPARK, "h", "rep")).alias("flag"), "cents")
    null_d = reps.groupBy("rep").agg(F.expr(_perm_diff(tx.SPARK)).alias("d"))
    p = F.expr(
        f"CAST({tx.floor_scaled_div(tx.SPARK, 'n_ge + 1', str(PERM_REPS + 1), 1_000_000)} AS BIGINT)"
    )
    return (
        null_d.crossJoin(F.broadcast(obs.withColumnRenamed("d", "od")))
        .groupBy("od")
        .agg(
            F.sum(F.when(F.col("d") >= F.col("od"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ge")
        )
        .select(
            F.col("od").cast("bigint").alias("observed_diff_micros"),
            "n_ge",
            p.alias("p_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric containment near-dups (the "A is inside B" detector)
# ---------------------------------------------------------------------------

CONT_T_MILLI = 800  # containment threshold: 80% of the smaller side's set


def _containment_oracle() -> str:
    from pedri_analysis_spark.plans.dedup_queries import minhash_pair_ctes

    return f"""
    WITH {minhash_pair_ctes('documents')},
    cv AS (
      SELECT p.a, p.b,
             len(sa.sh)::BIGINT AS n_sh_a,
             len(sb.sh)::BIGINT AS n_sh_b,
             len(list_intersect(sa.sh, sb.sh))::BIGINT AS n_common
      FROM pairs p
      JOIN shng sa ON sa.doc_id = p.a
      JOIN shng sb ON sb.doc_id = p.b
      WHERE len(sa.sh) > 0 AND len(sb.sh) > 0
    )
    SELECT a, b, n_sh_a, n_sh_b, n_common,
           (n_common * 1000 // n_sh_a)::BIGINT AS cont_ab_milli,
           (n_common * 1000 // n_sh_b)::BIGINT AS cont_ba_milli
    FROM cv
    WHERE greatest(n_common * 1000 // n_sh_a, n_common * 1000 // n_sh_b)
            >= {CONT_T_MILLI}
    """


@_register("containment_near_dups", _containment_oracle())
def q_containment_near_dups(
    spark: SparkSession, sf_dir: str, *, max_bucket: int | None = None
) -> DataFrame:
    """ASYMMETRIC containment near-dups: candidate pairs from the exact
    MinHash-LSH banding chain the symmetric family uses (same
    signatures, bands and bucket cap as minhash_near_dups — oracle
    lockstep via the shared ``minhash_pair_ctes``), verified on exact
    shingle-set CONTAINMENT |A∩B|/|A| instead of Jaccard.  This is the
    detector Jaccard structurally misses: a short document pasted into
    a much longer one has containment ~1 but Jaccard ~|A|/|B| — far
    under any near-dup threshold (Broder's containment, the
    quotation/inclusion case).  Scores are exact integer milli ratios
    (no float verify at all — tighter than the symmetric query's 6-dp
    doubles); both directions are reported, gated on the larger.

    Scale: identical topology to minhash_near_dups — banded bucket
    join with the committed MAX_BUCKET cap (APPROX_PAST_CAP contract
    lives there), then a pair-keyed verify join; the verify is narrow
    (set intersect of two cached shingle arrays).  One caveat is
    inherited deliberately: LSH bands target JACCARD similarity, so a
    high-containment/low-Jaccard pair is only candidate-visible while
    the size skew is moderate (recall falls as |B|/|A| grows — the
    standard containment-LSH tradeoff; the exact fix at 100 TB is a
    suffix/prefix-anchored band family, named here for the design
    audit, not silently assumed).

    ``max_bucket`` (ADVICE r11): tools/chunk_recall.py passes the cap
    EXPLICITLY to measure forced-cap recall — no module-global
    monkeypatching whose effect would silently vanish if this
    function's import of MAX_BUCKET ever moved to module level.  None
    (the registered form) reads the shared dedup_queries.MAX_BUCKET."""
    from pedri_analysis_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from pedri_analysis_spark.plans.dedup_queries import (
        BANDS,
        MAX_BUCKET,
        N_HASHES,
        SHINGLE_K,
    )

    if max_bucket is None:
        max_bucket = MAX_BUCKET
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    sigs = minhash_signatures(spread(docs), "text", N_HASHES, SHINGLE_K).select(
        "doc_id", "sh", *[f"mh{i}" for i in range(N_HASHES)]
    )
    sigs, _ = materialize(sigs)
    pairs = lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BANDS, max_bucket)
    left = sigs.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    right = sigs.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    cv = (
        pairs.join(left, "a")
        .join(right, "b")
        .filter((F.size("sh_a") > 0) & (F.size("sh_b") > 0))
        .select(
            "a",
            "b",
            F.size("sh_a").cast("bigint").alias("n_sh_a"),
            F.size("sh_b").cast("bigint").alias("n_sh_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_common"),
        )
    )
    c_ab = F.expr("n_common * 1000 div n_sh_a")
    c_ba = F.expr("n_common * 1000 div n_sh_b")
    return (
        cv.withColumn("cont_ab_milli", c_ab.cast("bigint"))
        .withColumn("cont_ba_milli", c_ba.cast("bigint"))
        .filter(
            F.greatest(F.col("cont_ab_milli"), F.col("cont_ba_milli"))
            >= CONT_T_MILLI
        )
    )


# ---------------------------------------------------------------------------
# MRR of BM25 bag-of-words retrieval against exact-phrase gold
# ---------------------------------------------------------------------------

MRR_PHRASES = ("part filter", "window join", "table merge", "order scan")


def _mrr_oracle() -> str:
    from pedri_analysis_spark.plans.retrieval_queries import _term_micros, _tf

    phrase_score = {}
    df_cols = []
    for i, ph in enumerate(MRR_PHRASES):
        t1, t2 = ph.split(" ")
        df_cols.append(
            f"SUM(CASE WHEN list_contains(toks, '{t1}') THEN 1 ELSE 0 END)::BIGINT AS df_{i}a"
        )
        df_cols.append(
            f"SUM(CASE WHEN list_contains(toks, '{t2}') THEN 1 ELSE 0 END)::BIGINT AS df_{i}b"
        )
        phrase_score[ph] = (
            f"({_term_micros(_tf(tx.DUCK, t1), f'df_{i}a')}"
            f" + {_term_micros(_tf(tx.DUCK, t2), f'df_{i}b')})"
        )
    scored_legs = "\n      UNION ALL\n".join(
        f"""      SELECT '{ph}' AS phrase, doc_id, {phrase_score[ph]} AS score,
             list_contains({tx.word_shingles(tx.DUCK, "toks", 2)}, '{ph}') AS gold
      FROM t2, stats"""
        for ph in MRR_PHRASES
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    t2 AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM toks),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl,
             {", ".join(df_cols)}
      FROM t2
    ),
    scored AS (
{scored_legs}
    ),
    ng AS (
      SELECT phrase, count(*)::BIGINT AS n_gold FROM scored WHERE gold
      GROUP BY phrase
    ),
    best AS (
      SELECT phrase, score AS gs, doc_id AS gid FROM (
        SELECT phrase, score, doc_id,
               row_number() OVER (PARTITION BY phrase
                                  ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored WHERE gold
      ) WHERE rn = 1
    ),
    ranked AS (
      SELECT b.phrase, ng.n_gold,
             (1 + sum(CASE WHEN s.score > b.gs
                             OR (s.score = b.gs AND s.doc_id < b.gid)
                           THEN 1 ELSE 0 END))::BIGINT AS first_hit_rank
      FROM best b
      JOIN ng ON ng.phrase = b.phrase
      JOIN scored s ON s.phrase = b.phrase
      GROUP BY b.phrase, ng.n_gold
    )
    SELECT phrase, n_gold, first_hit_rank,
           {tx.floor_scaled_div(tx.DUCK, "1", "first_hit_rank", 1_000_000)}::BIGINT
             AS rr_micro
    FROM ranked
    """


@_register("mrr_bm25_phrases", _mrr_oracle())
def q_mrr_bm25_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank audit of bag-of-words BM25 against exact-phrase
    relevance: for each two-word query phrase, docs are ranked by the
    sum of the two unigram BM25 scores (the retrieval_queries scoring,
    same k1/b and integer-micro quantization) and the gold set is the
    docs containing the phrase AS ADJACENT TOKENS — rr = 1/rank of the
    first gold doc.  This measures how well the unigram index surfaces
    phrase intent, the gap a positional/phrase index (phrase_match
    _counts) exists to close.

    The rank of the best gold doc is computed WITHOUT a global sort:
    argmax the gold side by the (score DESC, doc_id ASC) total order
    (struct max — the mutual_top1 trick), then count documents that
    order strictly before it.  Two corpus aggregations, zero
    corpus-sized windows — rank-of-one-element never needs ranking
    everything.

    Scale: one tokenize pass feeds a 1-row broadcast stats frame and a
    per-phrase narrow scoring map (phrase fan-out = 4 literals); the
    rank count is one more broadcast-join pass.  Phrases with zero
    gold docs at a given SF simply emit no row (both engines)."""
    from pedri_analysis_spark.plans.retrieval_queries import _term_micros, _tf

    docs = load_table(spark, "documents", sf_dir)
    toks = spread(docs).select(
        "doc_id", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    t2 = toks.select("doc_id", "toks", F.size("toks").cast("bigint").alias("dl"))
    t2, _ = materialize(t2)  # one tokenize pass feeds stats + 4 scoring legs
    df_aggs = []
    for i, ph in enumerate(MRR_PHRASES):
        t1, tb = ph.split(" ")
        df_aggs.append(
            F.expr(f"SUM(CASE WHEN array_contains(toks, '{t1}') THEN 1 ELSE 0 END)")
            .cast("bigint")
            .alias(f"df_{i}a")
        )
        df_aggs.append(
            F.expr(f"SUM(CASE WHEN array_contains(toks, '{tb}') THEN 1 ELSE 0 END)")
            .cast("bigint")
            .alias(f"df_{i}b")
        )
    stats = t2.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_dl"), *df_aggs
    )
    # One corpus pass for all phrases (r15): the old per-phrase union
    # legs each re-scanned the cached t2 AND recomputed the bigram
    # shingle array per leg (4x the dominant per-row work); now the
    # shingles are built once per doc and the per-phrase (score, gold)
    # structs explode in-JVM from the same row.
    structs = []
    for i, ph in enumerate(MRR_PHRASES):
        t1, tb = ph.split(" ")
        score = (
            f"({_term_micros(_tf(tx.SPARK, t1), f'df_{i}a')}"
            f" + {_term_micros(_tf(tx.SPARK, tb), f'df_{i}b')})"
        )
        structs.append(
            F.struct(
                F.lit(ph).alias("phrase"),
                F.expr(score).alias("score"),
                F.expr(f"array_contains(sh2, '{ph}')").alias("gold"),
            )
        )
    scored = (
        t2.select(
            "doc_id",
            "toks",
            "dl",
            F.expr(tx.word_shingles(tx.SPARK, "toks", 2)).alias("sh2"),
        )
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.explode(F.array(*structs)).alias("x"))
        .select(
            F.col("x.phrase").alias("phrase"),
            "doc_id",
            F.col("x.score").alias("score"),
            F.col("x.gold").alias("gold"),
        )
    )
    scored, _ = materialize(scored)  # feeds both the argmax and the rank-count pass
    best = (
        scored.filter("gold")
        .groupBy("phrase")
        .agg(
            F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))).alias("g"),
            F.count(F.lit(1)).cast("bigint").alias("n_gold"),
        )
        .select("phrase", "n_gold", F.col("g.score").alias("gs"), (-F.col("g.nid")).alias("gid"))
    )
    before = (F.col("score") > F.col("gs")) | (
        (F.col("score") == F.col("gs")) & (F.col("doc_id") < F.col("gid"))
    )
    ranked = (
        scored.join(F.broadcast(best), "phrase")
        .groupBy("phrase", "n_gold")
        .agg(
            (1 + F.sum(F.when(before, 1).otherwise(0)))
            .cast("bigint")
            .alias("first_hit_rank")
        )
    )
    rr = F.expr(
        f"CAST({tx.floor_scaled_div(tx.SPARK, '1', 'first_hit_rank', 1_000_000)} AS BIGINT)"
    )
    return ranked.select("phrase", "n_gold", "first_hit_rank", rr.alias("rr_micro"))


# ---------------------------------------------------------------------------
# RAKE-lite corpus keywords (degree/frequency co-occurrence scoring)
# ---------------------------------------------------------------------------

RAKE_TOPK = 20
RAKE_MIN_FREQ = 5  # drop hapax-ish words: degree/freq of a rare word is noise


def _rake_oracle() -> str:
    from pedri_analysis_spark.plans.text_queries import _QUALITY_STOPWORDS

    stops = ", ".join(f"'{w}'" for w in _QUALITY_STOPWORDS)
    return f"""
    WITH tok AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    pos AS (
      SELECT doc_id, u.i AS pos, toks[u.i] AS t,
             CASE WHEN toks[u.i] IN ({stops}) THEN 1 ELSE 0 END AS is_stop
      FROM tok, unnest(range(1, len(toks) + 1)) AS u(i)
    ),
    seg AS (
      SELECT doc_id, pos, t, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS sid
      FROM pos
    ),
    ph AS (
      SELECT doc_id, sid, t,
             count(*) OVER (PARTITION BY doc_id, sid) AS phrase_len
      FROM seg WHERE is_stop = 0
    ),
    w AS (
      SELECT t AS word,
             count(*)::BIGINT AS freq,
             sum(phrase_len)::BIGINT AS degree
      FROM ph GROUP BY t
      HAVING count(*) >= {RAKE_MIN_FREQ}
    )
    SELECT word, freq, degree,
           {tx.floor_scaled_div(tx.DUCK, "degree", "freq", 1000)}::BIGINT
             AS score_milli
    FROM w
    ORDER BY score_milli DESC, freq DESC, word ASC
    LIMIT {RAKE_TOPK}
    """


@_register("rake_keyword_topk", _rake_oracle())
def q_rake_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-style corpus keywords (Rose et al. 2010, degree/frequency):
    candidate phrases are maximal stopword-free token runs (the
    text-quality stopword list, shared for lockstep); a word's degree
    sums the lengths of every phrase it appears in, and score =
    degree/freq (milli-quantized) rewards words that live in long
    multi-word phrases over words that stand alone — the classic
    no-training keyword extractor, here at corpus level with a
    min-frequency gate.

    Scale: tokenization explodes once (corpus x tokens rows); the two
    windows both partition by doc (segment id needs position order,
    phrase length is per-(doc, segment)); the word rollup is one
    map-side-combining shuffle and top-k plans as
    TakeOrderedAndProject.  Every stage is keyed by doc or word — no
    global sort, no driver state."""
    from pedri_analysis_spark.plans.text_queries import _QUALITY_STOPWORDS

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tok = spread(docs).select(
        "doc_id", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    pos = tok.select(
        "doc_id", F.posexplode("toks").alias("pos", "t")
    ).withColumn(
        "is_stop",
        F.when(F.col("t").isin(*_QUALITY_STOPWORDS), 1).otherwise(0),
    )
    seg = pos.withColumn(
        "sid",
        F.sum("is_stop").over(
            W.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    ph = seg.filter("is_stop = 0").withColumn(
        "phrase_len", F.count(F.lit(1)).over(W.partitionBy("doc_id", "sid"))
    )
    w = (
        ph.groupBy(F.col("t").alias("word"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("phrase_len").cast("bigint").alias("degree"),
        )
        .filter(F.col("freq") >= RAKE_MIN_FREQ)
    )
    score = F.expr(
        f"CAST({tx.floor_scaled_div(tx.SPARK, 'degree', 'freq', 1000)} AS BIGINT)"
    )
    return (
        w.select("word", "freq", "degree", score.alias("score_milli"))
        .orderBy(F.desc("score_milli"), F.desc("freq"), F.asc("word"))
        .limit(RAKE_TOPK)
    )
