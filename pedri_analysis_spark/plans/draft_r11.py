"""The r11 query wave, registered in r11 (``registry._modules``).

These four were implemented, oracle-paired and proven green under the
driver-identical comparison before registration; the catalog-wide
sweeps now check them, and tests/test_draft_r11.py keeps the checks the
sweeps cannot express.

Every query follows the established determinism discipline (integer /
DECIMAL arithmetic only, hash-seeded pseudo-randomness via
tx.seeded_hash64, total orders on every rank) and the scale discipline
(domain-bounded frames for any single-partition work; no corpus-sized
window without banding; pair grids only over calendar-bounded point
sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# ---------------------------------------------------------------------------
# Bootstrap confidence interval on average order value
# ---------------------------------------------------------------------------

BOOT_REPS = 32  # fixed replicate count — the per-rep frame is 32 rows forever
# (and exactly the md5 hex-digit budget: one digest weights ALL replicates)
# ~95% band by rank over 32 ascending replicate means (2nd / 31st)
BOOT_LO_RANK = 2
BOOT_HI_RANK = 31


def _boot_h(dialect: str) -> str:
    """ONE seeded md5 digest per order — its 32 hex chars are the 32
    replicate weights (r11 perf rework: the first cut hashed every
    (orderkey, rep) pair, 32 md5+CONV evaluations per order; slicing a
    single digest cuts the dominant hash cost 32x while keeping the
    weights deterministic and engine-identical)."""
    if dialect == tx.DUCK:
        return "md5('boot:' || o_orderkey::VARCHAR)"
    return "md5(concat('boot:', CAST(o_orderkey AS STRING)))"


def _boot_w(dialect: str, h: str = "h", rep: str = "rep") -> str:
    """Deterministic resample weight in {0,1,2} with MEAN EXACTLY 1 for
    (orderkey, rep) — a hash-weighted bootstrap: irreproducible RNG and
    engine-specific Poisson draws are both banned by the oracle
    discipline.  Weight = hex char ``rep`` of the per-order digest
    through the (5,6,5) map (positions 1-5 → 0, 6-11 → 1, 12-16 → 2):
    sum over the 16 equiprobable hex values is 6*1 + 5*2 = 16, so the
    mean is exactly 1 and the replicate variance (0.625) is within 7%
    of the old mod-3 draw's 2/3 — same CI machinery, 1/32 the hashing."""
    ch = f"substr({h}, {rep} + 1, 1)"
    pos = (
        f"strpos('0123456789abcdef', {ch})"
        if dialect == tx.DUCK
        else f"instr('0123456789abcdef', {ch})"
    )
    return f"(CASE WHEN {pos} <= 5 THEN 0 WHEN {pos} <= 11 THEN 1 ELSE 2 END)"


@_register(
    "bootstrap_ci_avg_order",
    f"""
    WITH reps AS (SELECT unnest(range({BOOT_REPS})) AS rep),
    oh AS (
      SELECT {_boot_h(tx.DUCK)} AS h,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM orders o
    ),
    w AS (
      SELECT r.rep, {_boot_w(tx.DUCK, "o.h", "r.rep")} AS w, o.cents
      FROM oh o CROSS JOIN reps r
    ),
    m AS (
      SELECT rep,
             {tx.floor_scaled_div(tx.DUCK, 'sum(w * cents)', 'sum(w)', 10000)}
               AS mean_micros
      FROM w GROUP BY rep
    ),
    ranked AS (
      SELECT mean_micros,
             row_number() OVER (ORDER BY mean_micros ASC) AS rn
      FROM m
    ),
    pt AS (
      SELECT {tx.floor_scaled_div(
                  tx.DUCK,
                  'sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))',
                  'count(*)',
                  10000,
              )} AS point_micros
      FROM orders
    )
    SELECT pt.point_micros::BIGINT AS point_micros,
           (SELECT mean_micros FROM ranked WHERE rn = {BOOT_LO_RANK})::BIGINT
             AS ci_lo_micros,
           (SELECT mean_micros FROM ranked WHERE rn = {BOOT_HI_RANK})::BIGINT
             AS ci_hi_micros,
           {BOOT_REPS}::BIGINT AS n_reps
    FROM pt
    """,
)
def q_bootstrap_ci_avg_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap ~95% confidence interval on the average order value:
    {BOOT_REPS} hash-weighted resamples (weight = seeded_hash64(
    orderkey, rep) % 3 — deterministic, mean 1), each replicate's mean
    in exact integer micro-dollars, CI = rank-2 / rank-31 of the 32
    ascending replicate means.

    Scale: the explode is a flat-map (no shuffle); the per-rep
    aggregation map-side-combines to REPS x partitions partial rows
    before one shuffle on rep; everything after operates on a frame of
    exactly {BOOT_REPS} rows (domain-bounded single-partition sort by
    design, the cents/days pattern).  At 1000 executors the replicate
    count — not the corpus — stays the frame size.

    Determinism: weights, sums, and the floor-divided means are pure
    integer arithmetic; ranks break ties on mean value only (equal
    means are interchangeable for a quantile)."""
    from pedri_analysis_spark.operators import spread

    # spread BEFORE the md5 + 32x explode: a single-row-group parquet
    # file scans as ONE task, so without it the whole hash/weight fan-out
    # (REPS x |orders| rows of CASE + instr) serializes on one core
    # (r15; no-op at cluster split counts by construction).
    o = spread(load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")).select(
        F.expr(_boot_h(tx.SPARK)).alias("h"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("cents"),
    )
    reps = o.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))))
    w = reps.withColumn("w", F.expr(_boot_w(tx.SPARK)))
    m = w.groupBy("rep").agg(
        F.expr(
            tx.floor_scaled_div(tx.SPARK, "sum(w * cents)", "sum(w)", 10000)
        ).alias("mean_micros")
    )
    ranked = m.withColumn(
        "rn", F.row_number().over(W.orderBy(F.asc("mean_micros")))
    )
    pt = o.agg(
        F.expr(tx.floor_scaled_div(tx.SPARK, "sum(cents)", "count(*)", 10000))
        .cast("bigint")
        .alias("point_micros")
    )
    lo = ranked.filter(F.col("rn") == BOOT_LO_RANK).select(
        F.col("mean_micros").cast("bigint").alias("ci_lo_micros")
    )
    hi = ranked.filter(F.col("rn") == BOOT_HI_RANK).select(
        F.col("mean_micros").cast("bigint").alias("ci_hi_micros")
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .withColumn("n_reps", F.lit(BOOT_REPS).cast("bigint"))
        .select("point_micros", "ci_lo_micros", "ci_hi_micros", "n_reps")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (token df rank -> cumulative occurrence share)
# ---------------------------------------------------------------------------

VOCAB_BANDS = 10


def _vocab_ntile(n_expr: str, rank_expr: str, k: int) -> str:
    """Standard-SQL ntile arithmetic on (rank, N) — the lift_decile_gains
    formula, shared verbatim by both engines."""
    return (
        f"CAST(CASE WHEN {rank_expr} <= ({n_expr} % {k}) * (({n_expr} div {k}) + 1) "
        f"THEN ({rank_expr} - 1) div (({n_expr} div {k}) + 1) + 1 "
        f"ELSE ({n_expr} % {k}) "
        f"  + ({rank_expr} - ({n_expr} % {k}) * (({n_expr} div {k}) + 1) - 1) "
        f"    div ({n_expr} div {k}) + 1 END AS BIGINT)"
    )


@_register(
    "vocab_coverage_curve",
    f"""
    WITH tok AS (
      SELECT unnest({tx.tokens(tx.DUCK, 'text')}) AS token FROM documents
    ),
    tf AS (SELECT token, count(*)::BIGINT AS occ FROM tok GROUP BY token),
    ranked AS (
      SELECT occ,
             row_number() OVER (ORDER BY occ DESC, token ASC) AS rank,
             count(*) OVER () AS n_vocab
      FROM tf
    ),
    banded AS (
      SELECT {_vocab_ntile('n_vocab', 'rank', VOCAB_BANDS).replace(' div ', ' // ')}
               AS vocab_decile,
             occ
      FROM ranked
    ),
    per AS (
      SELECT vocab_decile, count(*)::BIGINT AS n_terms, sum(occ)::BIGINT AS occ
      FROM banded GROUP BY vocab_decile
    )
    SELECT vocab_decile, n_terms, occ,
           sum(occ) OVER (ORDER BY vocab_decile)::BIGINT AS cum_occ,
           ({tx.floor_scaled_div(
                tx.DUCK,
                'sum(occ) OVER (ORDER BY vocab_decile)',
                '(SELECT sum(occ) FROM per)',
                1000000,
            )})::BIGINT AS cum_share_ppm
    FROM per
    ORDER BY vocab_decile
    """,
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: rank the corpus vocabulary by
    occurrence count (descending), cut into {VOCAB_BANDS} equidepth
    bands, and report each band's cumulative share of all token
    occurrences in exact parts-per-million — the 'how much of the
    corpus does the top-X% of the vocab cover' table a tokenizer-budget
    decision reads.

    Scale: the oracle's global ``row_number() OVER (ORDER BY occ DESC,
    token)`` is computed distributively with the lift_decile_gains
    equidepth-band trick — band on (-occ, first token char): the band
    key is a PREFIX of the total order, per-band offsets come from the
    band-count rollup (bounded by |distinct occ values| x charset, and
    distinct counts grow ~sqrt(total occurrences) under any Zipf-ish
    law), and row_number runs within bands only.  The first-char salt
    exists precisely because count ties are the mass of a vocabulary
    (hapaxes are ~half of it) — an unsalted count band would put half
    the vocab in one window partition.  Everything after the band
    rollup is a {VOCAB_BANDS}-row frame.

    Determinism: counts and cumulative sums are exact integers;
    (occ DESC, token ASC) is a total order; shares are floor-divided
    ppm."""
    tok = (
        load_table(spark, "documents", sf_dir)
        .select(F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token"))
    )
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    d = tf.withColumn(
        "band",
        F.struct((-F.col("occ")).alias("negocc"), F.substring("token", 1, 1).alias("c0")),
    )
    bandc = d.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("bn"))
    wb = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    offs = bandc.select(
        "band",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).cast("bigint").alias("off"),
    )
    tot = tf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.sum("occ").cast("bigint").alias("occ_total"),
    )
    wr = W.partitionBy("band").orderBy(F.desc("occ"), F.asc("token"))
    ranked = (
        d.join(offs, "band")
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("rank", (F.col("off") + F.col("rn")).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "vocab_decile", F.expr(_vocab_ntile("n_vocab", "rank", VOCAB_BANDS))
        )
    )
    per = ranked.groupBy("vocab_decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("occ").cast("bigint").alias("occ"),
    )
    wc = W.orderBy("vocab_decile")
    return (
        per.crossJoin(F.broadcast(tot.select("occ_total")))
        .withColumn("cum_occ", F.sum("occ").over(wc).cast("bigint"))
        .withColumn(
            "cum_share_ppm",
            F.expr(
                tx.floor_scaled_div(tx.SPARK, "cum_occ", "occ_total", 1000000)
            ).cast("bigint"),
        )
        .select("vocab_decile", "n_terms", "occ", "cum_occ", "cum_share_ppm")
        .orderBy("vocab_decile")
    )


# ---------------------------------------------------------------------------
# Deterministic per-stratum reservoir top-k (threshold-pre-filtered, EXACT)
# ---------------------------------------------------------------------------

RESERVOIR_K = 25
RESERVOIR_MARGIN = 4  # expected survivors per stratum = K * MARGIN
_HASH_MAX = (1 << 60) - 1  # seeded_hash64 is a 60-bit positive integer

_RS = tx.seeded_hash64(tx.SPARK, "CAST(doc_id AS STRING)", "reservoir")
_RD = tx.seeded_hash64(tx.DUCK, "doc_id::VARCHAR", "reservoir")


@_register(
    "stratified_reservoir_topk",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY {_RD} ASC, doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, rn::BIGINT AS rn
    FROM ranked WHERE rn <= {RESERVOIR_K}
    """,
)
def q_stratified_reservoir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'reservoir' sample of exactly k={RESERVOIR_K} docs
    per language: the k smallest seeded hash-ranks per stratum — the
    distributed, reproducible equivalent of reservoir sampling (same
    marginal: each doc equally likely under the hash; same streaming
    property: a grown corpus only swaps members whose hash beats the
    current maximum).

    Scale — the class_balanced_sample docstring prescribes this form,
    this query IMPLEMENTS it: a naked per-stratum window ranks the
    whole corpus (one task per stratum — the skew hazard).  Instead the
    domain-bounded per-stratum count rollup (|langs| rows) is collected
    and each stratum gets a hash THRESHOLD t = HASH_MAX * K * MARGIN /
    n — a pushed-down map-side filter that leaves ~K*MARGIN survivor
    rows per stratum; the window then ranks only survivors.  EXACT, not
    approximate: if a stratum has >= k survivors, its k smallest hashes
    are all below the threshold by construction; the survivor rollup is
    checked and any under-filled stratum (astronomically rare at
    MARGIN={RESERVOIR_MARGIN}, but possible) falls back to ranking its
    full partition — so the result equals the oracle's unfiltered rank
    for every input.

    Determinism: (hash ASC, doc_id ASC) is a total order; the threshold
    affects WHICH rows the window sees, never the top-k themselves."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    counts = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    thresholds = {
        lang: min(
            _HASH_MAX,
            (_HASH_MAX // max(n, 1)) * RESERVOIR_K * RESERVOIR_MARGIN,
        )
        for lang, n in counts.items()
    }
    tmap = F.create_map(
        *[F.lit(x) for kv in thresholds.items() for x in kv]
    )
    h = F.expr(_RS)
    survivors = d.withColumn("h", h).filter(
        F.col("h") < F.element_at(tmap, F.col("lang"))
    )
    # exactness guard: a stratum with < k survivors (including ZERO —
    # absent from the survivor rollup entirely) re-ranks unfiltered
    surv_counts = {
        r["lang"]: r["n"]
        for r in survivors.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    under = [
        lang
        for lang, n in counts.items()
        if surv_counts.get(lang, 0) < min(RESERVOIR_K, n)
    ]
    if under:
        survivors = survivors.unionByName(
            d.filter(F.col("lang").isin(under)).withColumn("h", h)
        ).dropDuplicates(["doc_id"])
    w = W.partitionBy("lang").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        survivors.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= RESERVOIR_K)
        .select("doc_id", "lang", "rn")
    )


# ---------------------------------------------------------------------------
# Theil–Sen median trend of monthly average order value, per market segment
# ---------------------------------------------------------------------------


@_register(
    "theil_sen_monthly_trend",
    f"""
    WITH pts AS (
      SELECT c.c_mktsegment AS segment,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate))::BIGINT AS mon,
             {tx.floor_scaled_div(
                 tx.DUCK,
                 'sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))',
                 'count(*)',
                 10000,
             )} AS y_micros
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT p1.segment,
             ((p2.y_micros - p1.y_micros)) // (p2.mon - p1.mon) AS slope_micros
      FROM pts p1 JOIN pts p2
        ON p1.segment = p2.segment AND p1.mon < p2.mon
    ),
    ranked AS (
      SELECT segment, slope_micros,
             row_number() OVER (
               PARTITION BY segment ORDER BY slope_micros ASC
             ) AS rn,
             count(*) OVER (PARTITION BY segment) AS n_pairs
      FROM slopes
    )
    SELECT r.segment,
           (SELECT count(*) FROM pts WHERE pts.segment = r.segment)::BIGINT
             AS n_points,
           r.n_pairs::BIGINT AS n_pairs,
           r.slope_micros::BIGINT AS median_slope_micros
    FROM ranked r
    WHERE r.rn = (r.n_pairs + 1) // 2
    """,
)
def q_theil_sen_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend estimate (median of pairwise slopes) of monthly
    average order value per market segment — the robust replacement for
    OLS slope when months contain outlier orders.

    Scale: the O(N²) pair stage runs over the MONTHLY points, not the
    orders — the fact table collapses to |segments| x |months| rows
    first (one shuffle with map-side combine), so the pair grid is
    calendar-domain-bounded (~80 months x 5 segments -> ≤ 3.2k slopes
    per segment at ANY corpus size; the same cents/days discipline as
    the analytics wave).  Exact Theil–Sen over the bounded grid — no
    slope subsampling cap needed because the grid cannot grow with the
    corpus.

    Determinism: monthly means and slopes are floor-divided integer
    micro-dollars (slope denominators are month-index differences —
    exact integers); the median is the lower median by rank over
    (slope ASC) — a total order on integers, ties interchangeable."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("cents"),
        F.expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)").alias(
            "mon"
        ),
    )
    c = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    pts = (
        o.join(c, "o_custkey")
        .groupBy("segment", "mon")
        .agg(
            F.expr(
                tx.floor_scaled_div(tx.SPARK, "sum(cents)", "count(*)", 10000)
            ).alias("y_micros")
        )
    )
    p1 = pts.select("segment", F.col("mon").alias("m1"), F.col("y_micros").alias("y1"))
    p2 = pts.select("segment", F.col("mon").alias("m2"), F.col("y_micros").alias("y2"))
    slopes = (
        p1.join(p2, "segment")
        .filter(F.col("m1") < F.col("m2"))
        .select(
            "segment",
            F.expr("(y2 - y1) div (m2 - m1)").alias("slope_micros"),
        )
    )
    wseg = W.partitionBy("segment").orderBy(F.asc("slope_micros"))
    ranked = slopes.withColumn("rn", F.row_number().over(wseg)).withColumn(
        "n_pairs", F.count(F.lit(1)).over(W.partitionBy("segment"))
    )
    npts = pts.groupBy("segment").agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    return (
        ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .join(F.broadcast(npts), "segment")
        .select(
            "segment",
            "n_points",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("slope_micros").cast("bigint").alias("median_slope_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test on the same monthly points (Theil–Sen companion)
# ---------------------------------------------------------------------------

# significance via integer arithmetic ONLY: z > 1.96 <=> (|S|-1)^2 * 10000
# > 38416/10000... kept rational: (|S|-1)^2 * 10^8 > 384_160_000 * var_S
# (z^2 = 1.96^2 = 3.8416 exactly) — sqrt/float never evaluated, so the
# verdict is bit-identical across engines.
_MK_Z2_NUM = 38_416  # 1.96^2 scaled by 10^4
_MK_Z2_DEN = 10_000


def _mk_pts_sql() -> str:
    return f"""
      SELECT c.c_mktsegment AS segment,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate))::BIGINT AS mon,
             {tx.floor_scaled_div(
                 tx.DUCK,
                 'sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))',
                 'count(*)',
                 10000,
             )} AS y_micros
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    """


@_register(
    "mann_kendall_trend",
    f"""
    WITH pts AS ({_mk_pts_sql()}),
    s AS (
      SELECT p1.segment,
             sum(CASE WHEN p2.y_micros > p1.y_micros THEN 1
                      WHEN p2.y_micros < p1.y_micros THEN -1
                      ELSE 0 END)::BIGINT AS s_stat
      FROM pts p1 JOIN pts p2
        ON p1.segment = p2.segment AND p1.mon < p2.mon
      GROUP BY p1.segment
    ),
    n AS (SELECT segment, count(*)::BIGINT AS n_points FROM pts GROUP BY segment)
    SELECT n.segment, n.n_points, s.s_stat,
           ((n.n_points * (n.n_points - 1) * (2 * n.n_points + 5)) // 18)::BIGINT
             AS var_s_x18_div18,
           CASE WHEN s.s_stat = 0 THEN 'none'
                WHEN (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1) * {_MK_Z2_DEN} * 18
                     > {_MK_Z2_NUM} * (n.n_points * (n.n_points - 1) * (2 * n.n_points + 5))
                THEN (CASE WHEN s.s_stat > 0 THEN 'increasing' ELSE 'decreasing' END)
                ELSE 'none' END AS trend
    FROM n JOIN s ON n.segment = s.segment
    """,
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on monthly average order value
    per market segment — the non-parametric significance companion to
    theil_sen_monthly_trend (same points, same bounded pair grid): S =
    Σ sign(y_j - y_i) over month pairs i<j, var(S) = n(n-1)(2n+5)/18
    (no-ties form; monthly means in micro-dollars make exact ties
    measure-zero and a tie contributes 0 to S either way), trend called
    at |z| > 1.96.

    Determinism — the z-test WITHOUT floats: z = (|S|-1)/sqrt(var) >
    1.96 is evaluated as (|S|-1)^2 * 10^4 * 18 > 38416 * n(n-1)(2n+5),
    pure integer comparison (1.96^2 = 3.8416 exactly); sqrt is never
    computed, so both engines render the identical verdict.  The
    continuity-corrected |S|-1 matches the standard normal
    approximation.

    Scale: identical topology to theil_sen_monthly_trend — the fact
    table collapses to |segments| x |months| points first (one shuffle,
    map-side combine); the sign grid is calendar-domain-bounded.  The
    var formula stays in BIGINT far past any real calendar span."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)").alias(
            "mon"
        ),
    )
    c = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    pts = (
        o.join(c, "o_custkey")
        .groupBy("segment", "mon")
        .agg(
            F.expr(
                tx.floor_scaled_div(tx.SPARK, "sum(cents)", "count(*)", 10000)
            ).alias("y_micros")
        )
    )
    p1 = pts.select("segment", F.col("mon").alias("m1"), F.col("y_micros").alias("y1"))
    p2 = pts.select("segment", F.col("mon").alias("m2"), F.col("y_micros").alias("y2"))
    s = (
        p1.join(p2, "segment")
        .filter(F.col("m1") < F.col("m2"))
        .groupBy("segment")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN y2 > y1 THEN 1 WHEN y2 < y1 THEN -1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = pts.groupBy("segment").agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    verdict = (
        f"CASE WHEN s_stat = 0 THEN 'none' "
        f"WHEN (abs(s_stat) - 1) * (abs(s_stat) - 1) * {_MK_Z2_DEN} * 18 "
        f"     > {_MK_Z2_NUM} * (n_points * (n_points - 1) * (2 * n_points + 5)) "
        f"THEN (CASE WHEN s_stat > 0 THEN 'increasing' ELSE 'decreasing' END) "
        f"ELSE 'none' END"
    )
    return (
        n.join(s, "segment")
        .withColumn(
            "var_s_x18_div18",
            F.expr("CAST(n_points * (n_points - 1) * (2 * n_points + 5) div 18 AS BIGINT)"),
        )
        .withColumn("trend", F.expr(verdict))
        .select("segment", "n_points", "s_stat", "var_s_x18_div18", "trend")
    )


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman concentration index of supplier revenue, per nation
# ---------------------------------------------------------------------------


@_register(
    "hhi_supplier_concentration",
    """
    WITH rev AS (
      SELECT l.l_suppkey, s.s_nationkey,
             sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS cents
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT s_nationkey, sum(cents) AS tot_cents, count(*)::BIGINT AS n_suppliers
      FROM rev GROUP BY s_nationkey
    )
    SELECT t.s_nationkey, t.n_suppliers,
           sum((r.cents * 10000 // t.tot_cents) * (r.cents * 10000 // t.tot_cents))::BIGINT
             AS hhi_bp2,
           (10000 * 10000 // t.n_suppliers)::BIGINT AS hhi_min_bp2
    FROM rev r JOIN tot t ON r.s_nationkey = t.s_nationkey
    GROUP BY t.s_nationkey, t.n_suppliers
    """,
)
def q_hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue per
    nation: HHI = Σ share², with shares in floor-divided basis points —
    the market-concentration screen (10000² = monopoly; 10⁸/n = perfect
    competition floor, reported alongside).

    Determinism: revenue in exact integer cents (the DECIMAL idiom),
    shares floor-divided to basis points BEFORE squaring — both engines
    square identical integers; the per-nation floor is pure integer
    division.

    Scale: one fact-table aggregation (map-side combined) to the
    supplier grain, one domain-bounded (25-nation) rollup joined back
    broadcast-style, one final 25-row aggregation — no window, no pair
    stage, everything BIGINT (cents² at 100 TB revenue grain would
    overflow, which is exactly why shares quantize to bp first: the
    squared term is bounded by 10⁸ regardless of revenue scale)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey",
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    sup = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    rev = (
        li.join(sup, "l_suppkey")
        .groupBy("l_suppkey", "s_nationkey")
        .agg(F.sum("cents").alias("cents"))
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("cents").alias("tot_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    return (
        rev.join(F.broadcast(tot), "s_nationkey")
        .withColumn("share_bp", F.expr("(cents * 10000) div tot_cents"))
        .groupBy("s_nationkey", "n_suppliers")
        .agg(F.sum(F.expr("share_bp * share_bp")).cast("bigint").alias("hhi_bp2"))
        .withColumn(
            "hhi_min_bp2", F.expr("CAST((10000 * 10000) div n_suppliers AS BIGINT)")
        )
        .select("s_nationkey", "n_suppliers", "hhi_bp2", "hhi_min_bp2")
    )
