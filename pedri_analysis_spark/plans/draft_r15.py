"""The r15 query wave, registered in r15 (``registry._modules``).

The module was implemented, oracle-paired, plan-invariant-pinned and
proven green under the driver-identical comparison before registration
(see COVERAGE.md "Registration-window plan").

Every query follows the determinism discipline (integer / DECIMAL
arithmetic, hash-seeded pseudo-randomness, total orders on every rank,
probability quantization via integer cross-multiplication — never
libm) and the scale discipline (pair stages blocked or domain-bounded;
iterative algorithms with fixed unrolled oracles; single-partition
frames only when domain-bounded).

Families and the public designs they implement:
- edit_distance_near_dups — EXACT edit-distance-1 pair mining via
  FastSS deletion neighborhoods (Bocek et al. 2007): recall 1.0 by
  construction, the string-field counterpart of the prefix-filter
  Jaccard join (structure, not caps).
- kmv_distinct_estimate — k-minimum-values distinct-count sketch
  (Bar-Yossef et al. 2002): DETERMINISTIC given the seeded hash, so
  unlike HLL the estimate itself is oracle-hash-matched bit-exactly,
  with the accuracy audit against the exact count in the same row.
- goodman_kruskal_tau — Goodman-Kruskal tau (1954), the Gini-based
  proportional-reduction-in-error association measure: the
  mutual-information story with pure counting instead of log().
- mcnemar_paired_flags — McNemar's paired test (1947) on the two
  document-quality raters, integer cross-multiplied significance.
- haar_energy_daily — Haar wavelet energy decomposition of the daily
  revenue series (dyadic pairwise sums/diffs, exact integers): which
  time scales carry the variance.
- seasonal_decomposition_daily — classic additive decomposition
  (trend = centered 7-day MA, seasonal = day-of-week means of the
  detrended series, remainder) with exact x7-scaled integer moving
  averages.

Reference parity: none of these exist in the reference engine — they
extend the training-data-pipeline / analytics surface per SURVEY.md
§2's "beyond the reference" mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pedri_analysis_spark.cache import materialize
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# ---------------------------------------------------------------------------
# McNemar's paired test on the two document-quality raters
# ---------------------------------------------------------------------------

MCN_MIN_TOKENS = 20  # rater A: "long enough" (cohen_kappa's rater A)
MCN_DISTINCT_PPM = 600_000  # rater B: distinct-token ratio >= 0.6
# chi^2_{1, 0.05} in micro units — a literal constant (the Benford
# discipline): the decision is (b-c)^2 * 1e6 >= 3_841_459 * (b+c)
MCN_CHI2_CRIT_MICRO = 3_841_459


def _mcn_raters(dialect: str) -> str:
    toks = tx.tokens(dialect, "text")
    ln = "len" if dialect == tx.DUCK else "size"
    distinct_ln = (
        f"len(list_distinct({toks}))"
        if dialect == tx.DUCK
        else f"size(array_distinct({toks}))"
    )
    return f"""
    rated AS (
      SELECT doc_id,
             CASE WHEN {ln}({toks}) >= {MCN_MIN_TOKENS} THEN 1 ELSE 0 END AS ra,
             CASE WHEN {ln}({toks}) > 0
                   AND {distinct_ln} * 1000000 >= {MCN_DISTINCT_PPM} * {ln}({toks})
                  THEN 1 ELSE 0 END AS rb
      FROM documents
    )"""


@_register(
    "mcnemar_paired_flags",
    f"""
    WITH {_mcn_raters(tx.DUCK)},
    cells AS (
      SELECT
        sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)::BIGINT AS n11,
        sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
        sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
        sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)::BIGINT AS n00
      FROM rated
    )
    SELECT n11, n10, n01, n00,
           (CASE WHEN n10 + n01 > 0 THEN
             {tx.floor_scaled_div(tx.DUCK, "(n10 - n01) * (n10 - n01)", "n10 + n01", 1_000_000)}
            ELSE 0 END)::BIGINT AS chi2_micro,
           (CASE WHEN (n10 - n01) * (n10 - n01) * 1000000
                      >= {MCN_CHI2_CRIT_MICRO} * (n10 + n01)
                 THEN 1 ELSE 0 END)::BIGINT AS significant
    FROM cells
    """,
)
def q_mcnemar_paired_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (1947) for marginal homogeneity of the two
    document-quality raters (rater A: >= {MCN_MIN_TOKENS} tokens;
    rater B: distinct-token ratio >= 0.6 — the cohen_kappa pair): does
    one rater systematically pass documents the other fails?
    chi2 = (b-c)^2/(b+c) over the discordant cells, and the 5%
    significance decision is the pure-integer cross-multiplication
    (b-c)^2 * 1e6 >= {MCN_CHI2_CRIT_MICRO} * (b+c) — the critical value
    enters as a literal micro constant (the Benford discipline), so
    there is no chi-square CDF anywhere.

    Determinism: cells are exact counts; the statistic is one floor
    division; rater B's ratio threshold is integer cross-multiplied.

    BIGINT bound (wave convention): (b-c)^2 * 1e6 wraps past ~3e6
    discordant docs; DECIMAL(38,0) is the escape hatch.

    Scale: one narrow map + one 4-cell aggregate — a single
    map-side-combined pass."""
    toks = tx.tokens(tx.SPARK, "text")
    rated = load_table(spark, "documents", sf_dir).select(
        F.expr(
            f"CASE WHEN size({toks}) >= {MCN_MIN_TOKENS} THEN 1 ELSE 0 END"
        ).alias("ra"),
        F.expr(
            f"CASE WHEN size({toks}) > 0 AND "
            f"size(array_distinct({toks})) * 1000000 >= "
            f"{MCN_DISTINCT_PPM} * size({toks}) THEN 1 ELSE 0 END"
        ).alias("rb"),
    )
    cells = rated.agg(
        F.sum(F.expr("CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.expr("CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.expr("CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.expr("CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n00"),
    )
    return cells.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"CAST(CASE WHEN n10 + n01 > 0 THEN "
            f"{tx.floor_scaled_div(tx.SPARK, '(n10 - n01) * (n10 - n01)', 'n10 + n01', 1_000_000)}"
            f" ELSE 0 END AS BIGINT)"
        ).alias("chi2_micro"),
        F.expr(
            f"CAST(CASE WHEN (n10 - n01) * (n10 - n01) * 1000000 "
            f">= {MCN_CHI2_CRIT_MICRO} * (n10 + n01) THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Goodman-Kruskal tau: event_type -> day-of-week association
# ---------------------------------------------------------------------------

GKT_SCALE = 1_000_000


def _gkt_oracle() -> str:
    day = tx.epoch_day(tx.DUCK, "ts")
    fsd = tx.floor_scaled_div
    marg = fsd(tx.DUCK, "sum_col2", "n", GKT_SCALE)
    return f"""
    WITH cells AS (
      SELECT event_type AS x, (({day}) + 4) % 7 AS y, count(*)::BIGINT AS nij
      FROM events GROUP BY 1, 2
    ),
    rowm AS (
      SELECT x, sum(nij)::BIGINT AS ni,
             sum(nij * nij)::BIGINT AS sq
      FROM cells GROUP BY x
    ),
    condq AS (
      SELECT sum({fsd(tx.DUCK, "sq", "ni", GKT_SCALE)})::BIGINT AS cond_q
      FROM rowm
    ),
    colm AS (
      SELECT sum(cj * cj)::BIGINT AS sum_col2, sum(cj)::BIGINT AS n
      FROM (SELECT sum(nij)::BIGINT AS cj FROM cells GROUP BY y)
    ),
    pieces AS (
      SELECT n, cond_q, {marg} AS marg_q FROM condq, colm
    )
    SELECT n, cond_q, marg_q,
           -- marg_q = n*SCALE means zero marginal Gini error (all mass in
           -- one column): tau := 0, and the guard must branch BEFORE the
           -- division (DuckDB errors on /0 where Spark returns NULL)
           (CASE WHEN n * {GKT_SCALE} - marg_q <= 0 THEN 0
            ELSE {fsd(tx.DUCK, "greatest(cond_q - marg_q, 0)", f"n * {GKT_SCALE} - marg_q", 1_000_000)}
            END)::BIGINT AS tau_micro
    FROM pieces
    """


@_register("goodman_kruskal_tau", _gkt_oracle())
def q_goodman_kruskal_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal tau (1954): the proportional reduction in Gini
    prediction error of the day-of-week given the event type — the
    categorical-association audit that does the mutual-information job
    with PURE COUNTING (no log, which the libm ban excludes; the same
    substitution as Simpson-for-entropy).

    tau = (E_marginal - E_conditional) / E_marginal with Gini errors;
    rearranged to counting terms, tau = (C - M) / (n - M) with
    C = Σ_i Σ_j n_ij^2 / n_i. and M = Σ_j n_.j^2 / n.  C's per-row
    pieces and M each enter through ONE documented floor (quantized to
    {GKT_SCALE} units — the autocorr normalize-first discipline;
    greatest(.,0) absorbs the <=|types|-unit quantization undershoot
    Cauchy-Schwarz forbids in the exact value), and the final ratio is
    a floor-micro division of BIGINT-safe terms.

    Determinism: counts exact; day-of-week is pure epoch-day arithmetic
    ((day + 4) % 7), never a TZ-dependent dayofweek().

    BIGINT bound (wave convention): the final division's residue
    product (< n * {GKT_SCALE} * 1e6) wraps past ~9e6 events;
    DECIMAL(38,0) or a coarser GKT_SCALE is the escape hatch.

    Scale: one (type, dow) rollup — the contingency table is
    |types| x 7, domain-bounded; everything after is a ~5-row frame."""
    day = tx.epoch_day(tx.SPARK, "ts")
    cells = (
        load_table(spark, "events", sf_dir)
        .select(
            F.col("event_type").alias("x"),
            F.expr(f"(({day}) + 4) % 7").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
    )
    rowm = cells.groupBy("x").agg(
        F.sum("nij").cast("bigint").alias("ni"),
        F.sum(F.expr("nij * nij")).cast("bigint").alias("sq"),
    )
    condq = rowm.agg(
        F.sum(F.expr(tx.floor_scaled_div(tx.SPARK, "sq", "ni", GKT_SCALE)))
        .cast("bigint")
        .alias("cond_q")
    )
    colm = (
        cells.groupBy("y")
        .agg(F.sum("nij").cast("bigint").alias("cj"))
        .agg(
            F.sum(F.expr("cj * cj")).cast("bigint").alias("sum_col2"),
            F.sum("cj").cast("bigint").alias("n"),
        )
    )
    marg = tx.floor_scaled_div(tx.SPARK, "sum_col2", "n", GKT_SCALE)
    return (
        condq.crossJoin(F.broadcast(colm))
        .withColumn("marg_q", F.expr(marg).cast("bigint"))
        .select(
            "n",
            "cond_q",
            "marg_q",
            F.expr(
                # mirror of the oracle's zero-marginal-error guard
                f"CASE WHEN n * {GKT_SCALE} - marg_q <= 0 THEN 0 ELSE "
                + tx.floor_scaled_div(
                    tx.SPARK,
                    "greatest(cond_q - marg_q, 0)",
                    f"n * {GKT_SCALE} - marg_q",
                    1_000_000,
                )
                + " END"
            )
            .cast("bigint")
            .alias("tau_micro"),
        )
    )


# ---------------------------------------------------------------------------
# EXACT edit-distance-1 pair mining via FastSS deletion neighborhoods
# ---------------------------------------------------------------------------


def _fastss_variants(dialect: str, key: str, name: str) -> str:
    """The deletion-1 neighborhood as a (key, name, variant) exploded
    relation: variant 0 is the string itself, variant i the string with
    character i removed."""
    if dialect == tx.SPARK:
        return (
            f"SELECT {key} AS k, {name} AS nm, "
            f"CASE WHEN i = 0 THEN {name} "
            f"ELSE concat(substring({name}, 1, i - 1), substring({name}, i + 1)) "
            f"END AS v "
            f"FROM src LATERAL VIEW explode(sequence(0, length({name}))) AS i"
        )
    return (
        f"SELECT {key} AS k, {name} AS nm, "
        f"CASE WHEN u.i = 0 THEN {name} "
        f"ELSE substr({name}, 1, u.i - 1) || substr({name}, u.i + 1) "
        f"END AS v "
        f"FROM src, unnest(generate_series(0, length({name}))) AS u(i)"
    )


@_register(
    "edit_distance_near_dups",
    f"""
    WITH clus AS (
      SELECT s_name, min(s_suppkey) AS rep, count(*)::BIGINT AS w
      FROM supplier GROUP BY s_name
    ),
    src AS (SELECT rep, s_name, w FROM clus),
    dv AS ({_fastss_variants(tx.DUCK, "rep", "s_name")}),
    dvw AS (
      SELECT dv.k, dv.nm, dv.v, c.w FROM dv JOIN clus c ON c.rep = dv.k
    ),
    cand AS (
      SELECT DISTINCT a.k AS a_rep, b.k AS b_rep, a.nm AS na, b.nm AS nb,
             a.w AS wa, b.w AS wb
      FROM dvw a JOIN dvw b ON a.v = b.v AND a.k < b.k
    ),
    ident AS (
      SELECT rep AS a_rep, rep AS b_rep, 0::BIGINT AS edit_dist,
             (w * (w - 1) // 2)::BIGINT AS n_pairs
      FROM clus WHERE w >= 2
    ),
    cross_p AS (
      SELECT a_rep, b_rep, levenshtein(na, nb)::BIGINT AS edit_dist,
             (wa * wb)::BIGINT AS n_pairs
      FROM cand WHERE levenshtein(na, nb) = 1
    )
    SELECT * FROM ident UNION ALL SELECT * FROM cross_p
    """,
)
def q_edit_distance_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance-1 pair mining over supplier names via FastSS
    deletion neighborhoods (Bocek et al. 2007) — the string-field
    counterpart of prefix_filter_jaccard_dups, recall 1.0 BY
    CONSTRUCTION with no cap, in the fellegi_sunter two-layer shape:

    1. EXACT-DUPLICATE CLUSTERING: identical names collapse to one
       representative (min key) with multiplicity w; a cluster's
       w*(w-1)/2 distance-0 pairs are counted ANALYTICALLY — linear
       work, immune to the replica quadratics that made the naive
       pair-list form take 65 s at the synth decade (10 replicas per
       name => x100 candidate pairs).
    2. FastSS over DISTINCT names: if ed(s, t) <= 1 then the deletion-1
       neighborhoods D(s) and D(t) intersect (equal strings share s; an
       insertion/deletion pair shares the shorter string; a
       substitution pair shares the string with the differing position
       deleted), so every true distinct-name pair is a candidate;
       exact levenshtein() — the same unit-cost DP in both engines —
       verifies, and the pair counts w_a * w_b record-level pairs.

    The total pair count (Σ n_pairs over both layers) equals the
    quadratic record-level all-pairs count with ed <= 1 — pinned in
    tests/test_draft_r15.py.

    Determinism: variants are pure string slicing; counts and distances
    exact integers; candidate DISTINCT collapses multi-variant hits.

    Scale: the variant relation is Σ(len+1) rows over DISTINCT names;
    candidate work is bounded by the posting lists of shared variants
    (near-duplicate names by construction) — output-bound over the
    distinct-name pair set, never the record pair set.  The named
    extension for ed <= 2 is the recursive FastSS level-2 deletion
    index (same construction, quadratic-in-length variant count).
    Overflow: w*(w-1)/2 and wa*wb wrap past ~3e9 records per identical
    name; DECIMAL(38,0) is the escape hatch (wave convention)."""
    clus = (
        load_table(spark, "supplier", sf_dir)
        .groupBy("s_name")
        .agg(
            F.min("s_suppkey").alias("rep"),
            F.count(F.lit(1)).cast("bigint").alias("w"),
        )
        .persist()
    )
    ident = clus.filter(F.col("w") >= 2).select(
        F.col("rep").alias("a_rep"),
        F.col("rep").alias("b_rep"),
        F.lit(0).cast("bigint").alias("edit_dist"),
        F.expr("CAST(w * (w - 1) div 2 AS BIGINT)").alias("n_pairs"),
    )
    clus.select(F.col("rep"), F.col("s_name"), F.col("w")).createOrReplaceTempView(
        "src"
    )
    dv = spark.sql(_fastss_variants(tx.SPARK, "rep", "s_name"))
    dvw = dv.join(
        clus.select(F.col("rep").alias("k"), "w"), "k"
    )
    a = dvw.select(
        F.col("k").alias("a_rep"), F.col("nm").alias("na"),
        F.col("w").alias("wa"), "v",
    )
    b = dvw.select(
        F.col("k").alias("b_rep"), F.col("nm").alias("nb"),
        F.col("w").alias("wb"), F.col("v").alias("vb"),
    )
    cand = (
        a.join(b, (F.col("v") == F.col("vb")) & (F.col("a_rep") < F.col("b_rep")))
        .select("a_rep", "b_rep", "na", "nb", "wa", "wb")
        .distinct()
    )
    cross = cand.filter(F.expr("levenshtein(na, nb) = 1")).select(
        "a_rep",
        "b_rep",
        F.lit(1).cast("bigint").alias("edit_dist"),
        F.expr("CAST(wa * wb AS BIGINT)").alias("n_pairs"),
    )
    return ident.unionByName(cross)


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch + accuracy audit
# ---------------------------------------------------------------------------

KMV_K = 256
KMV_HASH_MAX = (1 << 60) - 1  # seeded_hash64 is a 60-bit positive integer


def _kmv_leg(dialect: str, col_label: str, value_sql: str) -> str:
    """One audited column's KMV row: distinct seeded hashes, the k-th
    smallest, the estimate (k-1)*HASH_MAX/h_(k) — HUGEINT/DECIMAL(19)
    product per the cross-engine DECIMAL-division rule — and the exact
    distinct count for the audit."""
    h = tx.seeded_hash64(
        dialect,
        f"CAST(v AS {'VARCHAR' if dialect == tx.DUCK else 'STRING'})",
        "kmv",
    )
    if dialect == tx.DUCK:
        est = (
            f"CAST((CAST({KMV_K - 1} AS HUGEINT) * {KMV_HASH_MAX}) // hk AS BIGINT)"
        )
    else:
        est = (
            f"CAST((CAST({KMV_K - 1} AS DECIMAL(19,0)) * {KMV_HASH_MAX}) "
            f"div hk AS BIGINT)"
        )
    return f"""
      SELECT '{col_label}' AS col_name, n_exact,
             CASE WHEN n_exact < {KMV_K} THEN n_exact ELSE {est} END AS kmv_estimate
      FROM (
        SELECT count(*) AS n_exact,
               max(CASE WHEN rnk <= {KMV_K} THEN h END) AS hk
        FROM (
          SELECT h, row_number() OVER (ORDER BY h ASC) AS rnk
          FROM (SELECT DISTINCT {h} AS h FROM ({value_sql}))
        )
      )"""


# audited column -> its DuckDB value relation (the Spark side builds the
# equivalent frames inline in the query function)
_KMV_VALUES = {
    "doc_tokens": "SELECT unnest({toks}) AS v FROM documents",
    "event_users": "SELECT user_id AS v FROM events",
    "order_customers": "SELECT o_custkey AS v FROM orders",
}


def _kmv_oracle() -> str:
    legs = []
    for label, duck_sql in _KMV_VALUES.items():
        legs.append(
            _kmv_leg(
                tx.DUCK, label, duck_sql.format(toks=tx.tokens(tx.DUCK, "text"))
            )
        )
    body = "\n      UNION ALL\n".join(legs)
    return f"""
    SELECT col_name, n_exact::BIGINT AS n_exact,
           kmv_estimate::BIGINT AS kmv_estimate,
           {tx.floor_scaled_div(tx.DUCK, "abs(kmv_estimate - n_exact)", "n_exact", 1_000_000)}::BIGINT
             AS err_ppm
    FROM ({body})
    """


@_register("kmv_distinct_estimate", _kmv_oracle())
def q_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    over three audited columns (document tokens, event users, order
    customers), k = {KMV_K}: estimate = (k-1) * HASH_MAX / h_(k) with
    h_(k) the k-th smallest distinct seeded hash — and the accuracy
    audit (err_ppm vs the exact distinct count) in the same row.
    Unlike the HLL sketch (hll_sketch_rollup), KMV is DETERMINISTIC
    given the hash function, so the ESTIMATE ITSELF hash-matches the
    DuckDB oracle bit-exactly — a sketch the correctness gate can
    verify, not just bound.

    Determinism: seeded_hash64 is the shared 60-bit md5-prefix hash;
    (k-1)*HASH_MAX runs as HUGEINT (DuckDB) vs DECIMAL(19,0)*BIGINT div
    (Spark) — the exact-product pairing from the DECIMAL-division rule;
    columns with fewer than k distinct values report the exact count
    (the standard KMV small-cardinality rule).

    Scale: per column one distinct-hash aggregation; the k-th smallest
    comes from a TakeOrdered({KMV_K}) — never a global sort.  At
    cluster scale KMV sketches MERGE by unioning hash sets and
    re-taking the k minimum (re-aggregatable like the HLL rollup)."""
    legs = []
    for label in _KMV_VALUES:
        table = {
            "doc_tokens": "documents",
            "event_users": "events",
            "order_customers": "orders",
        }[label]
        df = load_table(spark, table, sf_dir)
        if label == "doc_tokens":
            vals = df.select(
                F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("v")
            )
        elif label == "event_users":
            vals = df.select(F.col("user_id").alias("v"))
        else:
            vals = df.select(F.col("o_custkey").alias("v"))
        h = tx.seeded_hash64(tx.SPARK, "CAST(v AS STRING)", "kmv")
        # distinct hashes == distinct values (a 60-bit md5-prefix collision
        # over these cardinalities is ~1e-9; the oracle computes the
        # identical quantity either way)
        hashes, n_exact = materialize(vals.select(F.expr(h).alias("h")).distinct())
        topk = hashes.orderBy(F.asc("h")).limit(KMV_K)
        est_expr = (
            f"CAST((CAST({KMV_K - 1} AS DECIMAL(19,0)) * {KMV_HASH_MAX}) "
            f"div hk AS BIGINT)"
        )
        leg = topk.agg(F.max("h").alias("hk")).select(
            F.lit(label).alias("col_name"),
            F.lit(n_exact).cast("bigint").alias("n_exact"),
            F.expr(
                f"CASE WHEN {n_exact} < {KMV_K} THEN CAST({n_exact} AS BIGINT) "
                f"ELSE {est_expr} END"
            ).alias("kmv_estimate"),
        )
        legs.append(leg)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.select(
        "col_name",
        "n_exact",
        "kmv_estimate",
        F.expr(
            tx.floor_scaled_div(
                tx.SPARK, "abs(kmv_estimate - n_exact)", "n_exact", 1_000_000
            )
        )
        .cast("bigint")
        .alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of the daily revenue series
# ---------------------------------------------------------------------------

HAAR_LEVELS = 12  # 2^12 = 4096 slots cover the calendar-bounded day domain
HAAR_UNIT_DIV = 100_000  # $1000 quanta — the binseg bound (total <= ~$3e12)


def _haar_oracle() -> str:
    ctes = [
        f"""daily AS (
      SELECT o_orderdate AS day,
             (sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              // {HAAR_UNIT_DIV})::BIGINT AS v
      FROM orders GROUP BY o_orderdate
    )""",
        """l0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY day) AS i, v FROM daily
    )""",
    ]
    rows = []
    for k in range(1, HAAR_LEVELS + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
      SELECT (i + 1) // 2 AS i,
             sum(v)::BIGINT AS v,
             sum(CASE WHEN i % 2 = 1 THEN v ELSE -v END)::BIGINT AS d
      FROM l{k - 1} GROUP BY (i + 1) // 2
    )"""
        )
        rows.append(
            f"""SELECT {k}::BIGINT AS level,
           count(*)::BIGINT AS n_pairs,
           sum(d * d)::BIGINT AS detail_energy FROM l{k}"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(rows)
    )


@_register("haar_energy_daily", _haar_oracle())
def q_haar_energy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition (unnormalized integer Haar) of
    the daily revenue series: per level k, the pairwise detail
    d = v_odd - v_even and its energy Σd² — which TIME SCALES (days,
    fortnights, ... ~decade at level {HAAR_LEVELS}) carry the series'
    variance, the multi-resolution periodicity audit.

    The transform is the exact integer butterfly: level k's slots are
    the pairwise sums of level k-1 (missing partners behave as zero —
    Spark/DuckDB groupBy semantics implement the zero-padding
    implicitly and identically), details the pairwise differences.
    Unnormalized (no /sqrt(2)): each level's energy carries a 2^k gain,
    documented rather than divided out, so everything stays BIGINT.

    Determinism: pure integer sums/differences over row_number slots
    ordered by day (a total order).

    BIGINT bound (wave convention): the top-level approximations
    approach the series total, so d² wraps past total revenue ~3e9
    units (~$3e12 at HAAR_UNIT_DIV={HAAR_UNIT_DIV}) — the binseg bound;
    coarser units or DECIMAL(38,0) past it.

    Scale: the day rollup shuffles once; all {HAAR_LEVELS} butterfly
    levels run on the calendar-bounded day frame (<= 4096 slots, the
    domain-bounded single-partition contract).

    Single-pass form (r15 optimization): the oracle's chained-CTE
    butterfly expands each level's detail in closed form over level 0 —
    d_k(block j) = Σ_i ±v_i with the sign decided by which half of the
    2^k block slot i falls in (parent slot ceil(i/2^(k-1)) odd → +).
    The engine therefore explodes each day row into its {HAAR_LEVELS}
    (level, block, ±v) contributions and aggregates ONCE per level —
    2 tiny groupBys total instead of 12 chained per-level aggregates
    re-printed into 12 union legs (the old plan re-derived the orders
    rollup in every leg: 48 Exchanges → 4).  n_pairs = blocks at level
    k = ceil(n/2^k), exactly the oracle's row count of l_k (slots are
    contiguous 1..n, missing partners behave as zero in both forms);
    sums/signs are the same exact integers, so results are identical."""
    daily = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
                f" div {HAAR_UNIT_DIV} AS BIGINT)"
            ).alias("v")
        )
    )
    slots = daily.select(
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("i"),
        "v",
    )
    contrib = slots.select(
        F.explode(F.expr(f"sequence(1, {HAAR_LEVELS})")).alias("level"),
        "i",
        "v",
    ).select(
        F.col("level").cast("bigint").alias("level"),
        F.expr(
            "(i + shiftleft(CAST(1 AS BIGINT), level) - 1)"
            " div shiftleft(CAST(1 AS BIGINT), level)"
        ).alias("block"),
        F.expr(
            "CASE WHEN ((i + shiftleft(CAST(1 AS BIGINT), level - 1) - 1)"
            " div shiftleft(CAST(1 AS BIGINT), level - 1)) % 2 = 1"
            " THEN v ELSE -v END"
        ).alias("sv"),
    )
    details = contrib.groupBy("level", "block").agg(
        F.sum("sv").cast("bigint").alias("d")
    )
    return details.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.expr("d * d")).cast("bigint").alias("detail_energy"),
    )


# ---------------------------------------------------------------------------
# Additive seasonal decomposition of the daily revenue series
# ---------------------------------------------------------------------------

SEAS_W = 7  # centered weekly moving average (x7-scaled: exact integers)


def _seas_oracle() -> str:
    fsd = tx.floor_scaled_div
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS day, {tx.epoch_day(tx.DUCK, "o_orderdate")} AS ed,
             (sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              // {HAAR_UNIT_DIV})::BIGINT AS v
      FROM orders GROUP BY o_orderdate
    ),
    ma AS (
      SELECT day, ed, v,
             sum(v) OVER w AS trend_x7,
             count(*) OVER w AS wn
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT (ed + 4) % 7 AS dow, {SEAS_W} * v - trend_x7 AS dx7
      FROM ma WHERE wn = {SEAS_W}
    ),
    seas AS (
      SELECT dow, count(*)::BIGINT AS n_days,
             sum(dx7)::BIGINT AS sum_dx7,
             (CASE WHEN sum(dx7) >= 0
                   THEN {fsd(tx.DUCK, "sum(dx7)", "count(*)", 1)}
                   ELSE -{fsd(tx.DUCK, "-sum(dx7)", "count(*)", 1)} END)::BIGINT
               AS seasonal_x7
      FROM detr GROUP BY dow
    )
    SELECT s.dow::BIGINT AS dow, s.n_days, s.seasonal_x7,
           (SELECT sum(abs(d.dx7 - s.seasonal_x7))
            FROM detr d WHERE d.dow = s.dow)::BIGINT AS abs_remainder_x7
    FROM seas s
    """


@_register("seasonal_decomposition_daily", _seas_oracle())
def q_seasonal_decomposition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic additive seasonal decomposition of daily revenue
    (the decompose() textbook recipe): trend = centered {SEAS_W}-day
    moving average, seasonal = day-of-week mean of the detrended
    series, remainder = what's left — reported per day-of-week with the
    total absolute remainder (how much the weekly model leaves
    unexplained).

    Everything x{SEAS_W}-SCALED so the moving average is an exact
    integer (sum over the full window instead of sum/7): detrended
    d = 7v - Σ_window v; edge days with a partial window are out of
    scope (wn = {SEAS_W} filter, the standard centered-MA trim).  The
    per-dow mean enters through ONE sign-symmetric floor (quantization
    toward zero, mirrored in both engines).

    Determinism: day-of-week is epoch-day arithmetic; sums exact
    integers; the only division is the documented per-dow mean floor.

    Scale: one day rollup shuffle; the MA window and dow rollup run on
    the calendar-bounded day frame (domain-bounded single-partition
    contract).  BIGINT bound: same as binseg/haar (total <= ~3e9
    units)."""
    fsd = tx.floor_scaled_div
    daily = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
                f" div {HAAR_UNIT_DIV} AS BIGINT)"
            ).alias("v")
        )
        .withColumn("ed", F.expr(tx.epoch_day(tx.SPARK, "day")))
    )
    w = W.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "ed",
        "v",
        F.sum("v").over(w).cast("bigint").alias("trend_x7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("wn"),
    )
    detr = ma.filter(F.col("wn") == SEAS_W).select(
        F.expr("(ed + 4) % 7").alias("dow"),
        F.expr(f"{SEAS_W} * v - trend_x7").cast("bigint").alias("dx7"),
    ).persist()
    seas = detr.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dx7").cast("bigint").alias("sum_dx7"),
    ).withColumn(
        "seasonal_x7",
        F.expr(
            f"CAST(CASE WHEN sum_dx7 >= 0 THEN {fsd(tx.SPARK, 'sum_dx7', 'n_days', 1)} "
            f"ELSE -{fsd(tx.SPARK, '-sum_dx7', 'n_days', 1)} END AS BIGINT)"
        ),
    )
    return (
        detr.join(F.broadcast(seas), "dow")
        .groupBy("dow", "n_days", "seasonal_x7")
        .agg(
            F.sum(F.expr("abs(dx7 - seasonal_x7)"))
            .cast("bigint")
            .alias("abs_remainder_x7")
        )
        .select("dow", "n_days", "seasonal_x7", "abs_remainder_x7")
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (MOSS) + shared-fingerprint pairs
# ---------------------------------------------------------------------------

WIN_K = 3  # word k-grams hashed
WIN_W = 4  # winnowing window (guarantee: any >= w+k-1-gram match is caught)
WIN_TOPK = 50


def _winnow_selected(dialect: str) -> str:
    """The rightmost-minimum winnowing selection as pure lag/lead CASE
    logic (window w={WIN_W} unrolled): position p is selected iff some
    full in-document window [j, j+w-1] has h_p as its RIGHTMOST minimum
    — equivalently, with a = consecutive predecessors >= h and
    b = consecutive successors > h (both truncated at w-1),
    max(1, p-a, p-{WIN_W - 1}) <= min(p, n-{WIN_W - 1}, p-{WIN_W - 1}+b)."""
    a = (
        "(CASE WHEN l1 IS NULL OR l1 < h THEN 0 "
        "WHEN l2 IS NULL OR l2 < h THEN 1 "
        "WHEN l3 IS NULL OR l3 < h THEN 2 ELSE 3 END)"
    )
    b = (
        "(CASE WHEN r1 IS NULL OR r1 <= h THEN 0 "
        "WHEN r2 IS NULL OR r2 <= h THEN 1 "
        "WHEN r3 IS NULL OR r3 <= h THEN 2 ELSE 3 END)"
    )
    g = "greatest(1, p - {a}, p - 3)".format(a=a)
    l_ = "least(p, n - 3, p - 3 + {b})".format(b=b)
    return f"({g} <= {l_})"


def _pos_grams(dialect: str, toks: str) -> str:
    """POSITIONAL word {WIN_K}-gram sequence (duplicates KEPT, order
    preserved) — word_shingles() is a distinct SET (and DuckDB's
    list_distinct reorders), which would destroy exactly what winnowing
    is about."""
    if dialect == tx.SPARK:
        joined = " , ".join(f"{toks}[i + {j}]" for j in range(WIN_K))
        return (
            f"CASE WHEN size({toks}) >= {WIN_K} THEN "
            f"transform(sequence(0, size({toks}) - {WIN_K}), "
            f"i -> concat_ws(' ', {joined})) "
            f"ELSE array() END"
        )
    joined = " || ' ' || ".join(f"{toks}[i + {j + 1}]" for j in range(WIN_K))
    return (
        f"CASE WHEN len({toks}) >= {WIN_K} THEN "
        f"list_transform(generate_series(0, len({toks}) - {WIN_K}), "
        f"i -> {joined}) ELSE [] END"
    )


def _winnow_fp_sql(dialect: str) -> str:
    """(doc_id, fph) fingerprint relation CTE body for either dialect —
    over DISTINCT texts (rep = min doc_id per exact text): exact
    duplicates collapse before fingerprinting (the fellegi_sunter /
    edit_distance two-layer rule; exact-dup detection is dedup_exact's
    job upstream, and replica-heavy corpora would otherwise make the
    pair stage quadratic — measured 215 s at sf1.0synth pre-collapse)."""
    # DuckDB-only: the Spark side goes through _winnow_fp_frame (which
    # applies the same reps collapse).  A Spark-dialect branch used to
    # live here but was dead AND missing the collapse — divergent dead
    # code is worse than no code (r12 advice), so it's gone.
    assert dialect == tx.DUCK, "Spark side uses _winnow_fp_frame"
    toks = tx.tokens(dialect, "text")
    sh = _pos_grams(dialect, "toks")
    grams = f"""
    reps AS (
      SELECT min(doc_id) AS doc_id, any_value(text) AS text
      FROM documents GROUP BY md5(text)
    ),
    g AS (
      SELECT doc_id, u.i AS p,
             {tx.seeded_hash64(tx.DUCK, "gs[u.i]", "winnow")} AS h
      FROM (SELECT doc_id, {sh} AS gs
            FROM (SELECT doc_id, {toks} AS toks FROM reps)),
           unnest(generate_series(1, len(gs))) AS u(i)
    )"""
    return f"""{grams},
    lagged AS (
      SELECT doc_id, p, h,
             lag(h, 1) OVER w AS l1, lag(h, 2) OVER w AS l2,
             lag(h, 3) OVER w AS l3,
             lead(h, 1) OVER w AS r1, lead(h, 2) OVER w AS r2,
             lead(h, 3) OVER w AS r3,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM g
      WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ),
    fp AS (
      SELECT DISTINCT doc_id, h AS fph
      FROM lagged WHERE {_winnow_selected(dialect)}
    )"""


def _winnow_oracle() -> str:
    from pedri_analysis_spark.plans.dedup_queries import MAX_BUCKET

    return f"""
    WITH {_winnow_fp_sql(tx.DUCK)},
    bn AS (SELECT fph, count(*)::BIGINT AS bucket_n FROM fp GROUP BY fph)
    SELECT a.doc_id AS a, b.doc_id AS b, count(*)::BIGINT AS n_shared
    FROM fp a
    JOIN bn ON bn.fph = a.fph AND bn.bucket_n <= {MAX_BUCKET}
    JOIN fp b ON b.fph = a.fph AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY n_shared DESC, a ASC, b ASC
    LIMIT {WIN_TOPK}
    """


def _winnow_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, fph) fingerprint frame — factored out so the
    brute-force cross-validation test can pin the SELECTION itself, not
    just the end-to-end pair counts."""
    toks = tx.tokens(tx.SPARK, "text")
    sh = _pos_grams(tx.SPARK, "toks")
    reps = (
        load_table(spark, "documents", sf_dir)
        .groupBy(F.expr("md5(text)").alias("th"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.any_value(F.col("text")).alias("text"),
        )
        .select("doc_id", "text")
    )
    grams = (
        reps.select("doc_id", F.expr(toks).alias("toks"))
        .select("doc_id", F.expr(sh).alias("gs"))
        .select("doc_id", F.posexplode("gs").alias("p0", "gv"))
        .select(
            "doc_id",
            (F.col("p0") + 1).alias("p"),
            F.expr(tx.seeded_hash64(tx.SPARK, "gv", "winnow")).alias("h"),
        )
    )
    w = W.partitionBy("doc_id").orderBy("p")
    wall = W.partitionBy("doc_id")
    lagged = grams.select(
        "doc_id",
        "p",
        "h",
        F.lag("h", 1).over(w).alias("l1"),
        F.lag("h", 2).over(w).alias("l2"),
        F.lag("h", 3).over(w).alias("l3"),
        F.lead("h", 1).over(w).alias("r1"),
        F.lead("h", 2).over(w).alias("r2"),
        F.lead("h", 3).over(w).alias("r3"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return (
        lagged.filter(F.expr(_winnow_selected(tx.SPARK)))
        .select("doc_id", F.col("h").alias("fph"))
        .distinct()
    )


@_register("winnowing_fingerprints", _winnow_oracle())
def q_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str, *, max_bucket: int | None = None
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local fingerprinting algorithm): hash every word
    {WIN_K}-gram, slide a window of {WIN_W} consecutive hashes, keep
    each window's RIGHTMOST minimum — the fingerprint set whose
    guarantee is that any shared run of >= {WIN_W + WIN_K - 1} tokens
    between two documents shares at least one fingerprint.  Reported:
    the top-{WIN_TOPK} document pairs by shared-fingerprint count, the
    MOSS originality report.

    The rightmost-minimum selection is expressed RELATIONALLY (no
    per-document Python): with a = consecutive predecessors >= h and
    b = consecutive successors > h (lag/lead unrolled for w={WIN_W}),
    position p is selected iff a full in-document window exists with
    p as rightmost min — max(1, p-a, p-3) <= min(p, n-3, p-3+b),
    pinned against a brute-force Python winnower in
    tests/test_draft_r15.py.

    Determinism: seeded 60-bit gram hashes; ties between EQUAL hashes
    (repeated grams) resolve by the rightmost rule itself, which is
    position-based and total.

    Scale: fingerprints run over DISTINCT texts (rep = min doc_id per
    exact text — the fellegi_sunter/edit_distance two-layer rule;
    measured 215 s -> ~2 s at sf1.0synth, where every doc has 10 exact
    replicas); grams and the lag frame are one narrow per-document
    window pass (document-sized partitions); the pair stage joins
    fingerprint postings under the shared minhash drop cap
    (dedup_queries.MAX_BUCKET — over-common fingerprints are stop-gram
    noise by construction); TakeOrdered({WIN_TOPK}) caps the report.
    Expected fingerprint density is 2/(w+1) of grams for distinct
    hashes (Schleimer Thm 2) — higher here only where synthetic docs
    repeat grams."""
    from pedri_analysis_spark.plans.dedup_queries import MAX_BUCKET

    if max_bucket is None:  # explicit for tools/chunk_recall (ADVICE r11)
        max_bucket = MAX_BUCKET
    fp, _ = materialize(_winnow_fp_frame(spark, sf_dir))  # feeds the rollup + both joins
    bn = fp.groupBy("fph").agg(F.count(F.lit(1)).cast("bigint").alias("bucket_n"))
    a = fp.select(F.col("doc_id").alias("a"), "fph")
    b = fp.select(F.col("doc_id").alias("b"), F.col("fph").alias("fpb"))
    return (
        a.join(bn.filter(F.col("bucket_n") <= max_bucket), "fph")
        .join(b, (F.col("fpb") == F.col("fph")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .orderBy(F.desc("n_shared"), F.asc("a"), F.asc("b"))
        .limit(WIN_TOPK)
    )
