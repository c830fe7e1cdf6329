"""Draft queries staged for r18 registration (NOT in the registry).

Staged-draft protocol (established r10→r17): fully implemented,
oracle-paired, plan-invariant-pinned and proven green by
tests/test_draft_r18.py under the driver-identical comparison in the
round that stages them; registering later is one line in
``registry._modules`` (see COVERAGE.md "Registration-window plan").

Families and the public designs they implement:
- shapley_attribution_exact — EXACT Shapley-value marketing attribution
  (Shapley 1953; Zhao et al. 2018 for the exposure-set formulation):
  with a fixed 4-channel universe the 2⁴ coalition values are
  domain-bounded, so the factorial-weighted sum runs in exact integer
  rationals over 24 — no sampling, no approximation.  The principled
  alternative to attribution_linear_touch's equal split.
- selfjoin_cardinality_estimate — equi-join output-size estimation from
  a deterministic hash sample of keys (the planner's join-cardinality
  problem): Σ c(k)² estimated from a 1/64 key sample, audited against
  the exact sum in the same row.
- bloom_semijoin_reduction — runtime-filter effectiveness audit: push
  the r13 Bloom filter (same m/k/seeds) from a dimension's keys into a
  FACT-table scan and measure rows passed vs the exact semi-join —
  the measured version of Spark's own runtime bloom-filter join
  pruning, with the false-pass rate among true non-matches.

Added in the r15 session (same staging discipline):
- isotonic_calibration_pava — monotone calibration of the finalization
  rate on price buckets via the exact PAVA minimax closed form.
- cochran_armitage_trend — linear trend in a binary rate across the
  ordered priority classes (the binary cousin of Jonckheere-Terpstra).
- misra_gries_heavy_tokens — deterministic Misra-Gries / SpaceSaving
  heavy-hitter summary (Misra & Gries 1982; Metwally 2005) over the
  token stream in its order-free BATCH form: truncate exact counts at
  the (k+1)-th largest, which satisfies the same ≤ N/(k+1) error
  bound every merge order of streaming MG guarantees — the
  DETERMINISTIC sketch beside count-min's probabilistic one (CMS
  over-counts with probability; MG under-counts with certainty).

Reference parity: none of these exist in the reference engine — they
extend the training-data-pipeline / analytics surface per SURVEY.md
§2's "beyond the reference" mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.relational import QueryFn
from pedri_analysis_spark.sources.tables import load_table

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


_IDIV = {tx.DUCK: "//", tx.SPARK: "div"}


# ---------------------------------------------------------------------------
# Exact Shapley-value channel attribution over exposure sets
# ---------------------------------------------------------------------------

SHAP_CHANNELS = ("click", "view", "signup", "error")  # bit 0..3
SHAP_CONVERT = "purchase"
# |S|!·(n-1-|S|)! for n = 4 — the Shapley weight numerators over n! = 24
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}


def _shap_mask(dialect: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN max(CASE WHEN event_type = '{ch}' THEN 1 ELSE 0 END) = 1 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(SHAP_CHANNELS)
    )
    return f"({bits})"


def _shap_sql(dialect: str) -> str:
    n_ch = len(SHAP_CHANNELS)
    n_masks = 1 << n_ch
    fsd = tx.floor_scaled_div
    d = _IDIV[dialect]
    # one row per user -> exposure mask + converted flag
    per_mask_cols = ", ".join(
        f"sum(CASE WHEN mask = {m} THEN 1 ELSE 0 END) AS u{m}, "
        f"sum(CASE WHEN mask = {m} AND conv = 1 THEN 1 ELSE 0 END) AS c{m}"
        for m in range(n_masks)
    )
    # v(S) in ppm; empty-population coalitions contribute 0 (documented
    # convention, mirrored verbatim in both dialects)
    v = {
        m: f"(CASE WHEN u{m} > 0 THEN {fsd(dialect, f'c{m}', f'u{m}', 1_000_000)} ELSE 0 END)"
        for m in range(n_masks)
    }
    legs = []
    for i, ch in enumerate(SHAP_CHANNELS):
        terms = []
        for m in range(n_masks):
            if m & (1 << i):
                continue
            w = _SHAP_W[bin(m).count("1")]
            terms.append(f"{w} * (({v[m | (1 << i)]}) - ({v[m]}))")
        num = " + ".join(terms)
        phi = (
            f"CAST(CASE WHEN ({num}) >= 0 THEN ({num}) {d} 24 "
            f"ELSE -((-({num})) {d} 24) END AS BIGINT)"
        )
        legs.append(
            f"SELECT '{ch}' AS channel, CAST({1 << i} AS BIGINT) AS bit, "
            f"{phi} AS shapley_ppm FROM cells"
        )
    body = "\n      UNION ALL\n".join(legs)
    return f"""
    WITH usr AS (
      SELECT user_id, {_shap_mask(dialect)} AS mask,
             max(CASE WHEN event_type = '{SHAP_CONVERT}' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    cells AS (SELECT {per_mask_cols} FROM usr)
    SELECT channel, bit, shapley_ppm FROM ({body})
    ORDER BY bit
    """


@_register("shapley_attribution_exact", _shap_sql(tx.DUCK))
def q_shapley_attribution_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953; the
    exposure-set game of Zhao et al. 2018): each user's touched
    channel set is a 4-bit mask, v(S) is the observed conversion rate
    of users exposed to exactly S, and channel c's credit is
    φ_c = Σ_S |S|!·(3−|S|)!/4! · (v(S∪c) − v(S)) — the fairness-
    axiomatic alternative to attribution_linear_touch's equal split,
    computed EXACTLY because the 4-channel universe bounds the
    coalition lattice at 16 cells (no Monte-Carlo permutations).

    Determinism: v(S) quantizes to ppm with one documented floor per
    coalition (empty coalitions contribute v := 0 by the mirrored
    convention); the factorial weights are integer numerators over
    4! = 24 and the final division is sign-split truncating (the ARI
    pattern) so negative credits cannot round differently across
    engines.

    Scale: one groupBy user (map-side combinable CASE maxes), one
    16-cell rollup, then pure literal arithmetic — the coalition
    lattice is CONSTANT in corpus size; at k channels the 2^k cells
    stay driver-free as one aggregate row until k ~ 20 (the named
    lever: beyond that, sampled-permutation Shapley)."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type")
    ev.createOrReplaceTempView("events_shap")
    return spark.sql(
        _shap_sql(tx.SPARK).replace("FROM events GROUP BY", "FROM events_shap GROUP BY")
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation from a deterministic key sample
# ---------------------------------------------------------------------------

SJC_SAMPLE_MOD = 64  # 1-in-64 key sample (seeded hash), scale-up factor


def _sjc_sql(dialect: str) -> str:
    cast = "STRING" if dialect == tx.SPARK else "VARCHAR"
    h = tx.seeded_hash64(dialect, f"CAST(user_id AS {cast})", "sjc")
    fsd = tx.floor_scaled_div
    return f"""
    WITH kc AS (
      SELECT user_id, count(*) AS c, ({h} % {SJC_SAMPLE_MOD}) AS cell
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT sum(c * c) AS exact_pairs,
             sum(CASE WHEN cell = 0 THEN c * c ELSE 0 END)
               * {SJC_SAMPLE_MOD} AS est_pairs,
             count(*) AS n_keys,
             sum(CASE WHEN cell = 0 THEN 1 ELSE 0 END) AS n_sampled
      FROM kc
    )
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_sampled AS BIGINT) AS n_sampled,
           CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST(est_pairs AS BIGINT) AS est_pairs,
           CAST({fsd(dialect,
                     "CASE WHEN est_pairs >= exact_pairs THEN est_pairs - exact_pairs ELSE exact_pairs - est_pairs END",
                     "exact_pairs", 1_000_000)} AS BIGINT) AS err_ppm
    FROM agg
    """


@_register("selfjoin_cardinality_estimate", _sjc_sql(tx.DUCK))
def q_selfjoin_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join output-cardinality estimation — the cost-model number
    every join reorder decision hangs on: |R ⋈_k R| = Σ_k c(k)²,
    estimated from a deterministic 1-in-{SJC_SAMPLE_MOD} HASH sample of
    the key domain (sampling KEYS, not rows — row sampling biases c²
    estimates downward; key sampling is unbiased for Σc² because each
    key's full count survives or not as a unit), audited against the
    exact sum in the same row.  The estimator a planner would run on
    the events.user_id self-join (skew-driven: hot users dominate Σc²).

    Determinism: the sample is seeded_hash64 % {SJC_SAMPLE_MOD} = 0 —
    both engines pick the identical key subset; counts and squares are
    exact integers; the error column is one floor-scaled division.

    Scale: one groupBy on the key with map-side combine; the estimate
    needs only the sampled cell, so a production planner computes it
    from the 1/{SJC_SAMPLE_MOD} slice WITHOUT the full rollup — here
    both run to make the audit exact."""
    ev = load_table(spark, "events", sf_dir).select("user_id")
    ev.createOrReplaceTempView("events_sjc")
    return spark.sql(
        _sjc_sql(tx.SPARK).replace("FROM events GROUP BY", "FROM events_sjc GROUP BY")
    )


# ---------------------------------------------------------------------------
# Bloom runtime-filter semi-join reduction audit
# ---------------------------------------------------------------------------


def _bsr_sql(dialect: str) -> str:
    from pedri_analysis_spark.plans.draft_r13 import (
        BLOOM_BUILD_SEG,
        BLOOM_K,
        _bloom_pos,
    )

    fsd = tx.floor_scaled_div
    probe_pos = " UNION ALL ".join(
        f"SELECT o_orderkey, o_custkey, {_bloom_pos(dialect, 'o_custkey', i)} AS pos "
        f"FROM orders"
        for i in range(BLOOM_K)
    )
    build_pos = " UNION ALL ".join(
        f"SELECT {_bloom_pos(dialect, 'c_custkey', i)} AS pos FROM build"
        for i in range(BLOOM_K)
    )
    return f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_BUILD_SEG}'
    ),
    bits AS (SELECT DISTINCT pos FROM ({build_pos})),
    pp AS ({probe_pos}),
    passed AS (
      SELECT p.o_orderkey, p.o_custkey
      FROM pp p JOIN bits b ON b.pos = p.pos
      GROUP BY p.o_orderkey, p.o_custkey
      HAVING count(*) = {BLOOM_K}
    ),
    truth AS (
      SELECT o.o_orderkey
      FROM orders o JOIN build d ON d.c_custkey = o.o_custkey
    ),
    stats AS (
      SELECT (SELECT count(*) FROM orders) AS n_fact,
             (SELECT count(*) FROM build) AS n_dim,
             (SELECT count(*) FROM truth) AS n_true_match,
             (SELECT count(*) FROM passed) AS n_pass_bloom
    )
    SELECT CAST(n_fact AS BIGINT) AS n_fact,
           CAST(n_dim AS BIGINT) AS n_dim,
           CAST(n_true_match AS BIGINT) AS n_true_match,
           CAST(n_pass_bloom AS BIGINT) AS n_pass_bloom,
           CAST(n_pass_bloom - n_true_match AS BIGINT) AS n_false_pass,
           CAST({fsd(dialect, "n_fact - n_pass_bloom", "n_fact", 1_000_000)}
             AS BIGINT) AS scan_reduction_ppm,
           CAST(CASE WHEN n_fact - n_true_match > 0
                THEN {fsd(dialect, "n_pass_bloom - n_true_match",
                          "n_fact - n_true_match", 1_000_000)}
                ELSE 0 END AS BIGINT) AS false_pass_ppm
    FROM stats
    """


@_register("bloom_semijoin_reduction", _bsr_sql(tx.DUCK))
def q_bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join-pruning effectiveness: build the r13
    Bloom filter (same m/k/seeds as bloom_filter_fpr_audit) over the
    BUILDING customers and push it into the orders scan, then report
    rows passed vs the EXACT semi-join — the measured version of the
    runtime row-filter Spark injects under
    spark.sql.optimizer.runtime.bloomFilter (and Delta/Iceberg dynamic
    file pruning): scan_reduction is what the filter saves,
    false_pass_ppm (false passes over true non-matches) is what its
    FPR costs, and a deployment tunes m against exactly these two.

    Determinism: identical seeded positions in both engines; a fact
    row passes iff all {3} of its positions hit the DISTINCT-position
    table (an exact bit-set representation); every output is integer
    counting with two guarded floor divisions.

    Scale: the bit table is ≤ m rows, broadcast; the probe side is one
    linear pass with a k-way position expansion and a per-row rollup
    keyed on (orderkey, custkey) — one shuffle; the truth side is one
    broadcast semi-join.  Exactly the topology the engine's own
    runtime filter compiles to."""
    from pedri_analysis_spark.plans.draft_r13 import (
        BLOOM_BUILD_SEG,
        BLOOM_K,
        _bloom_pos,
    )

    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    build = cust.filter(F.col("c_mktsegment") == BLOOM_BUILD_SEG).select("c_custkey")
    bpos = F.array(
        *[F.expr(_bloom_pos(tx.SPARK, "c_custkey", i)) for i in range(BLOOM_K)]
    )
    opos = F.array(
        *[F.expr(_bloom_pos(tx.SPARK, "o_custkey", i)) for i in range(BLOOM_K)]
    )
    bits = build.select(F.explode(bpos).alias("pos")).distinct()
    pp = orders.select("o_orderkey", "o_custkey", F.explode(opos).alias("pos"))
    passed = (
        pp.join(F.broadcast(bits.withColumnRenamed("pos", "bpos")),
                F.col("pos") == F.col("bpos"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == BLOOM_K)
    )
    truth = orders.join(F.broadcast(build),
                        orders["o_custkey"] == build["c_custkey"], "left_semi")
    stats = (
        orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_fact"))
        .crossJoin(F.broadcast(build.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dim"))))
        .crossJoin(F.broadcast(truth.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true_match"))))
        .crossJoin(F.broadcast(passed.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pass_bloom"))))
    )
    fsd = tx.floor_scaled_div
    return stats.select(
        "n_fact", "n_dim", "n_true_match", "n_pass_bloom",
        F.expr("CAST(n_pass_bloom - n_true_match AS BIGINT)").alias("n_false_pass"),
        F.expr(
            f"CAST({fsd(tx.SPARK, 'n_fact - n_pass_bloom', 'n_fact', 1_000_000)} "
            f"AS BIGINT)"
        ).alias("scan_reduction_ppm"),
        F.expr(
            f"CAST(CASE WHEN n_fact - n_true_match > 0 THEN "
            f"{fsd(tx.SPARK, 'n_pass_bloom - n_true_match', 'n_fact - n_true_match', 1_000_000)} "
            f"ELSE 0 END AS BIGINT)"
        ).alias("false_pass_ppm"),
    )


# ---------------------------------------------------------------------------
# ERR@10: Expected Reciprocal Rank of BM25 under graded gold (added r14)
# ---------------------------------------------------------------------------

ERR_K = 10
ERR_LCM = 2520  # lcm(1..10) — the MAP@10 exact-fraction denominator
ERR_GMAX_POW = 4  # 2^g_max with grades g in {0,1,2}: R = (2^g - 1)/4
# common denominator of the exact cascade: lcm(1..10) * 4^10
ERR_DEN = ERR_LCM * ERR_GMAX_POW**ERR_K
ERR_SHARDS = 16  # stage-1 local top-k shards (the map_bm25_eval pattern)

# 4^z and 3^o for prefix exponents z, o <= 9 — literal ladders, exact
_ERR_POW4 = " ".join(f"WHEN {z} THEN {4**z}" for z in range(ERR_K))
_ERR_POW3 = " ".join(f"WHEN {o} THEN {3**o}" for o in range(ERR_K))


def _err_gain_term(k_col: str, g_col: str, z_col: str, o_col: str) -> str:
    """One cascade term in the exact integer rationalization: term_r =
    (LCM/r) * (2^g - 1) * 4^(K-r) * 4^z * 3^o, where z/o count the
    grade-0/grade-1 docs ranked BEFORE r (prefix of the continuation
    product).  IDENTICAL text in both dialects."""
    pow_kr = " ".join(f"WHEN {k} THEN {4 ** (ERR_K - k)}" for k in range(1, ERR_K + 1))
    lcm_r = " ".join(f"WHEN {k} THEN {ERR_LCM // k}" for k in range(1, ERR_K + 1))
    gain = f"(CASE {g_col} WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)"
    # r14 advice: the all-INT32-literal product peaks at 2520*3*4^9 ≈
    # 1.98e9, only ~8% under INT32 max — a future constant bump would
    # silently wrap in non-ANSI Spark.  CAST the first factor to BIGINT
    # so the whole ladder product is computed 64-bit in both dialects.
    return (
        f"CAST((CASE {k_col} {lcm_r} END) AS BIGINT) * {gain}"
        f" * (CASE {k_col} {pow_kr} END)"
        f" * (CASE {z_col} {_ERR_POW4} ELSE 0 END)"
        f" * (CASE {o_col} {_ERR_POW3} ELSE 0 END)"
    )


def _err_oracle() -> str:
    from pedri_analysis_spark.plans.draft_r13 import MRR_PHRASES
    from pedri_analysis_spark.plans.retrieval_queries import _term_micros, _tf

    df_cols = []
    legs = []
    for i, ph in enumerate(MRR_PHRASES):
        t1, t2 = ph.split(" ")
        df_cols.append(
            f"SUM(CASE WHEN list_contains(toks, '{t1}') THEN 1 ELSE 0 END)::BIGINT AS df_{i}a"
        )
        df_cols.append(
            f"SUM(CASE WHEN list_contains(toks, '{t2}') THEN 1 ELSE 0 END)::BIGINT AS df_{i}b"
        )
        score = (
            f"({_term_micros(_tf(tx.DUCK, t1), f'df_{i}a')}"
            f" + {_term_micros(_tf(tx.DUCK, t2), f'df_{i}b')})"
        )
        legs.append(
            f"""      SELECT '{ph}' AS phrase, doc_id, {score} AS score,
             CASE WHEN list_contains({tx.word_shingles(tx.DUCK, "toks", 2)}, '{ph}')
                  THEN 2
                  WHEN list_contains(toks, '{t1}') AND list_contains(toks, '{t2}')
                  THEN 1 ELSE 0 END AS grade
      FROM t2, stats"""
        )
    scored_legs = "\n      UNION ALL\n".join(legs)
    term = _err_gain_term("k", "grade", "z_pre", "o_pre")
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
    topk AS (
      SELECT phrase, grade,
             row_number() OVER (PARTITION BY phrase
                                ORDER BY score DESC, doc_id ASC) AS k
      FROM scored
      QUALIFY k <= {ERR_K}
    ),
    pre AS (
      SELECT phrase, k, grade,
             CAST(coalesce(sum(CASE WHEN grade = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY phrase ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS z_pre,
             CAST(coalesce(sum(CASE WHEN grade = 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY phrase ORDER BY k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS o_pre
      FROM topk
    )
    SELECT phrase,
           CAST(sum(CASE WHEN grade = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_grade2,
           CAST(sum(CASE WHEN grade = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_grade1,
           CAST(sum({term}) AS BIGINT) AS err_num,
           CAST((sum({term}) * CAST(1000000 AS BIGINT))
                // CAST({ERR_DEN} AS BIGINT) AS BIGINT) AS err_micro
    FROM pre
    GROUP BY phrase
    """


@_register("err_rankings_eval", _err_oracle())
def q_err_rankings_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERR@{ERR_K} — Expected Reciprocal Rank (Chapelle et al., CIKM
    2009), the cascade-model ranking metric that completes the
    MRR/NDCG/MAP/RBO/AP eval family: a user scans down, stops at a
    relevant doc with probability R_r = (2^g - 1)/2^g_max, and ERR =
    sum_r (1/r) R_r prod_(i<r) (1 - R_i) — unlike NDCG, a perfect doc
    at rank 1 SHIELDS everything below it.

    Graded gold (deterministic, data-derived): grade 2 = the exact
    bigram phrase occurs; grade 1 = both terms occur (bag match);
    grade 0 otherwise — the graded refinement of mrr/map's binary gold.

    Determinism: the whole cascade is ONE exact integer fraction over
    the literal denominator {ERR_LCM} * 4^{ERR_K}: each continuation
    (1 - R_i) = a_i/4 with a_i in (4, 3, 1), so the prefix product is
    4^z * 3^o with z/o cumulative counts of grade-0/grade-1 docs above
    rank r — two integer window sums and literal power ladders, zero
    nested quantization; err_micro is the single final floor.

    Scale: reuses the mrr/map scoring spine (one tokenize pass,
    broadcast 1-row stats, |phrases| flat legs); the per-phrase
    top-{ERR_K} is the two-stage sharded pattern (local row_number in
    {ERR_SHARDS} bounded shards, then a global window over <=
    {ERR_SHARDS}*{ERR_K} survivors) — never a corpus-sized single
    window partition."""
    from pedri_analysis_spark.plans.draft_r13 import MRR_PHRASES
    from pedri_analysis_spark.plans.retrieval_queries import _term_micros, _tf
    from pyspark.sql import Window as W

    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    t2 = toks.select(
        "doc_id", "toks", F.size("toks").cast("bigint").alias("dl")
    ).persist()
    t2.count()
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
    legs = []
    for i, ph in enumerate(MRR_PHRASES):
        t1, tb = ph.split(" ")
        score = (
            f"({_term_micros(_tf(tx.SPARK, t1), f'df_{i}a')}"
            f" + {_term_micros(_tf(tx.SPARK, tb), f'df_{i}b')})"
        )
        legs.append(
            t2.crossJoin(F.broadcast(stats)).select(
                F.lit(ph).alias("phrase"),
                "doc_id",
                F.expr(score).alias("score"),
                F.expr(
                    f"CASE WHEN array_contains("
                    f"{tx.word_shingles(tx.SPARK, 'toks', 2)}, '{ph}') THEN 2 "
                    f"WHEN array_contains(toks, '{t1}') "
                    f"AND array_contains(toks, '{tb}') THEN 1 ELSE 0 END"
                ).alias("grade"),
            )
        )
    scored = legs[0]
    for leg in legs[1:]:
        scored = scored.unionAll(leg)
    order = [F.desc("score"), F.asc("doc_id")]
    w_local = W.partitionBy(
        "phrase", F.expr(f"pmod(doc_id, {ERR_SHARDS})")
    ).orderBy(*order)
    w_global = W.partitionBy("phrase").orderBy(*order)
    topk = (
        scored.withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= ERR_K)
        .withColumn("k", F.row_number().over(w_global))
        .filter(F.col("k") <= ERR_K)
    )
    wpre = (
        W.partitionBy("phrase").orderBy("k").rowsBetween(W.unboundedPreceding, -1)
    )
    pre = topk.select(
        "phrase",
        "k",
        "grade",
        F.coalesce(
            F.sum(F.when(F.col("grade") == 0, 1).otherwise(0)).over(wpre),
            F.lit(0),
        )
        .cast("bigint")
        .alias("z_pre"),
        F.coalesce(
            F.sum(F.when(F.col("grade") == 1, 1).otherwise(0)).over(wpre),
            F.lit(0),
        )
        .cast("bigint")
        .alias("o_pre"),
    )
    term = _err_gain_term("k", "grade", "z_pre", "o_pre")
    return pre.groupBy("phrase").agg(
        F.sum(F.when(F.col("grade") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_grade2"),
        F.sum(F.when(F.col("grade") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_grade1"),
        F.sum(F.expr(term)).cast("bigint").alias("err_num"),
        F.expr(
            f"CAST((sum({term}) * CAST(1000000 AS BIGINT)) "
            f"div CAST({ERR_DEN} AS BIGINT) AS BIGINT)"
        ).alias("err_micro"),
    )


# ---------------------------------------------------------------------------
# Resource-Allocation link prediction over the copurchase graph (added r14)
# ---------------------------------------------------------------------------

RA_TOP = 20


def _ra_oracle() -> str:
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges_sql

    return f"""
    WITH {_copurchase_edges_sql()},
    adj AS (
      SELECT pa AS node, pb AS nb FROM e
      UNION ALL
      SELECT pb AS node, pa AS nb FROM e
    ),
    deg AS (SELECT node, count(*)::BIGINT AS dg FROM adj GROUP BY node),
    wedge AS (
      SELECT a1.nb AS x, a2.nb AS y, a1.node AS z
      FROM adj a1 JOIN adj a2 ON a2.node = a1.node AND a1.nb < a2.nb
    ),
    pred AS (
      SELECT w.x, w.y,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(CAST(1000000 AS BIGINT) // d.dg) AS BIGINT) AS ra_ppm
      FROM wedge w
      JOIN deg d ON d.node = w.z
      WHERE NOT EXISTS (
        SELECT 1 FROM e WHERE e.pa = w.x AND e.pb = w.y
      )
      GROUP BY w.x, w.y
    )
    SELECT x, y, n_common, ra_ppm
    FROM pred
    ORDER BY ra_ppm DESC, x ASC, y ASC
    LIMIT {RA_TOP}
    """


@_register("resource_allocation_links", _ra_oracle())
def q_resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lu & Zhang, EPJ B
    2009): for every NON-edge (x, y) of the copurchase graph, RA(x,y) =
    sum over common neighbours z of 1/deg(z) — the libm-free index that
    beat Adamic-Adar (1/log deg) in Zhou's benchmarks, here the exact
    rational complement to link_prediction_jaccard's set-overlap view
    (RA weights RARE hubs highest; Jaccard normalizes by union size).
    Top-{RA_TOP} predicted links with a total-order tie-break.

    Determinism: each common-neighbour term floors once to ppm
    (1e6 div deg(z), the documented per-term quantization — deg >= 2
    for any wedge centre, no guard needed); (ra_ppm DESC, x, y) is a
    total order.

    Scale: the wedge fan-out is the triangle_count/clustering_coef
    topology (sum deg(z)^2 bounded, never corpus x corpus) on the
    co_n >= threshold sparsified graph; existing edges leave via a
    hash ANTI join on the ordered pair (x < y matches the e
    representation directly); the top-{RA_TOP} is one
    TakeOrderedAndProject."""
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).select("pa", "pb").persist()
    adj = e.select(F.col("pa").alias("node"), F.col("pb").alias("nb")).unionByName(
        e.select(F.col("pb").alias("node"), F.col("pa").alias("nb"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("dg"))
    a1 = adj.select(F.col("node").alias("z"), F.col("nb").alias("x"))
    a2 = adj.select(F.col("node").alias("z"), F.col("nb").alias("y"))
    wedge = a1.join(a2, "z").filter(F.col("x") < F.col("y"))
    pred = (
        wedge.join(
            e.select(F.col("pa").alias("x"), F.col("pb").alias("y")),
            ["x", "y"],
            "left_anti",
        )
        .join(deg.withColumnRenamed("node", "z"), "z")
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(F.expr("CAST(1000000 AS BIGINT) div dg"))
            .cast("bigint")
            .alias("ra_ppm"),
        )
    )
    return pred.orderBy(
        F.desc("ra_ppm"), F.asc("x"), F.asc("y")
    ).limit(RA_TOP)


# ---------------------------------------------------------------------------
# CUPED variance-reduction audit over pre/post user revenue (added r14)
# ---------------------------------------------------------------------------

CUPED_DAY_US = 86_400_000_000
CUPED_SPLIT_DAYS = 15  # pre-period = first 15 days of the corpus window


def _cuped_hug(dialect: str, expr: str) -> str:
    if dialect == tx.DUCK:
        return f"CAST({expr} AS HUGEINT)"
    return f"CAST({expr} AS DECIMAL(38,0))"


def _cuped_sql(dialect: str) -> str:
    d = _IDIV[dialect]
    h = lambda e: _cuped_hug(dialect, e)  # noqa: E731
    ts_us = "epoch_us(ts)" if dialect == tx.DUCK else "ts_us"
    src = "events" if dialect == tx.DUCK else "cuped_events"
    nca = f"(CASE WHEN ncov >= 0 THEN ncov ELSE -ncov END)"
    th_abs = f"(({nca} * 1000000) {d} nvarx)"
    return f"""
    WITH ed AS (
      SELECT user_id, {ts_us} {d} {CUPED_DAY_US} AS day,
             CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                  THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                  ELSE 0 END AS c
      FROM {src}
    ),
    u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN day < (SELECT min(day) FROM ed)
                                       + {CUPED_SPLIT_DAYS}
                      THEN c ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN day >= (SELECT min(day) FROM ed)
                                        + {CUPED_SPLIT_DAYS}
                      THEN c ELSE 0 END) AS BIGINT) AS y
      FROM ed GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum({h('x')} * x) AS sxx, sum({h('y')} * y) AS syy,
             sum({h('x')} * y) AS sxy
      FROM u
    ),
    a AS (
      SELECT n,
             {h('n')} * sxy - {h('sx')} * sy AS ncov,
             {h('n')} * sxx - {h('sx')} * sx AS nvarx,
             {h('n')} * syy - {h('sy')} * sy AS nvary
      FROM s
    )
    SELECT n AS n_users,
           CAST(CASE WHEN nvarx > 0 THEN
                  CASE WHEN ncov >= 0 THEN {th_abs} ELSE -({th_abs}) END
                ELSE 0 END AS BIGINT) AS theta_micro,
           CAST(CASE WHEN nvarx > 0 AND nvary > 0
                THEN ({th_abs} * {nca}) {d} nvary
                ELSE 0 END AS BIGINT) AS var_reduction_ppm
    FROM a
    """


@_register("cuped_variance_reduction", _cuped_sql(tx.DUCK))
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data; Deng,
    Xu, Kohavi & Walker, WSDM 2013) over per-user purchase revenue:
    X = pre-period cents (first {CUPED_SPLIT_DAYS} corpus days), Y =
    post-period cents; theta = cov(X,Y)/var(X) is the adjustment
    coefficient and rho^2 = cov^2/(var(X) var(Y)) the variance-
    reduction fraction an A/B platform gains by shipping the adjusted
    metric Y - theta(X - mean X) — the experimentation-analytics audit
    next to the ab-eval family (lift_decile_gains, permutation test).

    Determinism: exact integer cents sums with 128-bit widening inside
    the power sums; theta floors once to micro with the sign branched
    BEFORE the truncating division (the Welch discipline), and the
    variance-reduction ppm is theta_abs_micro * |ncov| div nvary — by
    Cauchy-Schwarz <= 1e6 exactly, two documented floors.  Guards:
    zero pre- or post-variance branches before dividing.

    Scale: one scan to per-user pre/post sums (ONE groupBy), one 6-sum
    aggregate row; the corpus-start day is an uncorrelated scalar
    subquery (an independent 1-row plan, not a join).  128-bit
    ceiling: n * Syy ~ n^2 y_max^2 saturates around ~1e36 (loud, wave
    convention)."""
    from pedri_analysis_spark.plans.relational import events_us

    ev = events_us(spark, sf_dir).select(
        "user_id", "event_type", "value", "ts_us"
    )
    ev.createOrReplaceTempView("cuped_events")
    return spark.sql(_cuped_sql(tx.SPARK))


# ---------------------------------------------------------------------------
# Empirical-Bayes (beta-binomial MoM) shrinkage of brand return rates
# ---------------------------------------------------------------------------


def _eb_sql(dialect: str) -> str:
    d = _IDIV[dialect]
    h = lambda e: _cuped_hug(dialect, e)  # noqa: E731
    return f"""
    WITH seg AS (
      SELECT p.p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n_j,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS k_j
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ),
    p AS (
      SELECT brand, n_j, k_j,
             CAST((k_j * 1000000) {d} n_j AS BIGINT) AS raw_micro
      FROM seg
    ),
    w AS (
      SELECT brand, n_j, k_j, raw_micro,
             CAST(count(*) OVER () AS BIGINT) AS b,
             CAST(sum(raw_micro) OVER () AS BIGINT) AS sum_r,
             sum({h('raw_micro')} * raw_micro) OVER () AS sum_r2
      FROM p
    ),
    m AS (
      SELECT brand, n_j, k_j, raw_micro, b,
             CAST(sum_r {d} b AS BIGINT) AS m_micro,
             CASE WHEN b > 1
                  THEN (b * sum_r2 - {h('sum_r')} * sum_r)
                       {d} ({h('b')} * (b - 1))
                  ELSE {h('0')} END AS v_micro2
      FROM w
    ),
    k AS (
      SELECT brand, n_j, k_j, raw_micro, m_micro, v_micro2,
             CASE WHEN v_micro2 > 0
                  THEN ({h('m_micro')} * (1000000 - m_micro) * 1000)
                       {d} v_micro2 - 1000
                  ELSE {h('-1')} END AS ab_milli
      FROM m
    )
    -- m_micro * ab_milli is already the exact nano-count alpha
    -- (micro * milli = nano); no further scaling division is needed.
    SELECT brand, n_j AS n_lines, k_j AS n_returns, raw_micro,
           CAST(CASE WHEN ab_milli > 0
                THEN (({h('k_j')} * 1000000000
                       + {h('m_micro')} * ab_milli) * 1000000)
                     {d} ({h('n_j')} * 1000000000 + {h('ab_milli')} * 1000000)
                ELSE raw_micro END AS BIGINT) AS shrunk_micro
    FROM k
    ORDER BY brand
    """


@_register("eb_shrunk_return_rates", _eb_sql(tx.DUCK))
def q_eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-brand return rates under a
    beta-binomial prior fitted by the method of moments (Robbins 1956;
    the Morris/Efron parametric-EB recipe): the prior's pseudo-count
    alpha+beta = m(1-m)/v - 1 comes from the across-brand mean m and
    variance v of the raw rates, and each brand reports
    (k_j + alpha)/(n_j + alpha + beta) — small/noisy segments shrink
    hard toward the corpus mean while large ones barely move (the
    per-segment rate smoothing every quality/contamination dashboard
    needs before ranking segments).

    Determinism: raw rates floor once to micro; the prior moments and
    pseudo-counts are integer window sums over the ~25-row brand frame
    with documented floors (m to micro, alpha+beta to MILLI-counts,
    alpha to nano via m_micro * ab_milli); the posterior is one exact
    128-bit division on nano-scaled counts.  Degenerate guards: zero
    across-brand variance or a non-positive pseudo-count (v too large
    for the beta-binomial MoM) fall back to the raw rate, mirrored in
    both dialects.

    Scale: one fact-dim broadcast join + ONE groupBy to the
    domain-bounded brand frame (~25 rows at every SF); all windows ride
    that frame."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_returnflag"
    )
    pt = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    li.createOrReplaceTempView("eb_lineitem")
    pt.createOrReplaceTempView("eb_part")
    return spark.sql(
        _eb_sql(tx.SPARK)
        .replace("FROM lineitem l", "FROM eb_lineitem l")
        .replace("JOIN part p", "JOIN eb_part p")
    )


# ---------------------------------------------------------------------------
# Isotonic regression calibration via PAVA minimax (added r15)
# ---------------------------------------------------------------------------

PAVA_BUCKET_CENTS = 1_250_000  # $12.5k fixed-width price buckets (~40 buckets)


def _hug18(dialect: str, expr: str) -> str:
    if dialect == tx.DUCK:
        return f"CAST({expr} AS HUGEINT)"
    return f"CAST({expr} AS DECIMAL(38,0))"


def _pava_sql(dialect: str) -> str:
    d = _IDIV[dialect]
    return f"""
    WITH b AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               {d} {PAVA_BUCKET_CENTS} AS bk,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS s
      FROM orders GROUP BY 1
    ),
    pre AS (
      SELECT bk, w, s,
             CAST(row_number() OVER (ORDER BY bk) AS BIGINT) AS i,
             CAST(sum(w) OVER (ORDER BY bk) AS BIGINT) AS cw,
             CAST(sum(s) OVER (ORDER BY bk) AS BIGINT) AS cs
      FROM b
    ),
    pairs AS (
      SELECT j.i AS j, k.i AS k,
             (1000000 * (k.cs - (j.cs - j.s))) {d} (k.cw - (j.cw - j.w)) AS am
      FROM pre j JOIN pre k ON j.i <= k.i
    ),
    sufmin AS (
      SELECT j, k,
             min(am) OVER (PARTITION BY j ORDER BY k DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS m
      FROM pairs
    ),
    fit AS (
      SELECT k AS i, CAST(max(m) AS BIGINT) AS fit_micro
      FROM sufmin GROUP BY k
    )
    SELECT p.bk AS bucket, p.w AS n_orders, p.s AS n_final,
           CAST((1000000 * p.s) {d} p.w AS BIGINT) AS rate_micro, f.fit_micro
    FROM pre p JOIN fit f ON f.i = p.i
    ORDER BY p.bk
    """


@_register("isotonic_calibration_pava", _pava_sql(tx.DUCK))
def q_isotonic_calibration_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression of P(orderstatus = 'F') on the $12.5k
    order-value bucket - the calibration map PAVA (pool-adjacent-
    violators, Ayer 1955) produces, and the nonparametric upgrade of
    the binned calibration_bins_value curve: the fitted rate is the
    best MONOTONE weighted-least-squares fit.

    Determinism: PAVA is inherently sequential, but its solution has
    the closed minimax form fit(i) = max_{j<=i} min_{k>=i}
    mean(y[j..k]) (Robertson-Wright-Dykstra 1988 eq. 1.9-1.13) -
    expressible in pure windowed SQL over the bounded bucket grid.
    Each candidate interval mean floors ONCE to micro; because floor
    is monotone it COMMUTES with min and max, so fit_micro is EXACTLY
    floor(1e6 * true PAVA fit) - the parity pin recomputes the
    classic stack PAVA in Python and matches bit-for-bit.  No floats,
    no libm.  1e6 * interval-sums stay BIGINT to ~9e12 orders.

    Scale: the corpus reduces in ONE groupBy to the ~40-row bounded
    bucket grid; the O(B^2) pair frame (~820 rows) and its windows are
    all domain-bounded (the adjudicated bounded single-partition
    pattern); nothing downstream touches corpus rows.  The fit is
    monotone nondecreasing by construction (property-pinned), and
    total fitted mass drifts from the true success count by < n micro
    (one floor per bucket, pinned)."""
    ord_df = load_table(spark, "orders", sf_dir)
    ord_df.createOrReplaceTempView("orders")
    return spark.sql(_pava_sql(tx.SPARK))


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (added r15)
# ---------------------------------------------------------------------------

CA_CHI2_CRIT_MICRO = 3_841_459  # chi^2_1 at 0.05, micro units


def _ca_sql(dialect: str) -> str:
    d = _IDIV[dialect]
    h = lambda e: _hug18(dialect, e)  # noqa: E731
    return f"""
    WITH g AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS ni,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS ri
      FROM orders
      WHERE substr(o_orderpriority, 1, 1) IN ('1', '2', '3', '4', '5')
      GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(ni) AS BIGINT) AS n, CAST(sum(ri) AS BIGINT) AS rr,
             CAST(sum(t * ni) AS BIGINT) AS s1,
             CAST(sum(t * t * ni) AS BIGINT) AS s2,
             CAST(sum(t * ri) AS BIGINT) AS sr, CAST(count(*) AS BIGINT) AS k
      FROM g
    ),
    u AS (
      SELECT n, rr, k,
             {h('sr')} * n - {h('s1')} * rr AS uu,
             {h('rr')} * (n - rr) AS d1,
             {h('n')} * s2 - {h('s1')} * s1 AS d2
      FROM s
    ),
    q AS (
      SELECT n, rr, k, uu, d1, d2,
             CASE WHEN d1 > 0 THEN (1000 * uu * uu) {d} d1
                  ELSE {h('0')} END AS a_milli
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(rr AS BIGINT) AS n_pos,
           CAST(k AS BIGINT) AS k_groups,
           CAST(uu AS BIGINT) AS t_num,
           CAST(CASE WHEN d1 > 0 AND d2 > 0 THEN (a_milli * n * 1000) {d} d2
                ELSE 0 END AS BIGINT) AS z2_micro,
           CAST(CASE WHEN d1 > 0 AND d2 > 0
                      AND (a_milli * n * 1000) {d} d2 >= {CA_CHI2_CRIT_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM q
    """


@_register("cochran_armitage_trend", _ca_sql(tx.DUCK))
def q_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test (1954/1955) for a LINEAR trend in the
    binary finalization rate across the five ORDERED priority classes
    - the binary-outcome cousin of the Jonckheere-Terpstra ordered-
    alternative test and the dose-response workhorse: scores t_i = 1..5,
    T = sum t_i (r_i - n_i R/N), z^2 = T^2/Var(T) ~ chi^2_1.

    Determinism: the numerator rationalizes EXACTLY as U = N*T =
    sum t_i (r_i N - n_i R); z^2 = U^2 N / (R(N-R) * (N s2 - s1^2))
    quantizes in TWO documented floors (milli then micro) so every
    128-bit intermediate stays bounded: 1e3*U^2 ~ 2.5e4 N^4 saturates
    ~5e8 orders, a_milli*N*1e3 ~ 1e8 N^3 saturates ~1.2e10 (both loud
    ANSI/HUGEINT failures, never silent).  Degenerate guards mirrored:
    all-positive/all-negative outcomes (d1 = 0) and a single priority
    class (d2 = 0) report z^2 = 0.

    Scale: ONE groupBy to the 5-row ordered-class frame; everything
    after is 1-row algebra.  t_num = U is emitted as a BIGINT output
    cast - loud past ~1.3e9 orders, the wave convention."""
    ord_df = load_table(spark, "orders", sf_dir)
    ord_df.createOrReplaceTempView("orders")
    return spark.sql(_ca_sql(tx.SPARK))


# ---------------------------------------------------------------------------
# Deterministic Misra-Gries heavy-hitter summary (added r15 session)
# ---------------------------------------------------------------------------

MG_K = 16  # summary capacity (the classic "k counters" parameter)
MG_SHARDS = 16  # stage-1 local top-(k+1) shards (map_bm25_eval pattern)


def _mg_sql(dialect: str) -> str:
    """Identical text in both dialects except tokenizer/hash/explode
    spellings.  The (k+1)-th largest count t is found WITHOUT a global
    sort: each hash shard keeps its local top-(k+1) (a superset of the
    global top-(k+1) candidates), the ≤ SHARDS·(k+1) survivors meet in
    one bounded frame, and t plus the total stream length N (folded as
    per-shard sums carried on each shard's lrk=1 row) come from
    windows over THAT frame."""
    toks = tx.tokens(dialect, "text")
    unnest = (
        f"SELECT unnest({toks}) AS tok FROM documents"
        if dialect == tx.DUCK
        else f"SELECT explode({toks}) AS tok FROM documents"
    )
    shard = tx.chunk_of(dialect, "tok", str(MG_SHARDS), seed="mg")
    return f"""
    tok AS ({unnest}),
    tc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c, {shard} AS shard
      FROM tok GROUP BY tok
    ),
    loc AS (
      SELECT tok, c, shard, lrk, shard_n FROM (
        SELECT tok, c, shard,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY c DESC, tok ASC) AS lrk,
               CAST(sum(c) OVER (PARTITION BY shard) AS BIGINT) AS shard_n
        FROM tc
      ) z WHERE lrk <= {MG_K + 1}
    ),
    gtop AS (
      SELECT tok, c, lrk, shard_n,
             row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
      FROM loc
    ),
    framed AS (
      SELECT tok, c, rk,
             max(CASE WHEN rk = {MG_K + 1} THEN c ELSE 0 END) OVER () AS t,
             CAST(sum(CASE WHEN lrk = 1 THEN shard_n ELSE 0 END) OVER ()
                  AS BIGINT) AS n_total
      FROM gtop
    )
    SELECT CAST(rk AS BIGINT) AS rk, tok, c AS true_cnt,
           CAST(c - t AS BIGINT) AS mg_weight,
           CAST(t AS BIGINT) AS err_bound, n_total
    FROM framed
    WHERE rk <= {MG_K} AND c > t
    ORDER BY rk"""


@_register("misra_gries_heavy_tokens", f"WITH {_mg_sql(tx.DUCK)}")
def q_misra_gries_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries / SpaceSaving heavy-hitter summary (Misra & Gries
    1982; Metwally, Agrawal & El Abbadi 2005) with k = {MG_K} counters
    over the corpus token stream, in its DETERMINISTIC batch form:
    weight_i = max(c_i − t, 0) with t = the (k+1)-th largest exact
    count.  At most k items survive (anything tied with rank k+1 gets
    weight 0), t·(k+1) ≤ N so every estimate undershoots by at most
    N/(k+1) — the exact guarantee streaming MG provides after ANY
    merge order (Agarwal et al. 2012, mergeable summaries) — and every
    token with c > N/(k+1) is GUARANTEED present (no false negatives).
    The deterministic counterpart to countmin_token_freq: CMS
    over-counts probabilistically, MG under-counts by a certified
    bound, and a pipeline that needs "definitely ≥ this frequent"
    semantics (stop-word induction, hot-key detection before a
    skew-salted join) wants this one.

    Determinism: exact integer counts; the threshold t is a VALUE at a
    total-order rank (c DESC, tok ASC), so ties anywhere cannot flip
    the output; no division at all.

    Scale: the corpus reduces via ONE groupBy(token); the only windows
    run (a) per hash shard — distributed, {MG_SHARDS} partitions, each
    keeping a local top-{MG_K + 1} superset of the global candidates —
    and (b) over the ≤ {MG_SHARDS}·{MG_K + 1}-row survivor frame
    (model-sized, the adjudicated bounded-frame contract).  N rides
    along as per-shard sums folded on each shard's lrk=1 row, so no
    second corpus pass and no scalar cross join.  Never a
    vocabulary-sized single-partition window."""
    docs = load_table(spark, "documents", sf_dir).select("text")
    docs.createOrReplaceTempView("documents_mg")
    return spark.sql(
        f"WITH documents AS (SELECT * FROM documents_mg), {_mg_sql(tx.SPARK)}"
    )
