"""The r14 query wave, registered in r14 (``registry._modules``).

The module was implemented, oracle-paired, plan-invariant-pinned and
proven green under the driver-identical comparison before registration;
it waited for r14 so the r12/r13 verification windows went to the r13
wave and the stale drain (see COVERAGE.md "Registration-window plan").

Every query follows the determinism discipline (integer / DECIMAL
arithmetic, hash-seeded pseudo-randomness, total orders on every rank,
probability quantization via integer cross-multiplication — never
libm) and the scale discipline (pair stages blocked + capped or
domain-bounded; iterative algorithms with fixed unrolled oracles;
single-partition frames only when domain-bounded).

Families and the public designs they implement:
- simpson_diversity_sources — Simpson concentration / Gini-Simpson
  diversity (Simpson 1949) per source, exact integer combinatorics
  (the Hill-number q=2 diversity a corpus-mixture audit reads without
  the entropy logarithm the libm ban excludes).
- pmi_top_cooccurrence — top token-pair pointwise mutual information
  (Church & Hanks 1990) over doc-level co-occurrence, ranked by the
  integer-quantized PMI RATIO (monotone in PMI; no log needed for
  ranking), vocabulary-restricted to the global top-V terms.
- zipf_rank_freq_audit — Zipf's-law audit: rank x frequency products
  at power-of-two ranks (Zipf 1949: r*f ~ const), global rank computed
  distributively with the vocab_coverage_curve band trick.
- benjamini_hochberg_fdr — Benjamini–Hochberg step-up FDR control
  (1995) over per-event-type permutation p-values, all integer
  cross-multiplied (p_i*m <= q*i in ppm units).
- binseg_changepoint_daily — single-split binary segmentation
  changepoint (Scott & Knott 1974) on the daily revenue series, exact
  quantized SSE-gain argmax from prefix sums.
- autocorr_daily_revenue — lag-1..7 autocorrelation of daily revenue
  as SIGNED r^2 in micro units (the mann_kendall z^2 discipline:
  square the statistic instead of taking the libm sqrt).
- ari_clusters_vs_labels — Adjusted Rand Index (Hubert & Arabie 1985)
  between LSH-plane clusters and gold labels, exact pair-counting
  combinatorics with DECIMAL(38,0) cross-multiplication.
- mmr_diverse_topk — Maximal Marginal Relevance re-ranking (Carbonell
  & Goldstein 1998) over embeddings: K rounds of integer-quantized
  relevance-minus-redundancy argmax (the kcenter driver-side-model
  pattern).
- map_bm25_eval — MAP@K (mean average precision) of BM25 retrieval
  against exact-phrase gold sets, completing the MRR/NDCG ranking-eval
  family; per-phrase top-K via shard-local + global refinement, never
  a corpus-sized single window partition.
- k_truss_copurchase — k-truss peeling (Cohen 2008) on the co-purchase
  graph: edges with triangle support < k-2 removed per round, fixed
  unrolled rounds like k-core.
- personalized_pagerank — PageRank with restart to a seed set
  (Jeh & Widom 2003 PPR), fixed damped iterations over the trade
  graph, integer-quantized contributions like pagerank_trade_graph.
- prefix_filter_jaccard_dups — EXACT Jaccard near-dup pair mining via
  prefix filtering (Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008
  PPJoin candidate rule): recall 1.0 by construction with NO drop cap
  — the named recall-preserving alternative APPROX_PAST_CAP points to
  for the capped LSH/mod-chunk families.

Reference parity: none of these exist in the reference engine
(/root/reference/core/pedri_analysis.py has no diversity, PMI, FDR,
changepoint, ARI, MMR, MAP, truss, PPR or similarity-join operators) —
they extend the training-data-pipeline surface per SURVEY.md §2's
"beyond the reference" mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pedri_analysis_spark.cache import materialize, released
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.operators import spread
from pedri_analysis_spark.operators.similarity import round6, round6_sql
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# ---------------------------------------------------------------------------
# Simpson diversity per source (Hill q=2, exact integers)
# ---------------------------------------------------------------------------


@_register(
    "simpson_diversity_sources",
    f"""
    WITH tok AS (
      SELECT source, unnest({tx.tokens(tx.DUCK, "text")}) AS token
      FROM documents
    ),
    tf AS (
      SELECT source, token, count(*)::BIGINT AS c
      FROM tok GROUP BY source, token
    ),
    per AS (
      SELECT source,
             sum(c)::BIGINT AS n_tokens,
             count(*)::BIGINT AS n_distinct,
             sum(c * (c - 1))::BIGINT AS sum_cc
      FROM tf GROUP BY source
    )
    SELECT source, n_tokens, n_distinct,
           {tx.floor_scaled_div(tx.DUCK, "sum_cc", "n_tokens * (n_tokens - 1)", 1_000_000)}::BIGINT
             AS simpson_ppm,
           (1000000 - {tx.floor_scaled_div(tx.DUCK, "sum_cc", "n_tokens * (n_tokens - 1)", 1_000_000)})::BIGINT
             AS gini_simpson_ppm
    FROM per
    WHERE n_tokens >= 2
    """,
)
def q_simpson_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index per source — the probability two
    tokens drawn without replacement are the same type: D = Σ c_i(c_i-1)
    / (N(N-1)) — and its Gini-Simpson complement 1-D (the Hill-number
    q=2 diversity).  This is the corpus-mixture diversity audit the
    entropy/perplexity version of which needs log(); Simpson's is pure
    integer combinatorics, so it fits the libm ban EXACTLY rather than
    approximately.

    Determinism: counts and the Σc(c-1) sums are exact integers; ppm
    values floor-divided via the overflow-safe decomposition.

    BIGINT bound (wave convention): Σc(c-1) <= N^2 and the denominator
    N(N-1) wrap past ~3e9 tokens per source; DECIMAL(38,0) is the
    escape hatch.

    Scale: one (source, token) rollup shuffle with map-side combine,
    then a |sources|-row aggregate.  Sources with fewer than 2 tokens
    are out of scope (D undefined)."""
    tok = load_table(spark, "documents", sf_dir).select(
        "source", F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token")
    )
    tf = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per = tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.expr("c * (c - 1)")).cast("bigint").alias("sum_cc"),
    )
    simpson = tx.floor_scaled_div(
        tx.SPARK, "sum_cc", "n_tokens * (n_tokens - 1)", 1_000_000
    )
    return per.filter(F.col("n_tokens") >= 2).select(
        "source",
        "n_tokens",
        "n_distinct",
        F.expr(simpson).cast("bigint").alias("simpson_ppm"),
        F.expr(f"1000000 - {simpson}").cast("bigint").alias("gini_simpson_ppm"),
    )


# ---------------------------------------------------------------------------
# Top token-pair PMI over doc-level co-occurrence (top-V vocabulary)
# ---------------------------------------------------------------------------

PMI_TOP_V = 32  # global vocabulary restriction: pair domain <= C(V,2)
PMI_MIN_AB = 5  # minimum co-occurring docs (the classic PMI rare-pair guard)
PMI_TOPK = 20


def _pmi_oracle() -> str:
    return f"""
    WITH dt0 AS (
      SELECT doc_id, unnest({tx.tokens(tx.DUCK, "text")}) AS token
      FROM documents
    ),
    dt AS (SELECT DISTINCT doc_id, token FROM dt0),
    vocab AS (
      SELECT token, count(*)::BIGINT AS df,
             row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rnk
      FROM dt GROUP BY token
    ),
    topv AS (SELECT token, df FROM vocab WHERE rnk <= {PMI_TOP_V}),
    dtv AS (
      SELECT dt.doc_id, dt.token FROM dt JOIN topv ON topv.token = dt.token
    ),
    nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    pairs AS (
      SELECT a.token AS tok_a, b.token AS tok_b, count(*)::BIGINT AS n_ab
      FROM dtv a JOIN dtv b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token
    )
    SELECT tok_a, tok_b, n_ab, va.df AS df_a, vb.df AS df_b,
           {tx.floor_scaled_div(tx.DUCK, "n_ab * nd.n_docs", "va.df * vb.df", 1_000_000)}::BIGINT
             AS pmi_ratio_micro
    FROM pairs
    JOIN topv va ON va.token = tok_a
    JOIN topv vb ON vb.token = tok_b
    CROSS JOIN nd
    WHERE n_ab >= {PMI_MIN_AB}
    ORDER BY pmi_ratio_micro DESC, tok_a ASC, tok_b ASC
    LIMIT {PMI_TOPK}
    """


@_register("pmi_top_cooccurrence", _pmi_oracle())
def q_pmi_top_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top token-pair collocations by pointwise mutual information over
    doc-level co-occurrence (Church & Hanks 1990): PMI = log of the
    ratio P(a,b)/(P(a)P(b)) = n_ab*N/(df_a*df_b) — the log is MONOTONE,
    so ranking by the integer-quantized RATIO ranks exactly by PMI with
    zero libm (the Benford-constant discipline applied to ranking
    rather than constants).

    Vocabulary restriction (the scale design, not a test shortcut): the
    pair stage runs over the global top-{PMI_TOP_V} terms by document
    frequency (ties broken by token), so the per-doc pair fan-out is
    bounded by C({PMI_TOP_V},2) pair KEYS regardless of corpus size —
    the standard collocation-mining restriction.  Spark selects top-V
    with orderBy+limit (TakeOrderedAndProject — a distributed top-k,
    never a corpus-sized single-partition sort) and broadcast-joins it.

    Determinism: (df DESC, token ASC) and (pmi DESC, tok_a, tok_b) are
    total orders; counts exact; the ratio floor-divided to micro.

    BIGINT bound (wave convention): n_ab * n_docs wraps past ~3e9 docs;
    DECIMAL(38,0) is the escape hatch.

    Scale: distinct-per-doc rollup, one vocab rollup + top-V, one
    broadcast semi-restricted self-join per doc (<= C(V,2) per doc),
    one pair rollup — no corpus-sized shuffle beyond the token rollup,
    final frame <= C(V,2) rows."""
    docs = load_table(spark, "documents", sf_dir)
    dt = (
        docs.select(
            "doc_id", F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token")
        )
        .distinct()
    )
    vocab = dt.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    topv = vocab.orderBy(F.desc("df"), F.asc("token")).limit(PMI_TOP_V)
    dtv = dt.join(F.broadcast(topv.select("token")), "token").select(
        "doc_id", "token"
    )
    a = dtv.select("doc_id", F.col("token").alias("tok_a"))
    b = dtv.select("doc_id", F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_AB)
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    va = topv.select(F.col("token").alias("tok_a"), F.col("df").alias("df_a"))
    vb = topv.select(F.col("token").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "df_a",
            "df_b",
            F.expr(
                tx.floor_scaled_div(
                    tx.SPARK, "n_ab * n_docs", "df_a * df_b", 1_000_000
                )
            )
            .cast("bigint")
            .alias("pmi_ratio_micro"),
        )
        .orderBy(F.desc("pmi_ratio_micro"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Zipf rank x frequency audit at power-of-two ranks
# ---------------------------------------------------------------------------

ZIPF_MAX_EXP = 12  # probe ranks 1, 2, 4, ..., 4096


def _zipf_ranks() -> list[int]:
    return [1 << e for e in range(ZIPF_MAX_EXP + 1)]


def _zipf_oracle() -> str:
    ranks = ", ".join(str(r) for r in _zipf_ranks())
    return f"""
    WITH tok AS (
      SELECT unnest({tx.tokens(tx.DUCK, "text")}) AS token FROM documents
    ),
    tf AS (SELECT token, count(*)::BIGINT AS occ FROM tok GROUP BY token),
    ranked AS (
      SELECT token, occ,
             row_number() OVER (ORDER BY occ DESC, token ASC) AS rank
      FROM tf
    )
    SELECT rank::BIGINT AS rank, token, occ,
           (rank * occ)::BIGINT AS rank_x_occ
    FROM ranked WHERE rank IN ({ranks})
    ORDER BY rank
    """


@_register("zipf_rank_freq_audit", _zipf_oracle())
def q_zipf_rank_freq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit: the token and its rank*frequency product at
    each power-of-two rank 1..{ZIPF_MAX_EXP} — under Zipf (1949) the
    product is ~constant, and the probe row where it collapses marks
    the vocabulary's power-law tail break (the sanity check a tokenizer
    / sampling design reads next to vocab_coverage_curve).

    Scale: the oracle's global ``row_number() OVER (ORDER BY occ DESC,
    token)`` is computed distributively with the vocab_coverage_curve
    band trick — band on (-occ, first char), per-band offsets from the
    band rollup, row_number within bands only — then filtered to the
    {ZIPF_MAX_EXP + 1} literal probe ranks.

    Determinism: (occ DESC, token ASC) is a total order; products are
    exact integers (rank*occ <= N * N wraps only past ~3e9 occurrences
    of a single token — DECIMAL(38,0) escape hatch)."""
    tok = load_table(spark, "documents", sf_dir).select(
        F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token")
    )
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    d = tf.withColumn(
        "band",
        F.struct(
            (-F.col("occ")).alias("negocc"), F.substring("token", 1, 1).alias("c0")
        ),
    )
    bandc = d.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("bn"))
    wb = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    offs = bandc.select(
        "band",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).cast("bigint").alias("off"),
    )
    wr = W.partitionBy("band").orderBy(F.desc("occ"), F.asc("token"))
    ranks = ", ".join(str(r) for r in _zipf_ranks())
    return (
        d.join(offs, "band")
        .withColumn("rank", (F.col("off") + F.row_number().over(wr)).cast("bigint"))
        .filter(F.expr(f"rank IN ({ranks})"))
        .select(
            "rank",
            "token",
            "occ",
            F.expr("rank * occ").cast("bigint").alias("rank_x_occ"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-event-type permutation p-values
# ---------------------------------------------------------------------------

BH_REPS = 32  # one md5 digest's hex chars (the bootstrap_ci/perm discipline)
BH_Q_PPM = 100_000  # q = 0.10 in ppm units


def _bh_base(dialect: str) -> str:
    """(event_type, digest, cents, weekend-flag) rows — weekend derived
    from the epoch day by pure arithmetic ((day + 4) % 7 in {5, 6}:
    1970-01-01 was a Thursday), never a TZ-dependent dayofweek()."""
    cast = "VARCHAR" if dialect == tx.DUCK else "STRING"
    h = (
        "md5('bh:' || event_id::VARCHAR)"
        if dialect == tx.DUCK
        else "md5(concat('bh:', CAST(event_id AS STRING)))"
    )
    day = tx.epoch_day(dialect, "ts")
    return f"""
    base AS (
      SELECT event_type, {h} AS h,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             CASE WHEN (({day}) + 4) % 7 IN (5, 6) THEN 1 ELSE 0 END AS grp
      FROM events
    )"""


def _bh_oracle() -> str:
    from pedri_analysis_spark.plans.draft_r13 import _perm_bit, _perm_diff

    return f"""
    WITH {_bh_base(tx.DUCK)},
    obs AS (
      SELECT event_type, {_perm_diff(tx.DUCK)} AS d
      FROM (SELECT event_type, grp AS flag, cents FROM base)
      GROUP BY event_type
      HAVING sum(flag) > 0 AND sum(1 - flag) > 0
    ),
    reps AS (
      SELECT b.event_type, r.rep,
             {_perm_bit(tx.DUCK, "b.h", "r.rep")} AS flag, b.cents
      FROM base b
      CROSS JOIN (SELECT unnest(generate_series(0, {BH_REPS - 1})) AS rep) r
    ),
    null_d AS (
      SELECT event_type, rep, {_perm_diff(tx.DUCK)} AS d
      FROM reps GROUP BY event_type, rep
      HAVING sum(flag) > 0 AND sum(1 - flag) > 0
    ),
    pv AS (
      SELECT o.event_type, o.d AS diff_micros,
             ({tx.floor_scaled_div(
                 tx.DUCK,
                 "1 + sum(CASE WHEN n.d >= o.d THEN 1 ELSE 0 END)",
                 str(BH_REPS + 1),
                 1_000_000,
             )})::BIGINT AS p_ppm
      FROM obs o JOIN null_d n ON n.event_type = o.event_type
      GROUP BY o.event_type, o.d
    ),
    ranked AS (
      SELECT event_type, diff_micros, p_ppm,
             row_number() OVER (ORDER BY p_ppm ASC, event_type ASC)
               AS bh_rank,
             count(*) OVER ()::BIGINT AS m
      FROM pv
    ),
    cut AS (
      SELECT *,
             max(CASE WHEN p_ppm * m <= {BH_Q_PPM} * bh_rank
                      THEN bh_rank END) OVER () AS i_max
      FROM ranked
    )
    SELECT event_type, diff_micros::BIGINT AS diff_micros, p_ppm,
           bh_rank::BIGINT AS bh_rank, m,
           (CASE WHEN bh_rank <= COALESCE(i_max, 0) THEN 1 ELSE 0 END)::BIGINT
             AS rejected
    FROM cut
    """


@_register("benjamini_hochberg_fdr", _bh_oracle())
def q_benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (1995) over one
    permutation test per event type: is the mean event value different
    on weekends?  Per type, the observed |weekend mean - weekday mean|
    (floor-micro integers) is ranked against {BH_REPS} digest-bit
    relabeling replicates (Dwass 1957, the permutation_test_segments
    machinery) giving an add-one-smoothed p in ppm; BH then rejects the
    smallest i_max ranks where p_(i)*m <= q*i — entirely integer
    cross-multiplication (p_ppm * m <= {BH_Q_PPM} * rank), no division
    at the decision point at all.

    Determinism: digest bits are the fair Bernoulli(1/2) relabeling
    null shared with permutation_test_segments; (p ASC, type ASC) is a
    total order; replicate groups degenerating to one label (possible
    only for single-digit-event types) drop via HAVING in BOTH engines
    identically, keeping n_ge aligned.

    Scale: the replicate fan-out is a flat-map into ONE (type, rep)
    aggregation with map-side combine; everything after is an
    m-row frame (m = |event types|, domain-bounded), where the BH
    step-up windows run."""
    day = tx.epoch_day(tx.SPARK, "ts")
    base = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.expr("md5(concat('bh:', CAST(event_id AS STRING)))").alias("h"),
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("cents"),
        F.expr(f"CASE WHEN (({day}) + 4) % 7 IN (5, 6) THEN 1 ELSE 0 END").alias(
            "grp"
        ),
    )
    from pedri_analysis_spark.plans.draft_r13 import _perm_bit, _perm_diff

    obs = (
        base.select("event_type", F.col("grp").alias("flag"), "cents")
        .groupBy("event_type")
        .agg(
            F.expr(_perm_diff(tx.SPARK)).alias("d"),
            F.sum("flag").alias("nw"),
            F.sum(F.expr("1 - flag")).alias("nd"),
        )
        .filter((F.col("nw") > 0) & (F.col("nd") > 0))
        .select("event_type", "d")
    )
    reps = base.withColumn(
        "rep", F.explode(F.sequence(F.lit(0), F.lit(BH_REPS - 1)))
    ).select(
        "event_type",
        "rep",
        F.expr(_perm_bit(tx.SPARK, "h", "rep")).alias("flag"),
        "cents",
    )
    null_d = (
        reps.groupBy("event_type", "rep")
        .agg(
            F.expr(_perm_diff(tx.SPARK)).alias("d"),
            F.sum("flag").alias("nw"),
            F.sum(F.expr("1 - flag")).alias("nd"),
        )
        .filter((F.col("nw") > 0) & (F.col("nd") > 0))
        .select("event_type", F.col("d").alias("nd_d"))
    )
    pv = (
        obs.join(null_d, "event_type")
        .groupBy("event_type", "d")
        .agg(
            F.sum(F.expr("CASE WHEN nd_d >= d THEN 1 ELSE 0 END")).alias("n_ge")
        )
        .select(
            "event_type",
            F.col("d").cast("bigint").alias("diff_micros"),
            F.expr(
                tx.floor_scaled_div(tx.SPARK, "1 + n_ge", str(BH_REPS + 1), 1_000_000)
            )
            .cast("bigint")
            .alias("p_ppm"),
        )
    )
    wr = W.orderBy(F.asc("p_ppm"), F.asc("event_type"))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = (
        pv.withColumn("bh_rank", F.row_number().over(wr).cast("bigint"))
        .withColumn("m", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn(
            "i_max",
            F.max(
                F.expr(f"CASE WHEN p_ppm * m <= {BH_Q_PPM} * bh_rank "
                       f"THEN bh_rank END")
            ).over(wall),
        )
    )
    return ranked.select(
        "event_type",
        "diff_micros",
        "p_ppm",
        "bh_rank",
        "m",
        F.expr("CASE WHEN bh_rank <= COALESCE(i_max, 0) THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Single-split binary-segmentation changepoint on daily revenue
# ---------------------------------------------------------------------------

# Daily sums quantized to $1000 units before squaring: prefix sums and
# their squares stay BIGINT-safe while total revenue <= ~$3e12 (measured:
# sf4.0synth totals $1.5e12 -> s^2 = 2.3e18 < 2^63; the wave convention
# bound, DECIMAL(38,0) or coarser units past it).
BINSEG_UNIT_DIV = 100_000  # cents -> $1000 quanta


def _binseg_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS day,
             (sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              // {BINSEG_UNIT_DIV})::BIGINT AS v
      FROM orders GROUP BY o_orderdate
    ),
    pre AS (
      SELECT day, v,
             row_number() OVER w AS i,
             sum(v) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ps,
             count(*) OVER ()::BIGINT AS n,
             sum(v) OVER ()::BIGINT AS s
      FROM daily
      WINDOW w AS (ORDER BY day)
    ),
    cand AS (
      SELECT day, i, n,
             (ps * ps) // i + ((s - ps) * (s - ps)) // (n - i)
               - (s * s) // n AS gain_q,
             ps // i AS left_mean_q,
             (s - ps) // (n - i) AS right_mean_q
      FROM pre WHERE i < n
    )
    SELECT day AS split_day, i::BIGINT AS n_left, (n - i)::BIGINT AS n_right,
           gain_q::BIGINT AS gain_q,
           left_mean_q::BIGINT AS left_mean_q,
           right_mean_q::BIGINT AS right_mean_q
    FROM cand
    ORDER BY gain_q DESC, day ASC
    LIMIT 1
    """


@_register("binseg_changepoint_daily", _binseg_oracle())
def q_binseg_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split binary-segmentation changepoint (the first step of
    Scott & Knott 1974 / binary segmentation) on the daily order-revenue
    series: the split day maximizing the variance-explained gain
    S_L^2/n_L + S_R^2/n_R - S^2/n — the prefix-sum identity that needs
    no per-segment second pass.  Ties break to the earliest day, so the
    argmax is a total order.

    Determinism: daily sums are exact integer $1000 quanta
    (cents div {BINSEG_UNIT_DIV}); every gain term is floor integer
    division of integer squares — both engines compute the IDENTICAL
    quantized objective, and the argmax of a quantized objective is
    deterministic (the objective itself is the quantization of the real
    SSE gain, documented, not hidden).

    BIGINT bound (wave convention): prefix-sum squares wrap past total
    revenue ~3e9 units (~$3e12); coarser units (BINSEG_UNIT_DIV) or
    DECIMAL(38,0) are the escape hatch.

    Scale: the day rollup shuffles once with map-side combine; the
    prefix/argmax windows run on the DAY-domain frame (calendar-bounded
    ~2.4k rows, the repo's domain-bounded single-partition contract),
    and the final row is TakeOrdered(1)."""
    daily = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
                f" div {BINSEG_UNIT_DIV} AS BIGINT)"
            ).alias("v")
        )
    )
    wo = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    pre = (
        daily.withColumn("i", F.row_number().over(W.orderBy("day")).cast("bigint"))
        .withColumn("ps", F.sum("v").over(wo).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn("s", F.sum("v").over(wall).cast("bigint"))
    )
    cand = pre.filter(F.col("i") < F.col("n")).select(
        F.col("day").alias("split_day"),
        F.col("i").alias("n_left"),
        (F.col("n") - F.col("i")).cast("bigint").alias("n_right"),
        F.expr(
            "CAST((ps * ps) div i + ((s - ps) * (s - ps)) div (n - i)"
            " - (s * s) div n AS BIGINT)"
        ).alias("gain_q"),
        F.expr("CAST(ps div i AS BIGINT)").alias("left_mean_q"),
        F.expr("CAST((s - ps) div (n - i) AS BIGINT)").alias("right_mean_q"),
    )
    return cand.orderBy(F.desc("gain_q"), F.asc("split_day")).limit(1)


# ---------------------------------------------------------------------------
# Lag-k autocorrelation of daily revenue as SIGNED r^2 (no sqrt)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def _acf_rel_dev(dialect: str) -> str:
    """Daily value as a 1e4-relative deviation from the series mean:
    x_i = floor(v_i * 1e4 / mean) - 1e4.  Magnitudes are bounded by the
    SHAPE of the series (max/mean), not its absolute scale, which is
    what keeps every downstream product BIGINT-safe at any corpus
    size (see docstring bound)."""
    return f"({tx.floor_scaled_div(dialect, 'v * n', 's', 10_000)} - 10000)"


def _acf_leg(dialect: str, k: int) -> str:
    """One lag's aggregate leg over the (i, x) frame joined to itself at
    lag k — emitted as a CTE-ready SELECT with integer Pearson pieces."""
    return f"""
      SELECT {k} AS lag,
             count(*)::BIGINT AS n_pairs,
             sum(a.x * b.x)::BIGINT AS sxy,
             sum(a.x)::BIGINT AS sx, sum(b.x)::BIGINT AS sy,
             sum(a.x * a.x)::BIGINT AS sxx, sum(b.x * b.x)::BIGINT AS syy
      FROM xs a JOIN xs b ON b.i = a.i + {k}"""


def _acf_r2_signed(dialect: str) -> str:
    """sign(cov) * floor(|cov|*1000/varx) * floor(|cov|*1000/vary) over
    the n-NORMALIZED Pearson pieces cov = sxy - (sx*sy) div n,
    varx = sxx - (sx*sx) div n (the div-n floor is a deterministic
    <=1-unit quantization mirrored in both engines; dividing all three
    pieces by n leaves the true ratio unchanged) — the two-stage
    floor-milli product approximates r^2 * 1e6 (<= ~1e6 by
    Cauchy-Schwarz) in PURE BIGINT arithmetic."""
    d = "//" if dialect == tx.DUCK else "div"
    cov = f"(sxy - (sx * sy) {d} n_pairs)"
    vx = f"(sxx - (sx * sx) {d} n_pairs)"
    vy = f"(syy - (sy * sy) {d} n_pairs)"
    a = tx.floor_scaled_div(dialect, f"abs({cov})", vx, 1000)
    b = tx.floor_scaled_div(dialect, f"abs({cov})", vy, 1000)
    sgn = f"(CASE WHEN {cov} < 0 THEN -1 ELSE 1 END)"
    return f"({sgn} * ({a}) * ({b}))"


def _acf_oracle() -> str:
    legs = "\n      UNION ALL\n".join(
        _acf_leg(tx.DUCK, k) for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
    WITH daily AS (
      SELECT o_orderdate AS day,
             (sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              // {BINSEG_UNIT_DIV})::BIGINT AS v
      FROM orders GROUP BY o_orderdate
    ),
    tot AS (SELECT count(*)::BIGINT AS n, sum(v)::BIGINT AS s FROM daily),
    xs AS (
      SELECT row_number() OVER (ORDER BY day) AS i,
             {_acf_rel_dev(tx.DUCK)} AS x
      FROM daily, tot
    ),
    legs AS (
{legs}
    )
    SELECT lag::BIGINT AS lag, n_pairs,
           {_acf_r2_signed(tx.DUCK)}::BIGINT AS r2_signed_micro
    FROM legs
    WHERE n_pairs >= 2
      AND (sxx - (sx * sx) // n_pairs) > 0
      AND (syy - (sy * sy) // n_pairs) > 0
    ORDER BY lag
    """


@_register("autocorr_daily_revenue", _acf_oracle())
def q_autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..{ACF_MAX_LAG} autocorrelation of the daily revenue series,
    reported as SIGNED r^2 in micro units — the mann_kendall discipline:
    squaring the statistic removes the libm sqrt from Pearson's
    denominator, and the sign is carried separately, so r = +/-
    sqrt(|r2|) is recoverable by the reader while both engines exchange
    only integers.

    The series enters as 1e4-relative deviations from its own mean
    (x_i = floor(v_i*1e4/mean) - 1e4), which makes every Pearson piece
    scale-FREE: magnitudes depend on the series' shape (max/mean), not
    the corpus size, so the integer bounds hold at 100 TB exactly as at
    sf0.001.  The cov/var pieces are n-normalized with a floor
    (cov = sxy - (sx*sy) div n — a <=1-unit deterministic quantization
    mirrored in both engines), and r2 is the product of two floor-milli
    ratios (|cov|*1000/varx and /vary) — a documented two-stage
    quantization with total error <~ 0.3% of r^2, ALL in BIGINT (no
    DECIMAL division, whose integer-quotient semantics differ between
    the engines).

    BIGINT bound (wave convention): with day count <= ~4e3 and
    max daily revenue <= ~30x the mean (|x| <= 3e5), sx*sy and the
    milli residue products stay under 2^63; a spikier series or a
    10x-longer calendar needs the DECIMAL(38,0) escape or a coarser
    relative scale.

    Scale: one day rollup shuffle; the lag joins and Pearson pieces run
    on the calendar-bounded day frame (domain-bounded single-partition
    contract, same as binseg)."""
    daily = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.expr(
                f"CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))"
                f" div {BINSEG_UNIT_DIV} AS BIGINT)"
            ).alias("v")
        )
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    xs = (
        daily.withColumn("n", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn("s", F.sum("v").over(wall).cast("bigint"))
        .withColumn("i", F.row_number().over(W.orderBy("day")).cast("bigint"))
        .select("i", F.expr(_acf_rel_dev(tx.SPARK)).cast("bigint").alias("x"))
    )
    # All {ACF_MAX_LAG} lag pairings come from ONE ordered pass: x_{i+k}
    # is lead(x, k) over the calendar-bounded day frame, and the per-lag
    # (xa, xb) pairs explode in-JVM from the same row.  The pair SET per
    # lag is identical to the old per-lag self-join on ib = ia + k
    # (lead(k) is non-null exactly for i <= n-k), and every aggregate is
    # an order-free BIGINT sum — bit-identical results.  r15: the old
    # unrolled form re-derived the day rollup + window stack 12x (two
    # join legs x 6 lags; 70 Exchanges in the plan), this is 4.
    wl = W.orderBy("i")
    leads = xs.select(
        "x",
        *[
            F.lead("x", k).over(wl).alias(f"x{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    pair_structs = ", ".join(
        f"named_struct('lag', CAST({k} AS BIGINT), 'xa', x, 'xb', x{k})"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    pairs = leads.select(
        F.expr(
            f"explode(filter(array({pair_structs}), p -> p.xb IS NOT NULL))"
        ).alias("p")
    ).select("p.lag", "p.xa", "p.xb")
    legs = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.expr("xa * xb")).cast("bigint").alias("sxy"),
        F.sum("xa").cast("bigint").alias("sx"),
        F.sum("xb").cast("bigint").alias("sy"),
        F.sum(F.expr("xa * xa")).cast("bigint").alias("sxx"),
        F.sum(F.expr("xb * xb")).cast("bigint").alias("syy"),
    )
    return (
        legs.filter(
            (F.col("n_pairs") >= 2)
            & (F.expr("sxx - (sx * sx) div n_pairs") > 0)
            & (F.expr("syy - (sy * sy) div n_pairs") > 0)
        )
        .select(
            "lag",
            "n_pairs",
            F.expr(_acf_r2_signed(tx.SPARK)).cast("bigint").alias("r2_signed_micro"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Adjusted Rand Index: LSH-plane clusters vs gold labels
# ---------------------------------------------------------------------------

ARI_BITS = 4  # 16 sign-bit clusters from the fixed table-0 plane prefix


def _ari_cluster(dialect: str) -> str:
    """Deterministic cluster id: {ARI_BITS} sign bits of dots with the
    fixed lshplanes table-0 family — one expression, no iteration, and
    both engines fold the dot sequentially (dot_literal contract) so
    the sign bits are bit-identical."""
    from pedri_analysis_spark.functions import lshplanes as lp
    from pedri_analysis_spark.plans.similarity_queries import EMB_DIM

    bits = []
    for b in range(ARI_BITS):
        dot = lp.dot_literal(dialect, "embedding", lp.plane(b, EMB_DIM))
        bits.append(f"(CASE WHEN {dot} >= 0.0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _ari_oracle() -> str:
    d = "//"
    c2 = "{x} * ({x} - 1) // 2"
    return f"""
    WITH asg AS (
      SELECT vec_id, label, {_ari_cluster(tx.DUCK)} AS cluster
      FROM embeddings
    ),
    cont AS (
      SELECT cluster, label, count(*)::BIGINT AS nij
      FROM asg GROUP BY cluster, label
    ),
    pieces AS (
      SELECT
        (SELECT sum({c2.format(x="nij")}) FROM cont)::BIGINT AS idx,
        (SELECT sum({c2.format(x="a")}) FROM (
           SELECT sum(nij)::BIGINT AS a FROM cont GROUP BY cluster))::BIGINT AS pa,
        (SELECT sum({c2.format(x="b")}) FROM (
           SELECT sum(nij)::BIGINT AS b FROM cont GROUP BY label))::BIGINT AS pb,
        (SELECT {c2.format(x="count(*)")} FROM asg)::BIGINT AS t
    ),
    norm AS (
      SELECT idx, pa, pb, t,
             -- HUGEINT (int128) product + integer floor division: DuckDB's
             -- DECIMAL '//' ROUNDS the decimal quotient (diverges from
             -- Spark's truncating DECIMAL div); HUGEINT '//' is exact
             CAST((CAST(pa AS HUGEINT) * pb) {d} t AS BIGINT) AS e_floor
      FROM pieces
    )
    SELECT idx AS sum_c2_cells, pa AS sum_c2_clusters, pb AS sum_c2_labels, t AS n_pairs,
           -- max == E only when both partitions are trivial (everything in
           -- one cluster AND one label) => perfect agreement, ARI := 1; the
           -- unguarded division would ERROR here in DuckDB but return NULL
           -- in Spark, so the engines must branch BEFORE dividing
           (CASE WHEN (pa + pb) // 2 - e_floor <= 0 THEN 1000000
            ELSE (CASE WHEN idx >= e_floor THEN 1 ELSE -1 END
            * {tx.floor_scaled_div(tx.DUCK, "abs(idx - e_floor)", "(pa + pb) // 2 - e_floor", 1_000_000)})
           END)::BIGINT AS ari_micro
    FROM norm
    """


@_register("ari_clusters_vs_labels", _ari_oracle())
def q_ari_clusters_vs_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between the
    {ARI_BITS}-bit LSH-plane clustering of the embeddings and the gold
    ``label`` column — the chance-corrected cluster-quality audit an
    embedding-curation pipeline runs on its unsupervised partitions.
    ARI = (index - E) / (max - E) with index = ΣC(n_ij,2),
    E = ΣC(a_i,2)·ΣC(b_j,2)/C(n,2), max = (ΣC(a)+ΣC(b))/2 — exact pair
    combinatorics, no model.

    Determinism: the cluster id is sign bits of sequential-fold dots
    with literal planes (bit-identical cross-engine by the dot_literal
    contract); all pair counts are exact integers; E enters through ONE
    floor (pa*pb div t, a <=1-unit quantization mirrored in both
    engines — the autocorr normalize-first discipline, which keeps the
    final ratio in BIGINT where DECIMAL integer-division semantics
    would diverge), and the final ratio is floor-micro with the sign
    carried separately.

    BIGINT bound (wave convention): after the normalize-by-t floor the
    residue*1e6 product caps the EXACT range at ~4e6 vectors
    (C(n,2) <= 8e12); past that the DECIMAL(38,0) decomposition of the
    final ratio is the escape hatch (pa*pb is already computed in
    DECIMAL(19)x -> DECIMAL(38)).

    Scale: one narrow map to assign clusters (4 literal-plane dots),
    one (cluster, label) rollup — contingency is 16 x |labels|,
    domain-bounded; everything after is a 1-row frame."""
    asg = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "label", F.expr(_ari_cluster(tx.SPARK)).alias("cluster")
    )
    cont = asg.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    idx = cont.agg(
        F.sum(F.expr("nij * (nij - 1) div 2")).cast("bigint").alias("idx")
    )
    pa = (
        cont.groupBy("cluster")
        .agg(F.sum("nij").alias("a"))
        .agg(F.sum(F.expr("a * (a - 1) div 2")).cast("bigint").alias("pa"))
    )
    pb = (
        cont.groupBy("label")
        .agg(F.sum("nij").alias("b"))
        .agg(F.sum(F.expr("b * (b - 1) div 2")).cast("bigint").alias("pb"))
    )
    t = asg.agg(
        F.expr("CAST(count(*) * (count(*) - 1) div 2 AS BIGINT)").alias("t")
    )
    pieces = (
        idx.crossJoin(F.broadcast(pa))
        .crossJoin(F.broadcast(pb))
        .crossJoin(F.broadcast(t))
        .withColumn(
            "e_floor",
            F.expr("CAST((CAST(pa AS DECIMAL(19,0)) * pb) div t AS BIGINT)"),
        )
    )
    return pieces.select(
        F.col("idx").alias("sum_c2_cells"),
        F.col("pa").alias("sum_c2_clusters"),
        F.col("pb").alias("sum_c2_labels"),
        F.col("t").alias("n_pairs"),
        F.expr(
            # mirror of the oracle's degenerate-partition guard: ARI := 1
            # when max == E (trivial partitions), never divide by zero
            f"CAST(CASE WHEN (pa + pb) div 2 - e_floor <= 0 THEN 1000000 "
            f"ELSE (CASE WHEN idx >= e_floor THEN 1 ELSE -1 END) * "
            f"{tx.floor_scaled_div(tx.SPARK, 'abs(idx - e_floor)', '(pa + pb) div 2 - e_floor', 1_000_000)}"
            f" END AS BIGINT)"
        ).alias("ari_micro"),
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance diverse top-k over embeddings
# ---------------------------------------------------------------------------

MMR_K = 6
MMR_LAM_X10 = 7  # lambda = 0.7: mmr = (7*rel - 3*maxsim) / 10, order-equivalent
MMR_QUERY_ID = 0  # same probe vector as the cosine_topk family


def _mmr_cos_lit_spark(values: list[float]) -> str:
    """Spark-side cosine of the ``embedding`` column with a literal
    vector: sequential zip_with dot / (sqrt(sum sq) * python norm),
    round6 at the boundary — the _dcos contract (round6 absorbs the
    fold-order ulps between this and DuckDB's list_cosine_similarity,
    exactly as for the cosine_topk family)."""
    import math

    arr = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in values) + ")"
    dot = (
        f"aggregate(zip_with(embedding, {arr}, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    nv = (
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    ns = repr(math.sqrt(sum(float(v) * float(v) for v in values)))
    return (
        f"floor(({dot}) / (({nv}) * CAST({ns} AS DOUBLE)) * 1000000 + 0.5) "
        f"/ 1000000"
    )


def _mmr_oracle() -> str:
    from pedri_analysis_spark.plans.similarity_queries import _dcos

    ctes = [
        f"q AS MATERIALIZED (SELECT embedding FROM embeddings "
        f"WHERE vec_id = {MMR_QUERY_ID})",
        f"""d0 AS MATERIALIZED (
      SELECT e.vec_id, e.embedding,
             {_dcos('e.embedding', 'q.embedding')} AS rel,
             0.0 AS ms
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != {MMR_QUERY_ID}
    )""",
        """s0 AS MATERIALIZED (
      SELECT vec_id, embedding, rel, ms FROM d0
      ORDER BY rel DESC, vec_id ASC LIMIT 1
    )""",
    ]
    rows = ["SELECT 0::BIGINT AS sel_round, vec_id, rel AS rel_r6, "
            "ms AS maxsim_r6 FROM s0"]
    for i in range(1, MMR_K):
        prev_d, prev_s = f"d{i - 1}", f"s{i - 1}"
        ctes.append(
            f"""d{i} AS MATERIALIZED (
      SELECT d.vec_id, d.embedding, d.rel,
             greatest(d.ms, {_dcos('d.embedding', 's.embedding')}) AS ms
      FROM {prev_d} d CROSS JOIN {prev_s} s
      WHERE d.vec_id != s.vec_id
    )"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
      SELECT vec_id, embedding, rel, ms FROM d{i}
      ORDER BY {MMR_LAM_X10} * rel - {10 - MMR_LAM_X10} * ms DESC,
               vec_id ASC LIMIT 1
    )"""
        )
        rows.append(
            f"SELECT {i}::BIGINT AS sel_round, vec_id, rel AS rel_r6, "
            f"ms AS maxsim_r6 FROM s{i}"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(rows)


@_register("mmr_diverse_topk", _mmr_oracle())
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diverse top-{MMR_K} (Carbonell &
    Goldstein 1998): greedily select the vector maximizing
    lambda*rel - (1-lambda)*max-sim-to-selected (lambda = 0.7 as the
    integer pair {MMR_LAM_X10}/{10 - MMR_LAM_X10} — small-int-by-double
    products are exactly rounded IEEE ops, identical cross-engine), the
    re-ranking a retrieval pipeline applies so the top results aren't
    {MMR_K} near-duplicates of each other.

    Determinism: rel and the pairwise sims are round6 cosines (the
    _dcos contract: round6 absorbs fold-order ulps between the two
    engines' folds); greatest() chains in iteration order; the argmax's
    (mmr DESC, vec_id ASC) is a total order over bit-identical doubles.

    Scale: the selected set is a k x dim driver-side model exactly like
    kcenter/kmeans centroids — each round is one narrow map (cosine to
    <= k literal vectors) + one TakeOrdered(1); k driver-side collects
    of ONE tiny row each.  The oracle unrolls the same {MMR_K} rounds
    as MATERIALIZED CTEs (the kcenter linearization)."""
    import math

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    ).persist()
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).collect()[0]
    base = (
        emb.filter(F.col("vec_id") != MMR_QUERY_ID)
        .select(
            "vec_id",
            "embedding",
            F.expr(_mmr_cos_lit_spark(list(q["embedding"]))).alias("rel"),
        )
        .persist()
    )
    ms = F.lit(0.0)
    picked: list[tuple[int, int, float, float]] = []
    excluded: list[int] = []
    for i in range(MMR_K):
        if i == 0:
            order = [F.desc("rel"), F.asc("vec_id")]
        else:
            order = [
                F.desc(
                    F.expr(f"{MMR_LAM_X10} * rel - {10 - MMR_LAM_X10} * ms")
                ),
                F.asc("vec_id"),
            ]
        frame = base.select("vec_id", "embedding", "rel", ms.alias("ms"))
        if excluded:
            frame = frame.filter(~F.col("vec_id").isin(excluded))
        pick = frame.orderBy(*order).limit(1).collect()[0]
        picked.append((i, pick["vec_id"], pick["rel"], pick["ms"]))
        excluded.append(pick["vec_id"])
        if i < MMR_K - 1:
            ms = F.greatest(
                ms, F.expr(_mmr_cos_lit_spark(list(pick["embedding"])))
            )
    return spark.createDataFrame(
        picked, "sel_round long, vec_id long, rel_r6 double, maxsim_r6 double"
    )


# ---------------------------------------------------------------------------
# MAP@K of BM25 retrieval vs exact-phrase gold (ranking-eval family)
# ---------------------------------------------------------------------------

MAP_K = 10
MAP_LCM = 2520  # lcm(1..10): AP@10 becomes an exact integer fraction
MAP_SHARDS = 16  # stage-1 local top-k shards (bounded window partitions)


def _map_oracle() -> str:
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
             list_contains({tx.word_shingles(tx.DUCK, "toks", 2)}, '{ph}') AS gold
      FROM t2, stats"""
        )
    scored_legs = "\n      UNION ALL\n".join(legs)
    wsum = " + ".join(
        f"CASE WHEN k = {k} AND gold THEN cum * {MAP_LCM // k} ELSE 0 END"
        for k in range(1, MAP_K + 1)
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
      SELECT phrase, sum(CASE WHEN gold THEN 1 ELSE 0 END)::BIGINT AS n_gold
      FROM scored GROUP BY phrase
    ),
    topk AS (
      SELECT phrase, gold,
             row_number() OVER (PARTITION BY phrase
                                ORDER BY score DESC, doc_id ASC) AS k
      FROM scored
      QUALIFY k <= {MAP_K}
    ),
    cumg AS (
      SELECT phrase, k, gold,
             sum(CASE WHEN gold THEN 1 ELSE 0 END)
               OVER (PARTITION BY phrase ORDER BY k
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM topk
    ),
    ap AS (
      SELECT phrase,
             max(cum)::BIGINT AS hits_at_k,
             sum({wsum})::BIGINT AS ap_num
      FROM cumg GROUP BY phrase
    )
    SELECT a.phrase, g.n_gold, a.hits_at_k,
           (CASE WHEN g.n_gold > 0 THEN
             {tx.floor_scaled_div(
                 tx.DUCK,
                 "a.ap_num",
                 f"{MAP_LCM} * least(g.n_gold, {MAP_K})",
                 1_000_000,
             )}
            ELSE 0 END)::BIGINT AS ap_micro
    FROM ap a JOIN ng g ON g.phrase = a.phrase
    """


@_register("map_bm25_eval", _map_oracle())
def q_map_bm25_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@{MAP_K} (mean average precision, the TREC ranking-eval
    workhorse) of bag-of-words BM25 against exact-phrase gold sets —
    completing the MRR/NDCG family: AP@{MAP_K} = mean over gold hits in
    the top {MAP_K} of precision-at-their-rank, denominated by
    min(n_gold, {MAP_K}).  Every AP is an EXACT integer fraction: the
    precision terms share the literal common denominator
    {MAP_LCM} = lcm(1..{MAP_K}), so ap_num = Σ gold_k * cum_k *
    ({MAP_LCM}/k) is a pure integer and ap_micro one floor division —
    no nested quantization.

    Scale: the per-phrase top-{MAP_K} is computed in two bounded
    stages — shard-local row_number over (phrase, doc_id % {MAP_SHARDS})
    keeps <= {MAP_K} per shard, then the global window ranks
    <= {MAP_SHARDS} * {MAP_K} survivors per phrase — never a
    corpus-sized single window partition (the oracle uses the plain
    global window; values are what the contract compares).  Scoring
    reuses the mrr_bm25_phrases legs: one tokenize pass, broadcast
    stats, |phrases| flat-map legs.

    Determinism: (score DESC, doc_id ASC) is a total order; gold flags,
    cumulative counts and AP numerators are exact integers."""
    from pedri_analysis_spark.plans.draft_r13 import MRR_PHRASES
    from pedri_analysis_spark.plans.retrieval_queries import _term_micros, _tf

    toks = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    t2 = toks.select("doc_id", "toks", F.size("toks").cast("bigint").alias("dl"))
    t2, _ = materialize(t2)
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
                    f"array_contains({tx.word_shingles(tx.SPARK, 'toks', 2)}, '{ph}')"
                ).alias("gold"),
            )
        )
    scored = legs[0]
    for leg in legs[1:]:
        scored = scored.unionAll(leg)
    scored, _ = materialize(scored)
    ng = scored.groupBy("phrase").agg(
        F.sum(F.when(F.col("gold"), 1).otherwise(0)).cast("bigint").alias("n_gold")
    )
    order = [F.desc("score"), F.asc("doc_id")]
    w_local = W.partitionBy(
        "phrase", F.expr(f"pmod(doc_id, {MAP_SHARDS})")
    ).orderBy(*order)
    w_global = W.partitionBy("phrase").orderBy(*order)
    topk = (
        scored.withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= MAP_K)
        .withColumn("k", F.row_number().over(w_global))
        .filter(F.col("k") <= MAP_K)
    )
    wc = W.partitionBy("phrase").orderBy("k").rowsBetween(
        W.unboundedPreceding, 0
    )
    cumg = topk.withColumn(
        "cum", F.sum(F.when(F.col("gold"), 1).otherwise(0)).over(wc)
    )
    wsum = " + ".join(
        f"CASE WHEN k = {k} AND gold THEN cum * {MAP_LCM // k} ELSE 0 END"
        for k in range(1, MAP_K + 1)
    )
    ap = cumg.groupBy("phrase").agg(
        F.max("cum").cast("bigint").alias("hits_at_k"),
        F.sum(F.expr(wsum)).cast("bigint").alias("ap_num"),
    )
    return ap.join(ng, "phrase").select(
        "phrase",
        "n_gold",
        "hits_at_k",
        F.expr(
            f"CAST(CASE WHEN n_gold > 0 THEN "
            f"{tx.floor_scaled_div(tx.SPARK, 'ap_num', f'{MAP_LCM} * least(n_gold, {MAP_K})', 1_000_000)}"
            f" ELSE 0 END AS BIGINT)"
        ).alias("ap_micro"),
    )


# ---------------------------------------------------------------------------
# Personalized PageRank from a seed nation's suppliers
# ---------------------------------------------------------------------------

PPR_ITERS = 5
PPR_DAMP = 0.85
PPR_ALPHA = 0.15
# Seed set: all suppliers sharing the LOWEST supplier key's nation —
# data-derived so the seed set is non-empty at every SF (a literal
# nation name is empty at sf0.001's 10-supplier sample).
PPR_TOP = 20


def _ppr_oracle() -> str:
    iters = []
    for k in range(1, PPR_ITERS + 1):
        iters.append(
            f"""
    r{k} AS MATERIALIZED (
      SELECT n.node,
             {round6_sql(
                 f"{PPR_ALPHA}e0 * n.restart + {PPR_DAMP}e0 * "
                 f"COALESCE(c.csum, 0e0)"
             )} AS rank
      FROM rs n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(sum(CAST({round6_sql('r.rank / d.deg')} AS DECIMAL(18,6))) AS DOUBLE) AS csum
        FROM edges e
        JOIN r{k - 1} r ON r.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY e.dst
      ) c ON c.node = n.node
    )"""
        )
    return f"""
    WITH pair AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst FROM pair
      UNION ALL
      SELECT 's' || CAST(s AS VARCHAR) AS src, 'c' || CAST(c AS VARCHAR) AS dst FROM pair
    ),
    deg AS (
      SELECT src AS node, count(*)::BIGINT AS deg FROM edges GROUP BY 1
    ),
    seed_nat AS (
      SELECT s_nationkey FROM supplier ORDER BY s_suppkey LIMIT 1
    ),
    seeds AS (
      SELECT 's' || CAST(s.s_suppkey AS VARCHAR) AS node
      FROM supplier s JOIN seed_nat z ON z.s_nationkey = s.s_nationkey
    ),
    ns AS (SELECT count(*)::DOUBLE AS n FROM seeds JOIN deg USING (node)),
    rs AS (
      SELECT d.node,
             CASE WHEN s.node IS NOT NULL
                  THEN {round6_sql('1e0 / ns.n')} ELSE 0e0 END AS restart
      FROM deg d LEFT JOIN seeds s ON s.node = d.node
      CROSS JOIN ns
    ),
    r0 AS MATERIALIZED (SELECT node, restart AS rank FROM rs),{",".join(iters)}
    SELECT node, rank FROM r{PPR_ITERS}
    WHERE rank > 0e0
    ORDER BY rank DESC, node ASC LIMIT {PPR_TOP}
    """


@_register("personalized_pagerank", _ppr_oracle())
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (Jeh & Widom 2003): {PPR_ITERS} damped
    iterations over the undirected customer-supplier trade graph with
    the restart mass concentrated on one nation's suppliers (the
    lowest supplier key's nation — data-derived so the seed set is
    non-empty at every SF) — "which customers and suppliers are
    closest to this nation's supply base", the seeded-relevance
    variant of pagerank_trade_graph (whose
    determinism discipline this reuses verbatim: 6-dp floor-rounded
    per-edge contributions summed in DECIMAL, damping as a fixed chain
    of single IEEE ops, unrolled oracle CTEs).

    Unlike the uniform restart, nodes unreachable from the seed set
    keep rank 0; the WHERE rank > 0 filter keeps the top-{PPR_TOP}
    meaningful.

    Scale: identical topology to pagerank_trade_graph — the persisted
    pre-partitioned edge list, a node-sized (rank, deg) table joined in
    per iteration (AQE picks broadcast vs shuffle), one edge-sized
    dst-aggregation shuffle per iteration, per-generation persist to
    cut lineage.  The restart table is node-sized."""
    from pedri_analysis_spark.plans.dedup_queries import trade_graph_edges

    # Substrate build shared + optimized r15: trade_graph_edges.
    edges = trade_graph_edges(spark, sf_dir)
    # Materialize (r15): deg and the restart table below are referenced
    # in every one of the {PPR_ITERS} iterations; filling the cache
    # before the fan-out keeps each reference a cache hit instead of a
    # re-derivation inside the final multi-stage job.
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    deg, _ = materialize(deg)
    sup = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    seed_nat = sup.orderBy(F.asc("s_suppkey")).limit(1).select(
        F.col("s_nationkey").alias("z_nationkey")
    )
    seeds = sup.join(
        F.broadcast(seed_nat), sup.s_nationkey == F.col("z_nationkey")
    ).select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node")
    )
    # seeds must be graph members (a supplier with no lineitems has no
    # node); the oracle's ns counts the same join
    seeds_in = seeds.join(deg.select("node"), "node")
    ns = seeds_in.agg(F.count(F.lit(1)).cast("double").alias("n"))

    rs = (
        deg.select("node")
        .join(seeds_in.withColumn("is_seed", F.lit(1)), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            F.when(F.col("is_seed") == 1, round6(F.lit(1.0) / F.col("n")))
            .otherwise(F.lit(0.0))
            .alias("restart"),
        )
    )
    rs, _ = materialize(rs)  # see deg above — referenced every iteration
    ranks = rs.select("node", F.col("restart").alias("rank"))
    for _ in range(PPR_ITERS):
        rank_deg = ranks.join(deg, "node").withColumnRenamed("node", "src")
        contrib = edges.join(rank_deg, "src").select(
            "dst",
            round6(F.col("rank") / F.col("deg")).cast("decimal(18,6)").alias("contrib"),
        )
        csum = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("contrib").alias("csum")
        )
        ranks = rs.join(csum, "node", "left").select(
            "node",
            round6(
                F.lit(PPR_ALPHA) * F.col("restart")
                + F.lit(PPR_DAMP)
                * F.coalesce(F.col("csum").cast("double"), F.lit(0.0))
            ).alias("rank"),
        )
        # persist, NOT localCheckpoint (r15 A/B): truncating lineage per
        # generation with an eager localCheckpoint was tried against the
        # ~500 KB iteration-5 analyzed plan and measured SLOWER warm at
        # sf0.1 (8.3 s vs 7.0 s total) — five eager node-sized jobs cost
        # more than the saved re-analysis, and the single final action
        # pipelines the persisted chain better.
        ranks = ranks.persist()
    return (
        ranks.filter(F.col("rank") > 0.0)
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(PPR_TOP)
    )


# ---------------------------------------------------------------------------
# k-truss peeling on the co-purchase graph
# ---------------------------------------------------------------------------

KTRUSS_K = 3  # edges must sit in >= K-2 = 1 triangle to survive
KTRUSS_ITERS = 3  # fixed PREFIX of the peel (the kcore/PageRank discipline)


def _ktruss_sup_sql(e: str) -> str:
    """Per-edge triangle support over ordered edge set ``e`` — each
    triangle a<b<c found once by the ordered double-join, then projected
    onto its three edges."""
    return f"""(
      SELECT pa, pb, count(*)::BIGINT AS sup FROM (
        SELECT t.a AS pa, t.b AS pb FROM (
          SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
          FROM {e} e1
          JOIN {e} e2 ON e2.pa = e1.pb
          JOIN {e} e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ) t
        UNION ALL
        SELECT t.b, t.c FROM (
          SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
          FROM {e} e1
          JOIN {e} e2 ON e2.pa = e1.pb
          JOIN {e} e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ) t
        UNION ALL
        SELECT t.a, t.c FROM (
          SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
          FROM {e} e1
          JOIN {e} e2 ON e2.pa = e1.pb
          JOIN {e} e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        ) t
      ) GROUP BY pa, pb
    )"""


def _ktruss_oracle() -> str:
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges_sql

    ctes = [
        _copurchase_edges_sql().strip(),
        "e0 AS MATERIALIZED (SELECT pa, pb FROM e)",
    ]
    rows = []
    for i in range(KTRUSS_ITERS):
        ctes.append(
            f"""sup{i} AS MATERIALIZED (
      SELECT * FROM {_ktruss_sup_sql(f'e{i}')}
    )"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
      SELECT e.pa, e.pb FROM e{i} e
      JOIN sup{i} s ON s.pa = e.pa AND s.pb = e.pb
      WHERE s.sup >= {KTRUSS_K - 2}
    )"""
        )
        rows.append(
            f"""SELECT {i + 1}::BIGINT AS iter,
           (SELECT count(*) FROM e{i}) - (SELECT count(*) FROM e{i + 1})
             AS n_removed,
           (SELECT count(*) FROM e{i + 1})::BIGINT AS n_edges"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(rows)
    )


@_register("k_truss_copurchase", _ktruss_oracle())
def q_k_truss_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KTRUSS_K}-truss peeling (Cohen 2008) on the thresholded
    co-purchase graph: per round, every edge's triangle SUPPORT is
    recomputed over the surviving edge set and edges in fewer than
    {KTRUSS_K}-2 triangles drop — the cohesive-subgraph extractor one
    notch stronger than k-core (degree counts neighbors; support counts
    MUTUAL neighbors).  {KTRUSS_ITERS} fixed unrolled rounds, the
    kcore/PageRank prefix discipline (the report's per-round removals
    show how far the peel got; convergence means a 0-removal round).

    Determinism: pure edge counting; the ordered (lo, hi) edge storage
    finds each triangle exactly once and projects it onto its three
    edges.

    Scale: each round is one ordered-edge double-join (the
    triangle_count shape, O(E^1.5) wedge bound) plus an edge rollup;
    every round's survivor set is persisted before the next round's
    3-leg fan-out (the kcore lineage lesson — unpersisted, round k
    re-derives rounds 1..k-1 per leg).  The oracle MATERIALIZES each
    round's CTEs for the same linearization."""
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges

    # every generation stays cached until the last round is counted
    with released():
        cur, n = materialize(_copurchase_edges(spark, sf_dir).select("pa", "pb"))
        out_rows = []
        for i in range(KTRUSS_ITERS):
            e1 = cur.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
            e2 = cur.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
            e3 = cur.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
            tri = (
                e1.join(e2, F.col("b2") == F.col("b"))
                .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
                .select("a", "b", "c")
            )
            # ONE explode leg instead of a 3-way unionAll of tri: each union
            # leg re-derives the wedge double-join AND multiplies the round's
            # lineage fan-out (~10 refs to the previous generation per round,
            # so round k's ANALYSIS tree grows 10^k — measured 13 s of pure
            # Catalyst time by round 3 on a 3-edge graph); the exploded form
            # references the generation 4x and round 3 drops to ~1 s
            sup = (
                tri.select(
                    F.explode(
                        F.expr(
                            "array(struct(a AS pa, b AS pb), "
                            "struct(b AS pa, c AS pb), struct(a AS pa, c AS pb))"
                        )
                    ).alias("e")
                )
                .select("e.pa", "e.pb")
                .groupBy("pa", "pb")
                .agg(F.count(F.lit(1)).cast("bigint").alias("sup"))
                .filter(F.col("sup") >= KTRUSS_K - 2)
            )
            # r15: the join back onto cur was a no-op — every projected
            # triangle edge IS a cur edge by construction (all three legs of
            # the wedge join read cur), and the support rollup already
            # dedups to one row per edge, so the survivor set is sup itself.
            # One join + exchange removed per round.
            prev_n = n
            cur, n = materialize(sup.select("pa", "pb"))
            out_rows.append((i + 1, prev_n - n, n))
    return spark.createDataFrame(out_rows, "iter long, n_removed long, n_edges long")


# ---------------------------------------------------------------------------
# EXACT Jaccard near-dup mining via prefix filtering (no drop cap)
# ---------------------------------------------------------------------------

PFJ_K = 3  # word-shingle width (the dedup family's SHINGLE_K)
PFJ_T_NUM, PFJ_T_DEN = 3, 5  # threshold t = 3/5 = 0.6, an EXACT rational


def _pfj_oracle() -> str:
    sh = tx.word_shingles(tx.DUCK, "toks", PFJ_K)
    # prefix length p = sz - ceil(t*sz) + 1 (Chaudhuri 2006 / PPJoin)
    p = f"(sz - ({PFJ_T_NUM} * sz + {PFJ_T_DEN - 1}) // {PFJ_T_DEN} + 1)"
    return f"""
    WITH toks AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    g0 AS (
      SELECT DISTINCT doc_id, unnest({sh}) AS g FROM toks
    ),
    dfreq AS (SELECT g, count(*)::BIGINT AS df FROM g0 GROUP BY g),
    sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM g0 GROUP BY doc_id),
    ranked AS (
      SELECT g0.doc_id, g0.g, z.sz,
             row_number() OVER (PARTITION BY g0.doc_id
                                ORDER BY d.df ASC, g0.g ASC) AS rn
      FROM g0 JOIN dfreq d ON d.g = g0.g JOIN sz z ON z.doc_id = g0.doc_id
    ),
    prefix AS (SELECT doc_id, g, sz FROM ranked WHERE rn <= {p}),
    cand AS (
      SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
             a.sz AS sa, b.sz AS sb
      FROM prefix a JOIN prefix b
        ON a.g = b.g AND a.doc_id < b.doc_id
       AND least(a.sz, b.sz) * {PFJ_T_DEN} >= greatest(a.sz, b.sz) * {PFJ_T_NUM}
    ),
    inter AS (
      SELECT c.ia, c.ib, c.sa, c.sb, count(*)::BIGINT AS ni
      FROM cand c
      JOIN g0 x ON x.doc_id = c.ia
      JOIN g0 y ON y.doc_id = c.ib AND y.g = x.g
      GROUP BY c.ia, c.ib, c.sa, c.sb
    )
    SELECT ia AS a, ib AS b, sa AS n_a, sb AS n_b, ni AS n_inter,
           (ni * 1000 // (sa + sb - ni))::BIGINT AS jac_milli
    FROM inter
    WHERE ({PFJ_T_NUM} + {PFJ_T_DEN}) * ni >= {PFJ_T_NUM} * (sa + sb)
    """


@_register("prefix_filter_jaccard_dups", _pfj_oracle())
def q_prefix_filter_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard near-dup pairs (J >= {PFJ_T_NUM}/{PFJ_T_DEN})
    via PREFIX FILTERING (Chaudhuri et al. 2006 SSJoin; Xiao et al. 2008
    PPJoin candidate rule) — recall 1.0 BY CONSTRUCTION with no drop cap:
    this is the recall-preserving scale path every APPROX_PAST_CAP
    annotation in the capped LSH/mod-chunk dedup family names, now a
    first-class operator.

    The rule: order the shingle universe by ascending document frequency
    (rarest first, ties by shingle); a doc's PREFIX is its first
    sz - ceil(t*sz) + 1 shingles in that order.  Two docs with
    J >= t MUST share a prefix shingle (pigeonhole on the >= t*|union|
    shared elements), so the candidate join runs only on prefix
    postings.  Two further LOSSLESS prunes: the length filter
    (min_sz * {PFJ_T_DEN} >= max_sz * {PFJ_T_NUM}; J >= t forces size
    ratio >= t) at candidate time, and the exact integer verify
    ({PFJ_T_NUM + PFJ_T_DEN} * inter >= {PFJ_T_NUM} * (sz_a + sz_b),
    the cross-multiplied J >= {PFJ_T_NUM}/{PFJ_T_DEN} — no float, no
    floor, EXACT because t is the rational {PFJ_T_NUM}/{PFJ_T_DEN}).
    Equality with the quadratic all-pairs truth is pinned in
    tests/test_draft_r14.py.

    Determinism: (df ASC, shingle ASC) is a total order; every count is
    an exact integer; jac_milli is reporting-only floor.

    Scale: work is bounded by prefix-posting-list joins — prefix tokens
    are each doc's RAREST, so postings are short by construction; the
    output is the true pair set (output-bound, not cap-bound).  The
    named tightenings at extreme scale are PPJoin's positional filter
    and PPJoin+'s suffix filter (stricter candidate pruning, same exact
    semantics).  Per-doc ranking windows are doc-sized; the verify join
    is candidate-pair x doc-size, bounded by the candidate prune."""
    sh = tx.word_shingles(tx.SPARK, "toks", PFJ_K)
    g0 = spread(load_table(spark, "documents", sf_dir)).select(
        "doc_id", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    ).select("doc_id", F.explode(F.expr(sh)).alias("g")).distinct()
    dfreq = g0.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    # r15 restructure (plan-shape change only, same rows): ONE sorted-array
    # aggregate per doc replaces the szf groupBy + row_number window, and
    # array_intersect on the per-doc shingle arrays replaces the exploded
    # two-leg verify join + pair groupBy.  sort_array on struct(df, g) is
    # the window's (df ASC, g ASC) total order; slice(.., 1, p) is rn <= p;
    # size(array_intersect(ga, gb)) is the exact intersection count because
    # g0 is distinct per doc.  Old shape: 5 shuffles of the exploded
    # shingle frame + a |cand|x|doc| row blow-up before the verify agg;
    # new shape: one shuffle by g (dfreq join), one by doc_id (the array
    # build), then candidate-sized joins only.
    p = f"(sz - ({PFJ_T_NUM} * sz + {PFJ_T_DEN - 1}) div {PFJ_T_DEN} + 1)"
    docs = (
        g0.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "g"))).alias("gs"))
        .select(
            "doc_id",
            F.expr("transform(gs, s -> s.g)").alias("ga"),
            F.size("gs").cast("bigint").alias("sz"),
        )
        .withColumn("pfx", F.expr(f"slice(ga, 1, {p})"))
    )
    docs, _ = materialize(docs)  # feeds the candidate join and both verify legs
    a = docs.select(
        F.col("doc_id").alias("ia"),
        F.explode("pfx").alias("g"),
        F.col("sz").alias("sa"),
    )
    b = docs.select(
        F.col("doc_id").alias("ib"),
        F.explode("pfx").alias("gb"),
        F.col("sz").alias("sb"),
    )
    cand = (
        a.join(b, (F.col("g") == F.col("gb")) & (F.col("ia") < F.col("ib")))
        .filter(
            F.expr(
                f"least(sa, sb) * {PFJ_T_DEN} >= greatest(sa, sb) * {PFJ_T_NUM}"
            )
        )
        .select("ia", "ib", "sa", "sb")
        .distinct()
    )
    x = docs.select(F.col("doc_id").alias("ia"), F.col("ga").alias("g_ia"))
    y = docs.select(F.col("doc_id").alias("ib"), F.col("ga").alias("g_ib"))
    inter = (
        cand.join(x, "ia")
        .join(y, "ib")
        .select(
            "ia",
            "ib",
            "sa",
            "sb",
            F.size(F.array_intersect("g_ia", "g_ib")).cast("bigint").alias("ni"),
        )
    )
    return inter.filter(
        F.expr(f"({PFJ_T_NUM} + {PFJ_T_DEN}) * ni >= {PFJ_T_NUM} * (sa + sb)")
    ).select(
        F.col("ia").alias("a"),
        F.col("ib").alias("b"),
        F.col("sa").alias("n_a"),
        F.col("sb").alias("n_b"),
        F.col("ni").alias("n_inter"),
        F.expr("CAST(ni * 1000 div (sa + sb - ni) AS BIGINT)").alias("jac_milli"),
    )
