"""ML feature-engineering queries: smoothed target encoding, the hashing
trick, finite-window EWMA time-series features, bigram language-model
statistics, and the group-wise-min join-back (TPC-H Q2's core pattern).

These extend the training-data-pipeline surface (SURVEY §2 + the LLM
pipeline mandate): featurization ops a model-training pipeline runs over
curated corpora/tables.  Reference parity: the reference has no
feature-engineering stage (core/pedri_analysis.py is analysis-only);
these follow the same dual-dialect oracle discipline as text_queries.py.

Determinism notes (the repo-wide rules from plans/relational.py apply):
money sums run in DECIMAL and cast to DOUBLE once; every double division
is a single IEEE op on identical inputs; EWMA weights are powers of two,
so each weight multiplication is exact and the fixed left-associated sum
is bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.relational import dsum, money
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()

DAY_US = tx.DAY_US


# ---------------------------------------------------------------------------
# Smoothed target encoding (mean encoding with additive smoothing)
# ---------------------------------------------------------------------------

_TE_M = 10  # smoothing pseudo-count


@_register(
    "target_encode_mktsegment",
    f"""
    WITH joined AS (
      SELECT c.c_mktsegment, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    seg AS (
      SELECT c_mktsegment,
             count(*)::BIGINT AS n_orders,
             sum(o_totalprice::DECIMAL(12,2)) AS seg_sum
      FROM joined GROUP BY 1
    ),
    tot AS (
      SELECT sum(seg_sum) AS tot_sum, sum(n_orders)::BIGINT AS tot_n FROM seg
    )
    SELECT s.c_mktsegment, s.n_orders,
           CAST(s.seg_sum AS DOUBLE) / s.n_orders AS seg_mean,
           CAST(t.tot_sum AS DOUBLE) / t.tot_n AS global_mean,
           (CAST(s.seg_sum AS DOUBLE)
              + {_TE_M}e0 * (CAST(t.tot_sum AS DOUBLE) / t.tot_n))
             / (s.n_orders + {_TE_M}) AS smoothed_encoding
    FROM seg s, tot t
    """,
)
def q_target_encode_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of the customer market segment
    against order value — the classic categorical featurizer:
    ``(sum_y + m * global_mean) / (n + m)`` with pseudo-count m=10.

    Determinism: per-segment and global sums stay DECIMAL (exact under any
    aggregation order) and cast to DOUBLE once; the smoothing formula is
    the same fixed sequence of IEEE ops in both dialects.

    Scale: one fact-dim equi-join shuffled on custkey, one partial-agg
    shuffle to |segments| rows; the global totals come from an
    unpartitioned window over those k segment rows — the fact table is
    scanned exactly ONCE (a naive ``seg.agg()`` global branch would
    recompute the whole join/agg subtree — verified via .explain) and
    nothing wide survives the first aggregation."""
    o = load_table(spark, "orders", sf_dir).select("o_custkey", "o_totalprice")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).alias("seg_sum"),
        )
    )
    # Global totals via a window over the k segment rows (k = #segments,
    # single-partition by construction) — no second scan, no cross join.
    wall = W.partitionBy()
    tot_sum = F.sum("seg_sum").over(wall)
    tot_n = F.sum("n_orders").over(wall).cast("bigint")
    gm = tot_sum.cast("double") / tot_n
    return seg.select(
        "c_mktsegment",
        "n_orders",
        (F.col("seg_sum").cast("double") / F.col("n_orders")).alias("seg_mean"),
        gm.alias("global_mean"),
        (
            (F.col("seg_sum").cast("double") + F.lit(float(_TE_M)) * gm)
            / (F.col("n_orders") + F.lit(_TE_M))
        ).alias("smoothed_encoding"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64


@_register(
    "feature_hash_buckets",
    f"""
    WITH feats AS (
      SELECT (c.c_mktsegment || '|' || o.o_orderpriority) AS feat
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT ({tx.seeded_hash64(tx.DUCK, 'feat', 'fh')}) % {_FH_BUCKETS} AS bucket,
           count(*)::BIGINT AS n_rows,
           count(DISTINCT feat)::BIGINT AS n_features
    FROM feats GROUP BY 1
    """,
)
def q_feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: hash the (segment × priority) cross feature into
    a fixed 64-bucket space and report per-bucket row mass and collision
    count (n_features > 1 = colliding categories) — how a trainer bounds
    one-hot width without a vocabulary pass.

    Scale: the feature string is hashed row-side (no vocabulary build, no
    driver state); the aggregation shuffles at most {_FH_BUCKETS} groups
    after partial agg.  The hash is the engine-wide 60-bit md5 primitive
    (functions/textexpr.py), bit-identical in both dialects."""
    o = load_table(spark, "orders", sf_dir).select("o_custkey", "o_orderpriority")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    feats = o.join(c, o.o_custkey == c.c_custkey).select(
        F.concat_ws("|", "c_mktsegment", "o_orderpriority").alias("feat")
    )
    h = tx.seeded_hash64(tx.SPARK, "feat", "fh")
    return (
        feats.groupBy(F.expr(f"({h}) % {_FH_BUCKETS}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("feat").alias("n_features"),
        )
    )


# ---------------------------------------------------------------------------
# Finite-window EWMA over the daily revenue series
# ---------------------------------------------------------------------------

_EWMA_K = 8  # current row + 7 lags


def _ewma_formula() -> str:
    """Truncated-EWMA (alpha=0.5) over the trailing _EWMA_K observations,
    renormalized over the lags actually present: sum(w_k * x_{t-k}) /
    sum(w_k present).  Weights 0.5^k are exact binary fractions, the sum
    is fixed left-associative — the whole expression is bit-identical
    cross-engine, so it is shared verbatim by both dialects."""
    num = ["revenue"]
    den = ["1"]
    for k in range(1, _EWMA_K):
        w = repr(0.5**k)  # exact decimal text for a power of two
        num.append(f"{w}e0 * coalesce(l{k}, 0)")
        den.append(f"{w}e0 * (CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END)")
    return "(" + " + ".join(num) + ") / (" + " + ".join(den) + ")"


_EWMA_LAGS = ", ".join(
    f"lag(revenue, {k}) OVER w AS l{k}" for k in range(1, _EWMA_K)
)


@_register(
    "ewma_daily_revenue",
    f"""
    WITH daily AS (
      SELECT {tx.epoch_day(tx.DUCK, 'o_orderdate')} AS day,
             count(*)::BIGINT AS n_orders,
             CAST(sum(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT day, n_orders, revenue, {_EWMA_LAGS}
      FROM daily WINDOW w AS (ORDER BY day)
    )
    SELECT day, n_orders, revenue, {_ewma_formula()} AS ewma8 FROM lagged
    """,
)
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue — the
    trend-smoothing feature a forecasting pipeline derives from an event
    table.  True EWMA is a recurrence SQL windows can't express; this is
    the standard truncated form over the trailing 8 days (alpha=0.5, so
    the dropped tail weight is < 0.4%), renormalized over present lags.

    Scale: the heavy step is the daily pre-aggregation (one partial-agg
    shuffle); the unpartitioned ORDER BY day window then runs over a
    calendar-bounded series (~2,500 rows for seven years regardless of
    fact-table size), so the single-partition window is safe by
    construction — same argument as the 1-row global rollups."""
    o = load_table(spark, "orders", sf_dir)
    daily = (
        o.groupBy(
            F.expr(tx.epoch_day(tx.SPARK, "o_orderdate")).alias(
                "day"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice")).alias("revenue"),
        )
    )
    w = W.orderBy("day")
    lagged = daily.select(
        "day",
        "n_orders",
        "revenue",
        *[F.lag("revenue", k).over(w).alias(f"l{k}") for k in range(1, _EWMA_K)],
    )
    return lagged.select(
        "day", "n_orders", "revenue", F.expr(_ewma_formula()).alias("ewma8")
    )


# ---------------------------------------------------------------------------
# Bigram language-model counts (conditional probabilities, top-k)
# ---------------------------------------------------------------------------


def _bigrams(dialect: str, toks: str) -> str:
    """All adjacent token pairs as 'w1 w2' strings — NOT deduplicated
    (LM counts need every occurrence; contrast tx.word_shingles, which
    dedups for set-similarity).  Tokens are whitespace-split so the
    space separator is unambiguous."""
    if dialect == tx.SPARK:
        return (
            f"CASE WHEN size({toks}) >= 2 THEN "
            f"transform(sequence(0, size({toks}) - 2), "
            f"i -> concat_ws(' ', {toks}[i], {toks}[i + 1])) "
            f"ELSE array() END"
        )
    return (
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"list_transform(generate_series(0, len({toks}) - 2), "
        f"i -> {toks}[i + 1] || ' ' || {toks}[i + 2]) "
        f"ELSE [] END"
    )


@_register(
    "bigram_lm_topk",
    f"""
    WITH tok AS (
      SELECT {tx.tokens(tx.DUCK, 'text')} AS t FROM documents
    ),
    pairs AS (
      SELECT bg FROM tok, unnest({_bigrams(tx.DUCK, 't')}) AS u(bg)
    ),
    big AS (
      SELECT bg, count(*)::BIGINT AS n_bigram FROM pairs GROUP BY bg
    ),
    ctx AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(n_bigram)::BIGINT AS n_context
      FROM big GROUP BY 1
    )
    SELECT split_part(b.bg, ' ', 1) AS w1,
           split_part(b.bg, ' ', 2) AS w2,
           b.n_bigram, c.n_context,
           CAST(b.n_bigram AS DOUBLE) / c.n_context AS cond_p
    FROM big b JOIN ctx c ON split_part(b.bg, ' ', 1) = c.w1
    ORDER BY b.n_bigram DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def q_bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model statistics: count every adjacent token
    pair, derive context counts, and report the top-20 bigrams with their
    conditional probability P(w2|w1) = c(w1,w2) / c(w1) — the n-gram LM /
    collocation primitive of a text pipeline.

    Scale: explode → partial aggregation (the shuffle carries each
    partition's local bigram vocabulary, never the token stream); context
    counts come from a sum-window PARTITIONED BY w1 over the bigram rows
    — one vocab-sized shuffle, and the corpus is scanned/exploded ONCE (a
    ``big.groupBy(w1)`` + join formulation recomputes the whole explode
    subtree — verified via .explain).  Top-k is TakeOrderedAndProject;
    ties are totally ordered by (count desc, w1, w2), so the LIMIT is
    deterministic."""
    d = load_table(spark, "documents", sf_dir).select(
        F.expr(tx.tokens(tx.SPARK, "text")).alias("t")
    )
    pairs = d.select(F.explode(F.expr(_bigrams(tx.SPARK, "t"))).alias("bg"))
    big = (
        pairs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
        .withColumn("w1", F.expr("split_part(bg, ' ', 1)"))
    )
    n_context = F.sum("n_bigram").over(W.partitionBy("w1")).cast("bigint")
    return (
        big.select(
            "w1",
            F.expr("split_part(bg, ' ', 2)").alias("w2"),
            "n_bigram",
            n_context.alias("n_context"),
            (F.col("n_bigram").cast("double") / n_context).alias("cond_p"),
        )
        .orderBy(F.desc("n_bigram"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Group-wise min join-back (TPC-H Q2's correlated-min pattern)
# ---------------------------------------------------------------------------


@_register(
    "cheapest_supplier_per_part",
    """
    WITH mn AS (
      SELECT l_partkey, min(l_extendedprice) AS min_price
      FROM lineitem GROUP BY 1
    ),
    best AS (
      SELECT m.l_partkey, m.min_price, min(l.l_suppkey)::BIGINT AS s_suppkey
      FROM mn m JOIN lineitem l
        ON l.l_partkey = m.l_partkey AND l.l_extendedprice = m.min_price
      GROUP BY 1, 2
    )
    SELECT b.l_partkey AS p_partkey, p.p_name, b.min_price, b.s_suppkey, s.s_name
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.s_suppkey
    """,
)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every part, the supplier offering its minimum observed price —
    TPC-H Q2's correlated-subquery-min (the oracle keeps the textbook
    aggregate-then-join-back form) re-expressed Spark-side as ONE
    struct-min aggregation: ``min(struct(price, suppkey))`` compares
    lexicographically, so one hash aggregate yields the min price AND the
    min-suppkey tie-break — the same ordered-struct-argmin the pedri
    lineup pick uses (plans/pedri_pipeline.py).  Reference parity: the
    per-match 'first starting position' pick
    (core/pedri_analysis.py:258-266) is the same argmin shape.

    Determinism: struct comparison on doubles is exact (no accumulation),
    and the suppkey component resolves price ties totally.

    Scale: the join-back form scans + shuffles the fact table twice; the
    struct-min form scans ONCE and shuffles partial-aggregated
    (partkey → struct) pairs only, then broadcast-joins the part/supplier
    dims.  Verified via .explain: single lineitem scan, one Exchange."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    best = (
        li.groupBy("l_partkey")
        .agg(
            F.min(
                F.struct(
                    F.col("l_extendedprice").alias("min_price"),
                    F.col("l_suppkey").cast("bigint").alias("s_suppkey"),
                )
            ).alias("b")
        )
        .select("l_partkey", "b.min_price", "b.s_suppkey")
    )
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_name")
    s = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("sup_key"), "s_name"
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("sup_key"))
        .select("p_partkey", "p_name", "min_price", "s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Dictionary encoding (StringIndexer-style vocabulary build)
# ---------------------------------------------------------------------------


@_register(
    "dictionary_encode_parttypes",
    """
    WITH vocab AS (
      SELECT p_type, count(*)::BIGINT AS n FROM part GROUP BY 1
    )
    SELECT p_type,
           (row_number() OVER (ORDER BY n DESC, p_type ASC) - 1)::BIGINT AS idx,
           n
    FROM vocab
    """,
)
def q_dictionary_encode_parttypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringIndexer-style dictionary encoding: build the categorical
    vocabulary of part types with frequency-descending dense ids
    (ties broken by value, so the assignment is total and reproducible —
    the property a feature store needs to re-encode consistently across
    runs).

    Scale: one partial-agg shuffle to |vocab| rows; the id-assignment
    window sorts only the vocabulary (single partition by construction,
    same argument as the EWMA calendar series), never the fact table.
    Encoding the fact table back is then a broadcast hash join against
    this dictionary."""
    p = load_table(spark, "part", sf_dir)
    vocab = p.groupBy("p_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = W.orderBy(F.desc("n"), F.asc("p_type"))
    return vocab.select(
        "p_type",
        (F.row_number().over(w) - 1).cast("bigint").alias("idx"),
        "n",
    )


# ---------------------------------------------------------------------------
# Equi-depth feature binning (distributed exact ntile)
# ---------------------------------------------------------------------------

EQUIDEPTH_BINS = 8
EQUIDEPTH_BAND = 1000  # coarse value band the distributed rank shuffles on


@_register(
    "equidepth_price_bins",
    f"""
    WITH b AS (
      SELECT l_extendedprice,
             ntile({EQUIDEPTH_BINS}) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             )::BIGINT AS bin
      FROM lineitem
    )
    SELECT bin, count(*)::BIGINT AS n_rows,
           min(l_extendedprice) AS price_lo,
           max(l_extendedprice) AS price_hi,
           sum(l_extendedprice::DECIMAL(12,2))::DOUBLE AS price_sum
    FROM b GROUP BY bin ORDER BY bin
    """,
)
def q_equidepth_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) discretization of a numeric feature into
    EXACT ntile bins — the QuantileDiscretizer a feature pipeline runs
    before bucketized embeddings / monotonic binning, with per-bin
    count/lo/hi/sum so the bin edges ship as metadata.

    The oracle is literally ``ntile(8) OVER (ORDER BY ...)`` — but a
    global-ORDER window is a single-partition sort of the whole fact
    table, the one shape this repo bans at 100 TB. The Spark plan instead
    computes the SAME rank distributively:

    1. band each row by a coarse value prefix (floor(price/1000) — the
       shuffle key; bands are value-domain-bounded, ~100 here, and the
       band width is a config knob against skew at scale);
    2. per-band counts -> prefix-sum offsets (a window over the ~100-row
       band frame, trivially single-partition);
    3. row_number within each band (ONE hash shuffle of the fact table,
       on the band key) + broadcast-joined band offset = exact global
       rank, because the band key is a monotone function of the sort key
       and the (price, orderkey, linenumber) tiebreak is total;
    4. the ntile bin is then pure integer arithmetic on (rank, N): the
       first N%k bins take ceil(N/k) rows, the rest floor(N/k) — the
       standard-SQL ntile definition both engines implement.

    N arrives as a 1-row count frame broadcast (allowlisted BNLJ). Money
    sums in DECIMAL per the determinism rules; lo/hi are exact doubles
    (min/max, no folding)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    d = li.withColumn(
        "band",
        F.floor(F.col("l_extendedprice") / EQUIDEPTH_BAND).cast("bigint"),
    )
    bandc = d.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("bn")
    )
    wb = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    offs = bandc.select(
        "band",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).cast("bigint").alias("off"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wr = W.partitionBy("band").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    k = EQUIDEPTH_BINS
    binexpr = (
        f"CAST(CASE WHEN rank <= (n_total % {k}) * ((n_total div {k}) + 1) "
        f"THEN (rank - 1) div ((n_total div {k}) + 1) + 1 "
        f"ELSE (n_total % {k}) "
        f"  + (rank - (n_total % {k}) * ((n_total div {k}) + 1) - 1) "
        f"    div (n_total div {k}) + 1 END AS BIGINT)"
    )
    ranked = (
        d.join(offs, "band")
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("rank", (F.col("off") + F.col("rn")).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .withColumn("bin", F.expr(binexpr))
    )
    return (
        ranked.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_extendedprice").alias("price_lo"),
            F.max("l_extendedprice").alias("price_hi"),
            dsum(money("l_extendedprice")).alias("price_sum"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Grouped OLS regression (closed-form, exact 128-bit moment sums)
# ---------------------------------------------------------------------------


@_register(
    "ols_regression_price_qty",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*)::HUGEINT AS n,
             sum(CAST(l_quantity AS BIGINT)::HUGEINT)::HUGEINT AS sx,
             sum(((l_extendedprice::DECIMAL(12,2) * 100)::BIGINT)::HUGEINT)::HUGEINT AS sy,
             sum((CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))::HUGEINT)::HUGEINT AS sxx,
             sum((CAST(l_quantity AS BIGINT)
                  * (l_extendedprice::DECIMAL(12,2) * 100)::BIGINT)::HUGEINT)::HUGEINT AS sxy,
             sum(((l_extendedprice::DECIMAL(12,2) * 100)::BIGINT
                  * (l_extendedprice::DECIMAL(12,2) * 100)::BIGINT)::HUGEINT)::HUGEINT AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n::BIGINT AS n_rows,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
           CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS intercept_cents,
           (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
    FROM s ORDER BY l_returnflag
    """,
)
def q_ols_regression_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped simple linear regression (closed-form OLS) of line price
    on quantity, per return flag — the per-segment trend fit a pricing /
    feature-importance pass computes without any ML library.

    Determinism: every moment (n, Sx, Sy, Sxx, Sxy, Syy) is an EXACT
    128-bit integer (quantities are whole numbers, prices quantized to
    cents via the money idiom; Spark DECIMAL(38,0) ≡ DuckDB HUGEINT).
    slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²) and intercept =
    (Sy·Sxx − Sx·Sxy) / (n·Sxx − Sx²) are each ONE IEEE division of two
    exact-integer casts; r² squares the exact numerators AFTER the cast,
    so both engines perform the identical two multiplies + one divide.
    Cross-products stay < 1e38 through sf1000 (n≈6e9 rows: n·Syy≈4e33).

    Scale: one partial+final aggregate — six moments accumulate map-side
    and merge associatively; the result is |returnflag| = 3 rows.
    Embarrassingly parallel, zero joins, zero windows."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        F.expr("CAST(l_quantity AS BIGINT)").alias("xq"),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("yc"),
    )
    d38 = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("xq").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("yc").cast(d38)).cast(d38).alias("sy"),
        F.sum(F.expr("CAST(xq * xq AS DECIMAL(38,0))")).cast(d38).alias("sxx"),
        F.sum(F.expr("CAST(xq * yc AS DECIMAL(38,0))")).cast(d38).alias("sxy"),
        F.sum(F.expr("CAST(yc * yc AS DECIMAL(38,0))")).cast(d38).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        (num.cast("double") / den.cast("double")).alias("slope_cents"),
        (
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
            / den.cast("double")
        ).alias("intercept_cents"),
        (
            (num.cast("double") * num.cast("double"))
            / (den.cast("double") * deny.cast("double"))
        ).alias("r2"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Cumulative gains / lift table (model-evaluation deciles)
# ---------------------------------------------------------------------------

LIFT_DECILES = 10
LIFT_BAND = 1000  # cent band the distributed rank shuffles on


def _lift_oracle() -> str:
    k = LIFT_DECILES
    return f"""
    WITH e AS (
      SELECT (value::DECIMAL(12,2) * 100)::BIGINT AS v_c, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT pos, ntile({k}) OVER (ORDER BY v_c DESC, event_id ASC) AS decile
      FROM e
    ),
    d AS (
      SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_rows,
             sum(pos)::BIGINT AS n_pos
      FROM r GROUP BY decile
    ),
    t AS (SELECT sum(n_rows)::BIGINT AS n_tot, sum(n_pos)::BIGINT AS pos_tot FROM d)
    SELECT decile, n_rows, n_pos,
           ((n_pos * 1000000) // n_rows)::BIGINT AS pos_rate_micros,
           ((sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000)
             // t.pos_tot)::BIGINT AS cum_capture_micros,
           (((n_pos * 1000000) // n_rows)::HUGEINT * t.n_tot // t.pos_tot)::BIGINT
             AS lift_micros
    FROM d CROSS JOIN t ORDER BY decile
    """


@_register("lift_decile_gains", _lift_oracle())
def q_lift_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table: rank events by value descending,
    cut into exact deciles, and report per-decile positive ('purchase')
    rate, cumulative capture, and lift vs the base rate — the
    model-evaluation table a targeting/churn pipeline prints before
    picking a contact-depth cutoff.

    The oracle is a global ``ntile(10) OVER (ORDER BY score DESC)`` —
    the Spark plan computes the SAME exact rank distributively via the
    equidepth band trick: band on the quantized score (monotone in the
    sort key), per-band prefix-sum offsets over the domain-bounded band
    frame, row_number within band + offset = exact global rank, then
    the standard-SQL ntile arithmetic on (rank, N). ONE hash shuffle of
    the fact table, on the band key.

    Determinism: scores quantized to cents; (v_c DESC, event_id ASC) is
    a total order; rates/captures are floor-divided exact integers;
    lift's nested floors are mirrored formula-text-identically (128-bit
    intermediate for rate·N past ~1e12 rows).

    Scale: identical topology to equidepth_price_bins — bands are
    value-domain-bounded; the decile rollup is 10 rows; N and totals
    ride a 1-row broadcast frame (allowlisted)."""
    k = LIFT_DECILES
    e = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull()).select(
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("v_c"),
        "event_id",
        F.expr(
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
        ).alias("pos"),
    )
    # descending score order: band ascending in -(v_c div BAND)
    d = e.withColumn(
        "band", F.expr(f"-(v_c div {LIFT_BAND})").cast("bigint")
    )
    bandc = d.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("bn"))
    wb = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    offs = bandc.select(
        "band",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).cast("bigint").alias("off"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wr = W.partitionBy("band").orderBy(F.desc("v_c"), F.asc("event_id"))
    binexpr = (
        f"CAST(CASE WHEN rank <= (n_total % {k}) * ((n_total div {k}) + 1) "
        f"THEN (rank - 1) div ((n_total div {k}) + 1) + 1 "
        f"ELSE (n_total % {k}) "
        f"  + (rank - (n_total % {k}) * ((n_total div {k}) + 1) - 1) "
        f"    div (n_total div {k}) + 1 END AS BIGINT)"
    )
    ranked = (
        d.join(offs, "band")
        .withColumn("rn", F.row_number().over(wr))
        .withColumn("rank", (F.col("off") + F.col("rn")).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .withColumn("decile", F.expr(binexpr))
    )
    dd = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    t2 = dd.agg(
        F.sum("n_rows").cast("bigint").alias("n_tot"),
        F.sum("n_pos").cast("bigint").alias("pos_tot"),
    )
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        dd.crossJoin(F.broadcast(t2))
        .withColumn("cum_pos", F.sum("n_pos").over(wcum).cast("bigint"))
        .select(
            "decile",
            "n_rows",
            "n_pos",
            F.expr("(n_pos * 1000000) div n_rows")
            .cast("bigint")
            .alias("pos_rate_micros"),
            F.expr("(cum_pos * 1000000) div pos_tot")
            .cast("bigint")
            .alias("cum_capture_micros"),
            F.expr(
                "CAST(CAST((n_pos * 1000000) div n_rows AS DECIMAL(38,0))"
                " * n_tot div pos_tot AS BIGINT)"
            ).alias("lift_micros"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Pareto skyline (2-D dominance frontier)
# ---------------------------------------------------------------------------


@_register(
    "pareto_skyline_parts",
    """
    WITH pv AS (
      SELECT (p_retailprice::DECIMAL(12,2) * 100)::BIGINT AS v,
             max(p_size)::BIGINT AS s
      FROM part GROUP BY v
    ),
    fr AS (
      SELECT v, s,
             coalesce(max(s) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               -1)::BIGINT AS prevmax
      FROM pv
    )
    SELECT f.v AS price_cents, f.s AS size, count(*)::BIGINT AS n_parts
    FROM fr f JOIN part p
      ON (p.p_retailprice::DECIMAL(12,2) * 100)::BIGINT = f.v
     AND p.p_size::BIGINT = f.s
    WHERE f.s > f.prevmax
    GROUP BY f.v, f.s ORDER BY f.v
    """,
)
def q_pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (dominance frontier) over parts on (price ↓ is
    better, size ↑ is better): the multi-objective shortlist query —
    a part is on the frontier iff no other part is both cheaper-or-equal
    and larger (with one strict).  Reported as frontier (price, size)
    points with the number of parts achieving each.

    Computed by the classic sort-scan reduction: collapse to per-price
    max size, then a point is on the frontier iff its size exceeds the
    running max over strictly cheaper prices — one cumulative window,
    no pairwise dominance join (the naive skyline is O(n²)).

    Determinism: prices quantized to cents; frontier membership is pure
    integer comparison; member counts join back on the exact (price,
    size) pair.

    Scale: the per-price frame is value-DOMAIN-bounded (fixed price
    domain → bounded distinct cents at any fact size — the AUC
    argument), so the running-max window is constant-bounded; the
    member-count join is a broadcast of the (smaller still) frontier
    frame against one fact scan.  For an unbounded value domain, swap
    the window for the equidepth band trick (banded prefix max)."""
    p = load_table(spark, "part", sf_dir).select(
        F.expr(
            "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("v"),
        F.col("p_size").cast("bigint").alias("s"),
    )
    pv = p.groupBy("v").agg(F.max("s").cast("bigint").alias("s"))
    wpm = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    fr = (
        pv.withColumn(
            "prevmax",
            F.coalesce(F.max("s").over(wpm), F.lit(-1)).cast("bigint"),
        )
        .where(F.col("s") > F.col("prevmax"))
        .select("v", "s")
    )
    return (
        p.join(F.broadcast(fr), ["v", "s"])
        .groupBy("v", "s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .select(F.col("v").alias("price_cents"), F.col("s").alias("size"), "n_parts")
        .orderBy("price_cents")
    )
