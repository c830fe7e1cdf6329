"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus pipeline samples constantly — uniform subsets for quick
iterations, train/test splits, class-balancing, per-source quota mixes
(cf. the public data-mixture literature: deduplicated web + curated
sources at tuned rates). Spark's native ``df.sample`` / ``sampleBy`` are
seeded-RNG based and NOT reproducible across engines, partitionings, or
even re-runs with different splits — unacceptable for dataset lineage.

Every operator here derives its decision from a content hash
(functions.textexpr.seeded_hash64: md5 → 60-bit int, identical in Spark
and DuckDB), so:

- the SAME rows are selected no matter the partitioning, cluster size, or
  engine (the DuckDB oracle runs the identical algorithm);
- re-runs are idempotent (dataset versioning / lineage holds);
- per-row decisions are embarrassingly parallel (no shuffle to sample,
  no driver-side RNG state).

The reference repo has no sampling (it is a full-scan analytics pipeline,
/root/reference/core/pedri_analysis.py) — these operators are part of the
beyond-reference training-pipeline surface BASELINE.json asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()

# hash-bucket space: h mod 10_000 gives 0.01% rate resolution
BUCKETS = 10_000
SAMPLE_RATE_BP = 2_000  # 20.00% uniform sample
TEST_RATE_BP = 1_000  # 10.00% test split
BALANCED_PER_CLASS = 40  # class-balanced cap per lang
SOURCE_RATES_BP = {  # per-source mixture quota (basis points)
    "src0": 10_000,  # "curated": keep all
    "src1": 10_000,
    "src2": 5_000,  # mid-trust: half
    "src3": 5_000,
    "src4": 1_000,  # raw web-like: heavy downweight
    "src5": 1_000,
}
DEFAULT_RATE_BP = 2_500


def _bucket(dialect: str, key_expr: str, seed: str) -> str:
    """Deterministic hash bucket in [0, BUCKETS) for a key expression."""
    h = tx.seeded_hash64(dialect, key_expr, seed)
    return f"({h} % {BUCKETS})"


_SB = _bucket(tx.SPARK, "CAST(doc_id AS STRING)", "sample")
_DB = _bucket(tx.DUCK, "doc_id::VARCHAR", "sample")
# full-width hashes for ORDERING (the buckets are for rate thresholds;
# ordering by a 10k-value bucket degenerates to doc_id ties at scale)
_SH = tx.seeded_hash64(tx.SPARK, "CAST(doc_id AS STRING)", "sample")
_DH = tx.seeded_hash64(tx.DUCK, "doc_id::VARCHAR", "sample")
_SSPLIT = _bucket(tx.SPARK, "CAST(doc_id AS STRING)", "split")
_DSPLIT = _bucket(tx.DUCK, "doc_id::VARCHAR", "split")


@_register(
    "sample_hash_bernoulli",
    f"""
    SELECT doc_id, lang, {_DB} AS bucket
    FROM documents
    WHERE {_DB} < {SAMPLE_RATE_BP}
    """,
)
def q_sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform 20.0% Bernoulli sample by content-hash threshold.

    Unlike ``df.sample(fraction)`` the selection is a pure per-row
    predicate — reproducible across engines/partitionings, pushed down
    like any filter, zero shuffle. Growing the sample (raising the
    threshold) keeps every previously selected row (nested samples).
    """
    d = load_table(spark, "documents", sf_dir)
    bucket = F.expr(_SB)
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < SAMPLE_RATE_BP)
        .select("doc_id", "lang", "bucket")
    )


@_register(
    "train_test_split_counts",
    f"""
    SELECT lang,
           CASE WHEN {_DSPLIT} < {TEST_RATE_BP} THEN 'test' ELSE 'train' END AS split,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS n_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10.0% train/test split with per-(lang, split)
    accounting. The split key is hashed with its own seed so membership is
    independent of the sampling hash — a doc's split never changes as the
    corpus grows (stable eval sets)."""
    d = load_table(spark, "documents", sf_dir)
    split = F.when(F.expr(_SSPLIT) < TEST_RATE_BP, "test").otherwise("train")
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


@_register(
    "class_balanced_sample",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_DH} ASC, doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang, rn::BIGINT AS rn
    FROM ranked WHERE rn <= {BALANCED_PER_CLASS}
    """,
)
def q_class_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsample: at most 40 docs per language, chosen by
    hash order (NOT doc_id order, which would bias toward old docs; NOT
    RNG, which would be irreproducible).  Ranks the FULL 60-bit hash:
    the mod-10000 bucket the rate samplers use would collapse to doc_id
    tie-breaking once classes exceed ~10k docs, silently reintroducing
    the old-doc bias at scale.

    Scale: one shuffle on the class key; if one class dominates (skew),
    pre-filter with a per-class hash threshold ≈ n/count estimate first so
    the window only ranks a small superset."""
    d = load_table(spark, "documents", sf_dir)
    w = W.partitionBy("lang").orderBy(F.expr(_SH).asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= BALANCED_PER_CLASS)
        .select("doc_id", "lang", "rn")
    )


def _rate_case() -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {bp}" for s, bp in SOURCE_RATES_BP.items()
    )
    return f"(CASE {arms} ELSE {DEFAULT_RATE_BP} END)"


@_register(
    "stratified_source_mix",
    f"""
    SELECT source,
           count(*)::BIGINT AS n_kept,
           sum(n_chars)::BIGINT AS n_chars_kept
    FROM documents
    WHERE {_DB} < {_rate_case()}
    GROUP BY source
    """,
)
def q_stratified_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling: each source keeps its own quota rate
    (the data-mixture knob of corpus construction — e.g. downweight raw
    web, keep all curated text). Implemented as one CASE-driven hash
    threshold: still a pure scan predicate, no shuffle, and rates can be
    retuned without changing which rows the survivors came from."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.filter(F.expr(_SB) < F.expr(_rate_case()))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("n_chars_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle into training shards
# ---------------------------------------------------------------------------

SHUFFLE_SHARDS = 16

_SSHARD = f"({tx.seeded_hash64(tx.SPARK, 'CAST(doc_id AS STRING)', 'shard')} % {SHUFFLE_SHARDS})"
_DSHARD = f"({tx.seeded_hash64(tx.DUCK, 'doc_id::VARCHAR', 'shard')} % {SHUFFLE_SHARDS})"
_SORDER = tx.seeded_hash64(tx.SPARK, "CAST(doc_id AS STRING)", "order")
_DORDER = tx.seeded_hash64(tx.DUCK, "doc_id::VARCHAR", "order")


@_register(
    "training_shuffle_shards",
    f"""
    SELECT {_DSHARD} AS shard,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           arg_min(doc_id, {_DORDER}) AS first_doc,
           arg_max(doc_id, {_DORDER}) AS last_doc
    FROM documents
    GROUP BY 1
    """,
)
def q_training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: every doc gets a
    hash-derived shard and an independent hash-derived position, and the
    manifest reports per-shard sizes plus the first/last doc in read
    order. Unlike ``df.orderBy(rand())`` the permutation is a pure
    function of doc_id — reproducible across engines, partitionings and
    re-runs (training-data lineage), and trivially resumable.

    Scale: the write path is ``repartition(N, shard)`` +
    ``sortWithinPartitions(order_hash)`` + per-partition writes — one
    shuffle, no global sort; N is sized to target shard files (e.g.
    corpus/1 GB). The manifest here is the same single shuffle on the
    shard key."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "n_chars",
        F.expr(_SSHARD).alias("shard"),
        F.expr(_SORDER).alias("order_h"),
    )
    return d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min_by("doc_id", "order_h").alias("first_doc"),
        F.max_by("doc_id", "order_h").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling (Efraimidis–Spirakis A-ES) and mixture planning
# ---------------------------------------------------------------------------

WEIGHTED_K = 64  # weighted-sample size
_H60_SPACE = float(1 << 60)  # seeded_hash64 is a 60-bit positive integer

# pre-training mixture plan: target share (basis points) per source and
# the total character budget the run will draw
MIX_BP = {"src0": 3000, "src1": 2500, "src2": 2000, "src3": 1500, "src4": 700, "src5": 300}
MIX_BUDGET_CHARS = 2_000_000


def _aes_key(dialect: str) -> str:
    """The A-ES priority key u^(1/w): u = (h+1)/2^60 from the shared
    seeded-hash template, w = max(n_chars, 1). Identical IEEE double ops
    in identical order on both engines (same pow-reliance as the pitch
    geometry oracles)."""
    h = tx.seeded_hash64(
        dialect,
        "CAST(doc_id AS STRING)" if dialect == tx.SPARK else "doc_id::VARCHAR",
        "wsample",
    )
    cap = "greatest" if dialect == tx.SPARK else "GREATEST"
    return f"pow((({h}) + 1) / {_H60_SPACE!r}, 1.0 / {cap}(n_chars, 1))"


@_register(
    "weighted_sample_topk",
    f"""
    SELECT doc_id, n_chars,
           floor(({_aes_key(tx.DUCK)}) * 1000000.0) / 1000000.0 AS sample_key
    FROM documents
    ORDER BY {_aes_key(tx.DUCK)} DESC, doc_id
    LIMIT {WEIGHTED_K}
    """,
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): each doc gets priority u^(1/w) with u derived from a
    seeded content hash and w = its length, and the global top-K by
    priority IS a weighted sample — longer docs proportionally likelier,
    yet fully reproducible (no rand()) and re-runnable incrementally.

    Scale: the priority is a per-row expression (no shuffle); the top-K
    is TakeOrderedAndProject — per-partition heaps + a K-row driver
    merge, never a global sort. This is the standard one-pass
    distributed weighted sampler (A-ES / weighted reservoir family)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    key = _aes_key(tx.SPARK)
    return (
        d.withColumn("_k", F.expr(key))
        .orderBy(F.col("_k").desc(), "doc_id")
        .limit(WEIGHTED_K)
        .select(
            "doc_id",
            "n_chars",
            (F.floor(F.col("_k") * 1e6) / 1e6).alias("sample_key"),
        )
    )


def _mix_case(dialect: str) -> str:
    """Target share (bp) per source as a BIGINT expression — the cast
    must precede the budget multiply (int32 overflow in BOTH engines:
    Spark ANSI multiplyExact and DuckDB's int32 literals)."""
    whens = " ".join(f"WHEN source = '{s}' THEN {bp}" for s, bp in MIX_BP.items())
    case = f"(CASE {whens} ELSE 0 END)"
    return f"CAST({case} AS BIGINT)" if dialect == tx.SPARK else f"{case}::BIGINT"


@_register(
    "mixture_plan",
    f"""
    WITH avail AS (
      SELECT source, sum(n_chars)::BIGINT AS available_chars
      FROM documents GROUP BY source
    )
    SELECT source, available_chars,
           {_mix_case(tx.DUCK)} AS target_share_bp,
           (({_mix_case(tx.DUCK)} * {MIX_BUDGET_CHARS}) // 10000)::BIGINT AS target_chars,
           floor(least(1.0, ({_mix_case(tx.DUCK)} * {MIX_BUDGET_CHARS} / 10000.0)
                            / available_chars) * 1000000.0) / 1000000.0 AS sampling_rate,
           floor((({_mix_case(tx.DUCK)} * {MIX_BUDGET_CHARS} / 10000.0)
                  / available_chars) * 1000000.0) / 1000000.0 AS epochs_needed
    FROM avail
    """,
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training data-mixture planning: for a target mixture (share of
    the total character budget per source) compute, per source, what is
    AVAILABLE, what the plan DRAWS, the sampling rate a one-pass filter
    should apply (capped at 1), and the oversampling factor (epochs) when
    the source is smaller than its quota — the table every mixture/
    annealing schedule starts from (cf. the public LLM data-mixture
    literature).

    Scale: one partial+final aggregate on source (6 groups), then pure
    literal arithmetic — the plan itself is O(sources), and the resulting
    rates feed the hash-bucket samplers (sample_hash_bernoulli /
    stratified_source_mix) unchanged."""
    case = F.expr(_mix_case(tx.SPARK))  # bigint-cast inside (see _mix_case)
    avail = (
        load_table(spark, "documents", sf_dir)
        .groupBy("source")
        .agg(F.sum("n_chars").alias("available_chars"))
    )
    # integer division: a float '/' + cast would TRUNCATE here but ROUND
    # in DuckDB's ::BIGINT — only exact until someone retunes the rates
    target_chars = F.expr(
        f"({_mix_case(tx.SPARK)} * {MIX_BUDGET_CHARS}) div 10000"
    ).cast("bigint")
    draw = case * MIX_BUDGET_CHARS / F.lit(10000.0) / F.col("available_chars")
    return avail.select(
        "source",
        "available_chars",
        case.alias("target_share_bp"),
        target_chars.alias("target_chars"),
        (F.floor(F.least(F.lit(1.0), draw) * 1e6) / 1e6).alias("sampling_rate"),
        (F.floor(draw * 1e6) / 1e6).alias("epochs_needed"),
    )


# ---------------------------------------------------------------------------
# Temperature-weighted mixture (multinomial alpha-sampling weights)
# ---------------------------------------------------------------------------


@_register(
    "mixture_temperature_weights",
    """
    WITH avail AS (
      SELECT source, sum(n_chars)::BIGINT AS available_chars
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, available_chars,
             CAST(FLOOR(1000000e0 * sqrt(available_chars)) AS BIGINT)
               AS w_micro
      FROM avail
    ),
    tot AS (
      SELECT sum(w_micro)::BIGINT AS tw, sum(available_chars)::BIGINT AS tc
      FROM w
    )
    SELECT source, available_chars,
           ((available_chars * 1000000) // tc)::BIGINT AS raw_share_micros,
           ((w_micro * 1000000) // tw)::BIGINT AS temp_share_micros
    FROM w CROSS JOIN tot
    ORDER BY source
    """,
)
def q_mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture weights (alpha = 0.5): each source's
    sampling share is proportional to available_chars^alpha instead of
    its raw size — the multinomial temperature sampling used to keep
    low-resource sources/languages represented in multilingual
    pre-training mixes (cf. the public mBERT/XLM-R recipes).  Reports
    raw vs temperature shares side by side, integer-quantized.

    Determinism: sqrt is IEEE-754 correctly rounded on BOTH engines (the
    one libm-free transcendental), and it is immediately quantized to
    integer micros (floor(1e6*sqrt)) BEFORE any aggregation, so the
    weight total is an exact BIGINT sum and each share is one integer
    division — no double fold order anywhere (the repo's cross-engine
    determinism discipline; see plans/relational.py module docstring).

    Scale: one partial+final aggregate to |sources| rows, a 1-row totals
    frame broadcast back (allowlisted BNLJ: bounded build side), pure
    integer arithmetic after.  The emitted shares feed the hash-bucket
    samplers (stratified_source_mix) unchanged."""
    avail = (
        load_table(spark, "documents", sf_dir)
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("available_chars"))
    )
    w = avail.select(
        "source",
        "available_chars",
        F.expr("CAST(FLOOR(1000000e0 * sqrt(available_chars)) AS BIGINT)").alias(
            "w_micro"
        ),
    )
    tot = w.agg(
        F.sum("w_micro").cast("bigint").alias("tw"),
        F.sum("available_chars").cast("bigint").alias("tc"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "available_chars",
            F.expr("(available_chars * 1000000) div tc")
            .cast("bigint")
            .alias("raw_share_micros"),
            F.expr("(w_micro * 1000000) div tw")
            .cast("bigint")
            .alias("temp_share_micros"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sharded contrastive negative sampling (hash-bucket probe, never all-pairs)
# ---------------------------------------------------------------------------

NEG_SHARDS = 16  # candidate shard count (scales with corpus at 100 TB)
NEG_PER_ANCHOR = 4
NEG_ANCHOR_MOD = 53  # anchors = doc_id % 53 == 5 (deterministic sample)
NEG_ANCHOR_REM = 5

_NEG_SSHARD = f"({tx.seeded_hash64(tx.SPARK, 'CAST(doc_id AS STRING)', 'negshard')} % {NEG_SHARDS})"
_NEG_DSHARD = f"({tx.seeded_hash64(tx.DUCK, 'doc_id::VARCHAR', 'negshard')} % {NEG_SHARDS})"
_NEG_SPROBE = f"({tx.seeded_hash64(tx.SPARK, 'CAST(anchor_id AS STRING)', 'negprobe')} % {NEG_SHARDS})"
_NEG_DPROBE = f"({tx.seeded_hash64(tx.DUCK, 'anchor_id::VARCHAR', 'negprobe')} % {NEG_SHARDS})"
_NEG_SPAIR = tx.seeded_hash64(
    tx.SPARK,
    "concat(CAST(anchor_id AS STRING), ':', CAST(neg_id AS STRING))",
    "negrank",
)
_NEG_DPAIR = tx.seeded_hash64(
    tx.DUCK, "(anchor_id::VARCHAR || ':' || neg_id::VARCHAR)", "negrank"
)


@_register(
    "contrastive_negatives_sharded",
    f"""
    WITH anchors AS (
      SELECT doc_id AS anchor_id, lang AS alang
      FROM documents WHERE doc_id % {NEG_ANCHOR_MOD} = {NEG_ANCHOR_REM}
    ),
    a AS (SELECT anchor_id, alang, {_NEG_DPROBE} AS shard FROM anchors),
    cands AS (
      SELECT doc_id AS neg_id, lang, {_NEG_DSHARD} AS shard FROM documents
    )
    SELECT anchor_id, neg_id, neg_rank FROM (
      SELECT a.anchor_id, c.neg_id,
             row_number() OVER (
               PARTITION BY a.anchor_id
               ORDER BY {_NEG_DPAIR.replace('anchor_id', 'a.anchor_id').replace('neg_id', 'c.neg_id')} ASC,
                        c.neg_id ASC
             )::BIGINT AS neg_rank
      FROM a JOIN cands c ON a.shard = c.shard
      WHERE c.neg_id <> a.anchor_id AND c.lang <> a.alang)
    WHERE neg_rank <= {NEG_PER_ANCHOR}
    ORDER BY anchor_id, neg_rank
    """,
)
def q_contrastive_negatives_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-negative sampling for contrastive training, sharded so it
    never goes all-pairs: candidates are hash-bucketed into NEG_SHARDS
    shards once (embarrassingly parallel), and each anchor draws its
    negatives ONLY from the one shard its own hash points at — an
    equi-join on the shard key, so per-anchor candidate work is
    |corpus| / NEG_SHARDS, and the shard count scales with the corpus to
    keep it constant (at 100 TB: shards sized ~oversample x K). Same-doc
    and same-lang candidates are excluded (the cheap is-it-really-a-
    negative guard; a production pipeline also excludes mined positives
    with the same anti-join shape).

    The per-pair priority is a seeded content hash of (anchor, cand) —
    the A-ES trick without weights — so the drawn negatives are
    reproducible across engines, partitionings, and re-runs (dataset
    lineage holds), and every ranking is a bounded window keyed on
    anchor_id (one shuffle of the shard-join output; the window frame is
    shard-sized, never corpus-sized)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    anchors = docs.filter(
        F.col("doc_id") % NEG_ANCHOR_MOD == NEG_ANCHOR_REM
    ).select(
        F.col("doc_id").alias("anchor_id"), F.col("lang").alias("alang")
    )
    a = anchors.withColumn("shard", F.expr(_NEG_SPROBE))
    cands = docs.select(
        F.col("doc_id").alias("neg_id"),
        "lang",
        F.expr(_NEG_SSHARD).alias("shard"),
    )
    joined = (
        a.join(cands, "shard")
        .filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("lang") != F.col("alang"))
        )
        .withColumn("_prio", F.expr(_NEG_SPAIR))
    )
    wn = W.partitionBy("anchor_id").orderBy(F.asc("_prio"), F.asc("neg_id"))
    return (
        joined.withColumn("neg_rank", F.row_number().over(wn).cast("bigint"))
        .filter(F.col("neg_rank") <= NEG_PER_ANCHOR)
        .select("anchor_id", "neg_id", "neg_rank")
        .orderBy("anchor_id", "neg_rank")
    )
