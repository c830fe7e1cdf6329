"""Training-data pipeline queries beyond filtering/dedup: sequence
packing, benchmark-contamination checks, intra-document repetition
(Gopher-style), and PII redaction accounting — each oracle-verified with
dual-dialect generated expressions (functions.textexpr).

These are the remaining ops a pre-training data pipeline runs after the
curation gates (see text_queries.corpus_curation_report): pack the kept
docs into fixed token budgets, audit eval-set leakage, measure
within-doc repetition, and scrub PII with an audit trail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.cache import materialize
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.operators import spread
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


def _r6(expr: str) -> str:
    """Cross-engine 6-dp rounding (floor(x*1e6 + 0.5)/1e6 — identical on
    both engines, unlike HALF_EVEN-vs-HALF_UP round())."""
    return f"floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"


# ---------------------------------------------------------------------------
# Sequence packing (context-window assembly)
# ---------------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per packed training sequence
PACK_SHARDS = 8  # independent packing shards (scale knob)


def _packing_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    shard = tx.seeded_hash64(tx.DUCK, "CAST(doc_id AS VARCHAR)", "pack")
    return f"""
    WITH tok AS (
      SELECT doc_id, {shard} % {PACK_SHARDS} AS shard,
             len({toks})::BIGINT AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT shard, n_tok,
             (sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok)
               // {PACK_BUDGET} AS seq_id
      FROM tok
    ),
    seqs AS (
      SELECT shard, seq_id, count(*)::BIGINT AS n_docs,
             sum(n_tok)::BIGINT AS seq_tokens
      FROM packed GROUP BY 1, 2
    )
    SELECT shard,
           sum(n_docs)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_seqs,
           sum(seq_tokens)::BIGINT AS total_tokens,
           max(seq_tokens)::BIGINT AS max_seq_tokens,
           count(*) FILTER (seq_tokens > {PACK_BUDGET})::BIGINT
             AS n_overflow_seqs,
           CAST(sum(seq_tokens) AS DOUBLE)
             / (count(*) * {PACK_BUDGET}) AS fill_ratio
    FROM seqs GROUP BY shard
    """


@_register("sequence_packing", _packing_oracle())
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences
    (concatenate-in-key-order, split at document boundaries when the
    running total crosses the budget) and report per-shard packing
    efficiency: sequences produced, max/overflow, fill ratio.

    Docs are sharded by a content-independent key hash so the plan is
    partitioning-independent; within a shard a running-sum window assigns
    each doc to the sequence where it starts. Scale: one shuffle on
    ``shard``; the per-shard window is a single-partition sort, so shard
    count (the PACK_SHARDS knob) is sized to keep shards executor-local —
    at 100 TB you raise it to O(corpus/2 GB) and packing stays
    embarrassingly parallel across shards. No pass materializes text:
    only (doc_id, shard, n_tok) travels."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        (
            F.expr(tx.seeded_hash64(tx.SPARK, "CAST(doc_id AS STRING)", "pack"))
            % PACK_SHARDS
        ).alias("shard"),
        F.size(F.expr(tx.tokens(tx.SPARK, "text"))).cast("bigint").alias("n_tok"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    # Integer `div` (not double `/` + cast): floor-division by construction,
    # so the bucket boundary agrees with the oracle's integer floor-div for
    # ANY budget, not just powers of two / sums below 2^53.
    packed = d.withColumn(
        "start_tok", F.sum("n_tok").over(w) - F.col("n_tok")
    ).withColumn("seq_id", F.expr(f"start_tok div {PACK_BUDGET}"))
    seqs = packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("seq_tokens"),
    )
    return seqs.groupBy("shard").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("seq_tokens").cast("bigint").alias("total_tokens"),
        F.max("seq_tokens").cast("bigint").alias("max_seq_tokens"),
        F.count_if(F.col("seq_tokens") > PACK_BUDGET)
        .cast("bigint")
        .alias("n_overflow_seqs"),
        (
            F.sum("seq_tokens").cast("double")
            / (F.count(F.lit(1)) * PACK_BUDGET)
        ).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination audit
# ---------------------------------------------------------------------------

CONTAM_K = 3  # word n-gram size (sized to the synthetic vocab; a real
#               corpus would use 8-13-gram spans per the usual recipes)
CONTAM_EVAL_MOD = 97  # doc_id % MOD == 0 -> held-out eval split


def _contamination_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    grams = tx.word_shingles(tx.DUCK, "toks", CONTAM_K)
    gh = tx.seeded_hash64(tx.DUCK, "g", "cgram")
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, {toks} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, lang,
             list_transform({grams}, g -> {gh}) AS grams
      FROM tok
    ),
    eval_grams AS (
      SELECT DISTINCT g FROM sh, unnest(grams) AS u(g)
      WHERE doc_id % {CONTAM_EVAL_MOD} = 0
    ),
    train AS (
      SELECT doc_id, lang, grams FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} <> 0
    ),
    hits AS (
      SELECT t.doc_id, count(DISTINCT g)::BIGINT AS n_matched
      FROM train t, unnest(t.grams) AS u(g)
      WHERE g IN (SELECT g FROM eval_grams)
      GROUP BY 1
    )
    SELECT t.lang,
           count(*)::BIGINT AS n_train_docs,
           count(h.doc_id)::BIGINT AS n_contaminated,
           CAST(count(h.doc_id) AS DOUBLE) / count(*) AS contamination_rate,
           coalesce(max(h.n_matched), 0)::BIGINT AS max_matched_grams
    FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
    GROUP BY t.lang
    """


@_register("contamination_ngram_overlap", _contamination_oracle())
def q_contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set leakage audit: a train document is contaminated when it
    shares any distinct word 3-gram with the held-out split
    (doc_id % 97 == 0). Reports per-language contamination counts/rate
    and the worst per-doc matched-gram count.

    Scale: matching is a HASH JOIN on the gram key — train grams
    explode once (linear), the eval gram set is an ordinary build side
    the planner broadcasts while it fits and shuffles when it does not,
    and per-doc match counts are one aggregate on doc_id.  The r8
    scaling decade caught the previous broadcast-array design
    (per-doc ``array_intersect`` against the full eval set) rebuilding
    the eval hash set PER ROW: cost was |corpus| x |eval grams| —
    quadratic whenever the eval split scales with the corpus — and the
    measured sf0.1→sf1.0 step ran 40x, not 10x.  The join formulation
    is output-identical and linear in |train grams| + |eval grams| +
    |matches|.  Grams match as 64-bit hashes, not strings; the per-doc
    match count is count(DISTINCT g) on BOTH sides (r9 ADVICE fix —
    the gram STRINGS are distinct per doc by the word_shingles
    contract, but an in-doc 64-bit hash collision would leave a
    duplicate hash in the exploded rows, so a plain count would read 2
    where the oracle's DISTINCT reads 1).  Docs with no grams survive
    via the left join (n_matched = 0), mirroring the oracle's own
    LEFT JOIN."""
    gh = tx.seeded_hash64(tx.SPARK, "g", "cgram")
    # stage tokens as a COLUMN first: word_shingles_spark_fast's contract
    # (textexpr) requires a materialized token column — inlining the
    # tokenize expression would re-evaluate it once per slice (~6× per
    # row; Spark skips subexpression elimination around lambdas)
    shingles = tx.word_shingles_spark_fast("_toks", CONTAM_K)
    grams = f"transform({shingles}, g -> {gh})"
    # Materialize once (r15): three consumers (eval split, the hits leg,
    # and the scored left-join leg) each re-derived the tokenize +
    # shingle + hash kernel — the dominant cost — without the cache
    # (A/B at sf0.1: 4.3 s -> 2.4 s warm, best-of-2).  The int64 gram
    # arrays columnar-encode cheaply, unlike the r9 string-array case.
    d = (
        spread(load_table(spark, "documents", sf_dir))
        .withColumn("_toks", F.expr(tx.tokens(tx.SPARK, "text")))
        .select("doc_id", "lang", F.expr(grams).alias("grams"))
    )
    d, _ = materialize(d)
    eval_grams = (
        d.filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    train = d.filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
    # countDistinct, not count: gram strings are distinct per doc
    # (word_shingles contract) but their 64-bit hashes need not be —
    # DISTINCT g makes the per-doc count collision-proof and exactly
    # |grams ∩ eval| (array_intersect semantics), matching the oracle.
    hits = (
        train.select("doc_id", F.explode("grams").alias("g"))
        .join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hit"))
    )
    scored = train.select("doc_id", "lang").join(hits, "doc_id", "left").select(
        "lang", F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_matched")
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.count_if(F.col("n_matched") > 0).alias("n_contaminated"),
        (F.count_if(F.col("n_matched") > 0).cast("double") / F.count(F.lit(1))).alias(
            "contamination_rate"
        ),
        F.max("n_matched").cast("bigint").alias("max_matched_grams"),
    )


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher-style top-bigram ratio)
# ---------------------------------------------------------------------------

REP_THRESHOLD = 0.08  # flag docs whose top bigram exceeds 8% of bigrams


def _bigrams_nondistinct(dialect: str, toks: str) -> str:
    """Non-distinct word bigram list (repetition needs multiplicity, so
    word_shingles' array_distinct would be wrong here)."""
    if dialect == tx.SPARK:
        m = f"greatest(size({toks}) - 1, 0)"
        return (
            f"zip_with(slice({toks}, 1, {m}), slice({toks}, 2, {m}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return (
        f"list_transform(generate_series(0, len({toks}) - 2), "
        f"i -> {toks}[i + 1] || ' ' || {toks}[i + 2])"
    )


def _repetition_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, {toks} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, g
      FROM tok, unnest({_bigrams_nondistinct(tx.DUCK, 'toks')}) AS u(g)
      WHERE len(toks) >= 2
    ),
    cnt AS (
      SELECT doc_id, lang, g, count(*)::BIGINT AS c FROM bg GROUP BY 1, 2, 3
    ),
    per_doc AS (
      SELECT doc_id, lang,
             CAST({_r6('CAST(max(c) AS DOUBLE) / sum(c)')}
                  AS DECIMAL(18, 6)) AS r
      FROM cnt GROUP BY 1, 2
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           CAST(sum(r) AS DOUBLE) / count(*) AS avg_top_bigram_ratio,
           CAST(max(r) AS DOUBLE) AS max_top_bigram_ratio,
           count(*) FILTER (r > {REP_THRESHOLD})::BIGINT AS n_repetitive
    FROM per_doc GROUP BY lang
    """


@_register("doc_repetition_stats", _repetition_oracle())
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: per doc, the fraction of word bigrams
    taken by the most frequent bigram (the Gopher repetition-rule family);
    per language, the average/max ratio and how many docs exceed the
    0.08 flag threshold.

    Per-doc ratios are floor-rounded to 6 dp and summed in DECIMAL so the
    per-lang average is order-independent (cross-engine double-sum
    discipline). Scale: explode → partial-agg on (doc_id, gram) — the
    shuffle carries per-partition-collapsed gram counts, then two cheap
    reductions. Bigrams are built with aligned-slice zip_with (one array
    traversal per row, no per-element lambda re-evaluation)."""
    d = (
        spread(load_table(spark, "documents", sf_dir))
        .select(
            "doc_id",
            "lang",
            F.expr(tx.tokens(tx.SPARK, "text")).alias("toks"),
        )
        .filter(F.size("toks") >= 2)
    )
    cnt = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.expr(_bigrams_nondistinct(tx.SPARK, "toks"))).alias("g"),
        )
        .groupBy("doc_id", "lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = cnt.groupBy("doc_id", "lang").agg(
        F.expr(_r6("CAST(max(c) AS DOUBLE) / sum(c)"))
        .cast("decimal(18,6)")
        .alias("r")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("r").cast("double") / F.count(F.lit(1))).alias(
            "avg_top_bigram_ratio"
        ),
        F.max("r").cast("double").alias("max_top_bigram_ratio"),
        F.count_if(F.col("r") > REP_THRESHOLD)
        .cast("bigint")
        .alias("n_repetitive"),
    )


# ---------------------------------------------------------------------------
# PII redaction accounting
# ---------------------------------------------------------------------------

# Backslash-free patterns (identical semantics under Java regex and RE2):
PII_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
PII_PHONE_RE = "555-[0-9]{4}"


def _pii_planted(dialect: str) -> str:
    """Deterministically plant synthetic PII so the redactor has known
    ground truth (the fixture corpus contains none): every 11th doc gains
    an email, every 13th a phone number."""
    if dialect == tx.SPARK:
        email = "concat(' contact user', CAST(doc_id AS STRING), '@example.com now')"
        phone = "concat(' call 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ok')"
        return (
            f"concat(text, CASE WHEN doc_id % 11 = 0 THEN {email} ELSE '' END, "
            f"CASE WHEN doc_id % 13 = 0 THEN {phone} ELSE '' END)"
        )
    email = "(' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now')"
    phone = "(' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok')"
    return (
        f"(text || CASE WHEN doc_id % 11 = 0 THEN {email} ELSE '' END || "
        f"CASE WHEN doc_id % 13 = 0 THEN {phone} ELSE '' END)"
    )


def _pii_oracle() -> str:
    return f"""
    WITH planted AS (
      SELECT doc_id, lang, {_pii_planted(tx.DUCK)} AS t FROM documents
    ),
    scanned AS (
      SELECT lang,
             len(regexp_extract_all(t, '{PII_EMAIL_RE}'))::BIGINT AS n_email,
             len(regexp_extract_all(t, '{PII_PHONE_RE}'))::BIGINT AS n_phone,
             length(t) - length(
               regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PII_PHONE_RE}', '<PHONE>', 'g')
             ) AS shrunk
      FROM planted
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           count(*) FILTER (n_email + n_phone > 0)::BIGINT AS n_docs_with_pii,
           sum(n_email)::BIGINT AS total_emails,
           sum(n_phone)::BIGINT AS total_phones,
           sum(shrunk)::BIGINT AS chars_redacted
    FROM scanned GROUP BY lang
    """


@_register("pii_redaction_counts", _pii_oracle())
def q_pii_redaction_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with an audit trail: regex-detect emails/phones, redact
    with typed placeholders, and report per-language match counts plus
    net characters removed. PII is planted deterministically (fixture
    corpus has none), so counts have exact ground truth.

    Patterns are backslash-free so Java regex (Spark) and RE2 (DuckDB)
    agree byte-for-byte. Scale: pure per-row projection — no shuffle
    before the final partial+final aggregate; at 100 TB the redacted text
    would be written back via a partitioned sink while this same
    aggregate streams out as the audit report."""
    planted = spread(load_table(spark, "documents", sf_dir)).select(
        "lang", F.expr(_pii_planted(tx.SPARK)).alias("t")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    scanned = planted.select(
        "lang",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_email"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phone"),
        (F.length("t") - F.length(redacted)).alias("shrunk"),
    )
    return scanned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("n_email") + F.col("n_phone") > 0)
        .cast("bigint")
        .alias("n_docs_with_pii"),
        F.sum("n_email").cast("bigint").alias("total_emails"),
        F.sum("n_phone").cast("bigint").alias("total_phones"),
        F.sum("shrunk").cast("bigint").alias("chars_redacted"),
    )


# ---------------------------------------------------------------------------
# Document chunking (RAG / context-window splitting)
# ---------------------------------------------------------------------------

CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (CHUNK_W - CHUNK_S = 8 tokens of overlap)


def _chunking_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    chunk = f"array_to_string(list_slice(toks, j * {CHUNK_S} + 1, j * {CHUNK_S} + {CHUNK_W}), ' ')"
    return f"""
    WITH tok AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    chunks AS (
      SELECT doc_id, j AS chunk_idx, {chunk} AS chunk_text
      FROM tok, unnest(generate_series(0, (len(toks) - 1) // {CHUNK_S})) AS u(j)
      WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
           len(string_split(chunk_text, ' '))::BIGINT AS n_chunk_tokens,
           md5(chunk_text) AS chunk_hash
    FROM chunks
    """


@_register("doc_chunking", _chunking_oracle())
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token windows, 24-token
    stride) — the splitting stage every RAG / embedding-index pipeline
    runs before vectorizing. Emits one row per chunk with its token count
    and content fingerprint (md5), so chunk boundaries AND contents are
    hash-verified, not just counts.

    Scale: pure per-row generate+explode — no shuffle at all; output size
    is corpus x (1/stride) rows. At 100 TB this feeds the embedding stage
    via mapInPandas batches; chunk fingerprints double as the exact-dedup
    key for chunk-level dedup."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    chunk = (
        f"transform(sequence(0, CAST(floor((size(toks) - 1) / {CHUNK_S}) AS INT)), "
        f"j -> concat_ws(' ', slice(toks, j * {CHUNK_S} + 1, {CHUNK_W})))"
    )
    return (
        d.filter(F.size("toks") > 0)
        .select("doc_id", F.posexplode(F.expr(chunk)).alias("chunk_idx", "chunk_text"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size(F.split("chunk_text", " ")).cast("bigint").alias("n_chunk_tokens"),
            F.md5("chunk_text").alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Assembled curation-orchestrator artifact (the curate_all manifest)
# ---------------------------------------------------------------------------


def _curate_manifest_oracle() -> str:
    """DuckDB mirror of the WHOLE curate_all chain: md5-rank exact dedup
    -> min-token + quality gates -> MinHash-LSH near-dup drop (identical
    CTE chain as the minhash_near_dups oracle, via minhash_pair_ctes) ->
    export accounting, plus the conjunction of the 5 health checks."""
    from pedri_analysis_spark.curate_all import (
        CURATION_MIN_TOKENS,
        CURATION_QUALITY_T,
    )
    from pedri_analysis_spark.plans.dedup_queries import minhash_pair_ctes
    from pedri_analysis_spark.plans.relational_ext import (
        ORACLE_SQL as _REL_EXT_ORACLES,
    )
    from pedri_analysis_spark.plans.text_queries import _quality_exprs

    toks = tx.tokens(tx.DUCK, "text")
    q = _quality_exprs(tx.DUCK)["quality_score"]
    health = _REL_EXT_ORACLES["table_health_report"]
    return f"""
    WITH kept_base AS (
      SELECT doc_id, text, {toks} AS toks,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ),
    kept_q AS (
      SELECT doc_id, text, toks, {q} AS q FROM kept_base WHERE rn = 1
    ),
    kept AS (
      SELECT doc_id, text FROM kept_q
      WHERE len(toks) >= {CURATION_MIN_TOKENS} AND q >= {CURATION_QUALITY_T}
    ),
    {minhash_pair_ctes('kept')},
    losers AS (SELECT DISTINCT b FROM verified)
    SELECT (SELECT count(*) FROM documents)::BIGINT AS n_raw_docs,
           (SELECT count(*) FROM kept)::BIGINT AS n_after_curation,
           (SELECT count(*) FROM losers)::BIGINT AS n_near_dup_dropped,
           ((SELECT count(*) FROM kept)
             - (SELECT count(*) FROM losers))::BIGINT AS n_exported,
           (SELECT bool_and(passed) FROM ({health})) AS health_all_passed
    """


_CURATE_CACHE: dict = {}


def _artifact_tmpdir() -> str:
    """A per-cache-miss artifact directory, removed at interpreter exit
    (the memoized manifest may lazily re-read files during the session,
    so cleanup cannot happen earlier)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="curate_all_artifacts_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@_register("curate_all_manifest", _curate_manifest_oracle())
def q_curate_all_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation orchestrator's ASSEMBLED manifest.json, hash-checked:
    run the real curate_all into a temp dir (once per session+sf — both
    the artifact files and the manifest are products of the same run) and
    return its end-to-end accounting — raw docs, curation survivors,
    near-dup drops, exported rows, health-gate conjunction. Each stage is
    independently oracle-checked; this row proves the COMPOSITION (stage
    wiring, survivor anti-join, manifest arithmetic) matches a DuckDB
    mirror of the whole chain."""
    import weakref as _weakref

    from pedri_analysis_spark.curate_all import curate_all

    key = (id(spark), sf_dir)
    entry = _CURATE_CACHE.get(key)
    # keep a weakref to the session so a dead session's cache entry is
    # never replayed for a recycled id()
    if entry is not None and entry[0]() is spark:
        manifest = entry[1]
    else:
        manifest = curate_all(
            spark, sf_dir, _artifact_tmpdir()
        )
        _CURATE_CACHE[key] = (_weakref.ref(spark), manifest)
    return spark.createDataFrame(
        [
            (
                manifest["n_raw_docs"],
                manifest["n_after_curation"],
                manifest["n_near_dup_dropped"],
                manifest["n_exported"],
                all(manifest["health_checks"].values()),
            )
        ],
        "n_raw_docs long, n_after_curation long, n_near_dup_dropped long, "
        "n_exported long, health_all_passed boolean",
    )


# ---------------------------------------------------------------------------
# Group-aware (leakage-free) split: membership hashed on the SOURCE, so a
# whole provenance group lands in one split — the eval-contamination
# guard a per-doc hash split cannot give.
# ---------------------------------------------------------------------------
GROUP_TEST_BP = 2_500  # 25.00% of source groups go to test
_GSPLIT_BUCKETS = 10_000


def _gsplit(dialect: str) -> str:
    return f"({tx.seeded_hash64(dialect, 'source', 'gsplit')} % {_GSPLIT_BUCKETS})"


@_register(
    "group_aware_split_counts",
    f"""
    SELECT CASE WHEN {_gsplit(tx.DUCK)} < {GROUP_TEST_BP}
                THEN 'test' ELSE 'train' END AS split,
           lang,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT source)::BIGINT AS n_sources,
           sum(n_chars)::BIGINT AS n_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_group_aware_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/test split: membership is hashed on the
    provenance GROUP (source), not the document, so every doc of a
    source lands in the same split — near-dups and templated docs from
    one crawl can never straddle the eval boundary (the leakage mode a
    per-doc split like train_test_split_counts cannot prevent).

    Scale: the split is a pure hash expression on an existing column —
    no join, no group table, no shuffle beyond the final (split, lang)
    aggregate; a source's membership never changes as the corpus grows
    (stable eval sets). tests/test_pipeline_ops.py asserts the
    disjointness invariant (no source in both splits)."""
    d = load_table(spark, "documents", sf_dir)
    split = F.when(
        F.expr(_gsplit(tx.SPARK)) < GROUP_TEST_BP, "test"
    ).otherwise("train")
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget corpus selection: highest-lexical-diversity docs first,
# stop at a token budget — two-phase bucket prefix-sum, NO global
# per-doc sort.
# ---------------------------------------------------------------------------
SELECT_TOKEN_BUDGET = 12_000


def _budget_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    return f"""
    WITH d AS (
      SELECT doc_id, lang, len(toks)::BIGINT AS t,
             floor((1000.0 * len(list_distinct(toks))) / len(toks))::BIGINT AS b
      FROM (SELECT doc_id, lang, {toks} AS toks FROM documents)
      WHERE len(toks) > 0
    ),
    bk AS (SELECT b, sum(t)::BIGINT AS tb FROM d GROUP BY b),
    cum AS (
      SELECT b, tb, sum(tb) OVER (ORDER BY b DESC)::BIGINT AS c FROM bk
    ),
    fullb AS (SELECT b FROM cum WHERE c <= {SELECT_TOKEN_BUDGET}),
    bnd AS (
      SELECT b, (c - tb)::BIGINT AS before FROM cum
      WHERE c > {SELECT_TOKEN_BUDGET} AND c - tb < {SELECT_TOKEN_BUDGET}
    ),
    part AS (
      SELECT d.doc_id, d.lang, d.t
      FROM d JOIN bnd ON d.b = bnd.b
      QUALIFY bnd.before + sum(d.t) OVER (PARTITION BY d.b ORDER BY d.doc_id)
              <= {SELECT_TOKEN_BUDGET}
    ),
    sel AS (
      SELECT doc_id, lang, t FROM d WHERE b IN (SELECT b FROM fullb)
      UNION ALL
      SELECT doc_id, lang, t FROM part
    )
    SELECT lang, count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS sel_tokens
    FROM sel GROUP BY lang
    """


@_register("token_budget_selection", _budget_oracle())
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first corpus selection under a token budget: rank docs by
    lexical diversity (distinct-token ratio, 3-dp quantized) and keep
    the best until the budget is exhausted — per-lang accounting of what
    survived.

    Scale: this is deliberately NOT a global per-doc sort + cumsum
    (which would single-partition the whole corpus).  Phase 1 aggregates
    tokens per QUANTIZED score bucket (≤ 1001 rows — the only
    unpartitioned window runs over that bounded frame); phase 2 selects
    whole buckets above the budget line and resolves ONLY the boundary
    bucket with a per-doc prefix sum partitioned on that single bucket.
    At 100 TB the boundary bucket is the one place fine ordering
    matters, so only ~1/1000th of the corpus ever needs a fine-grained
    prefix sum (sub-quantize again if that bucket is still hot).  All
    cumulative arithmetic is exact BIGINT; the score quantization is a
    mult→divide→floor chain with identical text both dialects."""
    toks = F.expr(tx.tokens(tx.SPARK, "text"))
    d = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "lang",
            F.size("toks").cast("bigint").alias("t"),
            F.floor(
                (F.lit(1000.0) * F.size(F.array_distinct("toks")))
                / F.size("toks")
            )
            .cast("bigint")
            .alias("b"),
        )
    )
    bk = d.groupBy("b").agg(F.sum("t").cast("bigint").alias("tb"))
    # bounded frame (≤ 1001 score buckets): unpartitioned window is safe
    cum = bk.withColumn(
        "c",
        F.sum("tb").over(W.orderBy(F.desc("b")).rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    fullb = cum.filter(F.col("c") <= SELECT_TOKEN_BUDGET).select("b")
    bnd = cum.filter(
        (F.col("c") > SELECT_TOKEN_BUDGET)
        & (F.col("c") - F.col("tb") < SELECT_TOKEN_BUDGET)
    ).select("b", (F.col("c") - F.col("tb")).cast("bigint").alias("before"))
    part = (
        d.join(F.broadcast(bnd), "b")
        .withColumn(
            "cw",
            F.sum("t").over(
                W.partitionBy("b").orderBy("doc_id").rowsBetween(
                    W.unboundedPreceding, 0
                )
            ),
        )
        .filter(F.col("before") + F.col("cw") <= SELECT_TOKEN_BUDGET)
        .select("doc_id", "lang", "t")
    )
    sel = (
        d.join(F.broadcast(fullb), "b", "left_semi")
        .select("doc_id", "lang", "t")
        .unionByName(part)
    )
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("t").cast("bigint").alias("sel_tokens"),
    )


# ---------------------------------------------------------------------------
# Gopher-style rule-cascade quality filter report
# ---------------------------------------------------------------------------

# Rule thresholds (integer cross-multiplied so no double ever decides a
# boundary): token count in [16, 90]; mean word length in
# [4.2, 4.6] expressed as 21*n <= 5*sumlen <= 23*n; at most half the
# tokens duplicated (2*distinct >= n); must contain a stopword.
_GQF_STOPWORDS = ("the", "a")


_GQF_FLAGS = [
    ("too_short", "n < 16"),
    ("too_long", "n > 90"),
    ("mean_word_len_low", "5 * sumlen < 21 * n"),
    ("mean_word_len_high", "5 * sumlen > 23 * n"),
    ("dup_heavy", "2 * nd < n"),
    ("no_stopword", "has_stop = 0"),
]


def _gqf_doc_stats(dialect: str) -> list[str]:
    """Per-doc integer stats the rules consume (token count, distinct
    count, char sum, stopword presence)."""
    contains = "array_contains" if dialect == tx.SPARK else "list_contains"
    stop_any = " OR ".join(f"{contains}(toks, '{w}')" for w in _GQF_STOPWORDS)
    if dialect == tx.SPARK:
        return [
            "size(toks) AS n",
            "size(array_distinct(toks)) AS nd",
            "CAST(aggregate(transform(toks, _t -> length(_t)), 0L, "
            "(acc, x) -> acc + x) AS BIGINT) AS sumlen",
            f"CASE WHEN {stop_any} THEN 1 ELSE 0 END AS has_stop",
        ]
    return [
        "len(toks) AS n",
        "len(list_distinct(toks)) AS nd",
        "coalesce(list_sum(list_transform(toks, _t -> length(_t))), 0)"
        "::BIGINT AS sumlen",
        f"CASE WHEN {stop_any} THEN 1 ELSE 0 END AS has_stop",
    ]


def _gqf_oracle() -> str:
    flags = _GQF_FLAGS
    fail_any = " OR ".join(f"({cond})" for _, cond in flags)
    rule_rows = "\n      UNION ALL\n".join(
        f"SELECT '{name}' AS rule, sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"
        f"::BIGINT AS n_failed FROM s"
        for name, cond in flags
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    s AS (SELECT doc_id, {", ".join(_gqf_doc_stats(tx.DUCK))} FROM t)
    SELECT rule, n_failed FROM (
      {rule_rows}
      UNION ALL
      SELECT 'survivors' AS rule,
             sum(CASE WHEN NOT ({fail_any}) THEN 1 ELSE 0 END)::BIGINT
      FROM s
      UNION ALL
      SELECT 'total' AS rule, count(*)::BIGINT FROM s
    )
    ORDER BY rule
    """


@_register("gopher_quality_filter", _gqf_oracle())
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule cascade report: for each heuristic rule
    (length window, mean-word-length window, duplicate-token share,
    stopword presence) the number of documents it rejects, plus the
    survivor and total counts — the per-rule accounting a curation run
    publishes so threshold changes can be audited.

    Scale: one corpus pass computes the per-doc integer stats (token
    count, distinct count, char sum) as a narrow map — no explode; the
    seven output rows come from ONE hash-aggregate producing all rule
    counters as conditional sums, then an 8-row unpivot (stack) on the
    driver-sized result.  Every rule threshold is integer
    cross-multiplied, so no floating-point boundary decides membership
    cross-engine.  Mirrors the reference's per-predicate audit style
    (core/pedri_analysis.py per-filter counters) applied to corpus
    curation."""
    flags = _GQF_FLAGS
    fail_any = " OR ".join(f"({cond})" for _, cond in flags)
    docs = load_table(spark, "documents", sf_dir)
    s = docs.selectExpr(
        f"{tx.tokens(tx.SPARK, 'text')} AS toks"
    ).selectExpr(*_gqf_doc_stats(tx.SPARK))
    aggs = [
        F.sum(F.when(F.expr(cond), 1).otherwise(0)).cast("bigint").alias(name)
        for name, cond in flags
    ]
    aggs.append(
        F.sum(F.when(~F.expr(fail_any), 1).otherwise(0))
        .cast("bigint")
        .alias("survivors")
    )
    aggs.append(F.count(F.lit(1)).cast("bigint").alias("total"))
    one = s.agg(*aggs)
    names = [name for name, _ in flags] + ["survivors", "total"]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return one.selectExpr(
        f"stack({len(names)}, {stack}) AS (rule, n_failed)"
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# Boilerplate n-gram coverage flags
# ---------------------------------------------------------------------------

# A bigram is "boilerplate" when it appears in >= 5% of documents
# (df * 20 >= n_docs); a document is flagged when >= half of its
# distinct bigrams are boilerplate (2 * n_freq >= n_grams).


def _boiler_oracle() -> str:
    grams = tx.word_shingles(tx.DUCK, "toks", k=2)
    return f"""
    WITH t AS (
      SELECT doc_id, lang, {tx.tokens(tx.DUCK, "text")} AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang, unnest({grams}) AS gram FROM t
    ),
    tot AS (SELECT count(*)::BIGINT AS n_docs FROM t),
    freq AS (
      SELECT gram FROM g, tot
      GROUP BY gram, n_docs
      HAVING count(*) * 20 >= n_docs
    ),
    per_doc AS (
      SELECT g.doc_id, any_value(g.lang) AS lang,
             count(*)::BIGINT AS n_grams,
             sum(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_freq
      FROM g LEFT JOIN freq f ON g.gram = f.gram
      GROUP BY g.doc_id
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN 2 * n_freq >= n_grams THEN 1 ELSE 0 END)::BIGINT
             AS n_flagged,
           sum(CAST(FLOOR((1000000e0 * n_freq) / n_grams) AS BIGINT))
             ::BIGINT AS sum_coverage_micros
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """


@_register("boilerplate_ngram_flags", _boiler_oracle())
def q_boilerplate_ngram_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection via frequent-bigram coverage: bigrams
    occurring in >= 5% of documents are boilerplate; per language,
    count documents whose distinct-bigram set is >= half boilerplate
    (plus the quantized mean coverage) — the CCNet-style screen for
    template/navigation text before training.

    Scale: distinct bigrams explode once; document frequency is one
    hash-aggregate on the gram key; the frequent set joins back
    against the exploded grams WITHOUT a forced broadcast hint — the
    5% df threshold bounds each gram's document frequency, not the
    NUMBER of qualifying grams (a templated corpus can clear 5% df
    with arbitrarily many distinct grams), so the planner/AQE decides
    broadcast vs shuffle from the set's actual runtime size; per-doc
    and per-lang rollups are ordinary map-side-combined aggregates.  Coverage is quantized to integer
    micros per doc before summing (exact BIGINT cross-engine);
    flagging is integer cross-multiplied.  Docs with < 2 tokens have
    no bigrams and drop out of the report denominator by design."""
    docs = load_table(spark, "documents", sf_dir)
    t = spread(docs).select(
        "doc_id", "lang", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    # materialize: the exploded gram frame feeds BOTH the df aggregate and
    # the per-doc coverage join (the minhash_near_dups multi-consumer
    # convention — without it the tokenize/shingle/explode chain runs
    # twice; the harness clears the cache between queries).
    g = t.select(
        "doc_id",
        "lang",
        F.explode(F.expr(tx.word_shingles(tx.SPARK, "toks", k=2))).alias("gram"),
    )
    g, _ = materialize(g)
    tot = t.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    freq = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("df") * 20 >= F.col("n_docs"))
        .select("gram", F.lit(1).alias("_hit"))
    )
    per_doc = (
        g.join(freq, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_freq"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("n_freq") * 2 >= F.col("n_grams"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
            F.sum(
                F.expr(
                    "CAST(FLOOR((1000000e0 * n_freq) / n_grams) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("sum_coverage_micros"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Group-aware k-fold cross-validation assignment
# ---------------------------------------------------------------------------
KFOLDS = 5


def _kfold(dialect: str) -> str:
    return f"({tx.seeded_hash64(dialect, 'source', 'kfold')} % {KFOLDS})"


@_register(
    "kfold_assignment_counts",
    f"""
    SELECT {_kfold(tx.DUCK)}::BIGINT AS fold,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT source)::BIGINT AS n_sources,
           count(DISTINCT lang)::BIGINT AS n_langs,
           sum(n_chars)::BIGINT AS n_chars
    FROM documents
    GROUP BY 1
    ORDER BY fold
    """,
)
def q_kfold_assignment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware {KFOLDS}-fold cross-validation assignment: the fold
    is a seeded hash of the provenance group (source) mod {KFOLDS}, so
    every document of a source shares a fold — each CV round's held-out
    fold is leakage-free by construction (same guarantee as the 2-way
    group split, generalized to k folds).

    Scale: fold membership is a pure hash expression on an existing
    column — no join, no fold table, no shuffle beyond the final
    {KFOLDS}-row aggregate; assignments are stable as the corpus grows,
    so fold manifests are reproducible across snapshots."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.withColumn("fold", F.expr(_kfold(tx.SPARK)).cast("bigint"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .orderBy("fold")
    )
