"""Text-analysis queries over ``documents``: statistics, token frequency,
language-ID heuristic, and quality scoring — each oracle-verified with
dual-dialect generated expressions (functions.textexpr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.cache import materialize
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# ---------------------------------------------------------------------------
# Corpus statistics per language
# ---------------------------------------------------------------------------


@_register(
    "text_stats_by_lang",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, {tx.tokens(tx.DUCK, 'text')} AS toks FROM documents
    ),
    per_lang AS (
      SELECT lang, count(*)::BIGINT AS n_docs, sum(len(toks))::BIGINT AS total_tokens
      FROM tok GROUP BY lang
    ),
    distinct_tokens AS (
      SELECT lang, count(DISTINCT t)::BIGINT AS n_distinct
      FROM tok, unnest(toks) AS u(t) GROUP BY lang
    )
    SELECT p.lang, p.n_docs, p.total_tokens,
           CAST(p.total_tokens AS DOUBLE) / p.n_docs AS avg_tokens_per_doc,
           CAST(d.n_distinct AS DOUBLE) / p.total_tokens AS distinct_ratio
    FROM per_lang p JOIN distinct_tokens d ON p.lang = d.lang
    """,
)
def q_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics per language (the engine's corpus-profiling op).

    Scale: token counts are per-row array math (no explode needed); only
    the distinct-vocabulary branch explodes, and it aggregates immediately
    — partial agg keeps the shuffle at |vocab| not |tokens|."""
    d = load_table(spark, "documents", sf_dir).withColumn(
        "toks", F.expr(tx.tokens(tx.SPARK, "text"))
    )
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).cast("bigint").alias("total_tokens"),
    )
    distinct_tokens = (
        d.select("lang", F.explode("toks").alias("t"))
        .groupBy("lang")
        .agg(F.countDistinct("t").alias("n_distinct"))
    )
    return (
        per_lang.join(distinct_tokens, "lang")
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
                "avg_tokens_per_doc"
            ),
            (F.col("n_distinct").cast("double") / F.col("total_tokens")).alias(
                "distinct_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Global token frequency top-k
# ---------------------------------------------------------------------------


@_register(
    "token_topk",
    f"""
    WITH tok AS (
      SELECT {tx.tokens(tx.DUCK, 'text')} AS toks FROM documents
    )
    SELECT t AS token, count(*)::BIGINT AS n
    FROM tok, unnest(toks) AS u(t)
    GROUP BY t
    ORDER BY n DESC, token ASC
    LIMIT 20
    """,
)
def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 token frequency (explode → count → top-k).

    Scale: partial aggregation collapses each partition to its local
    vocabulary before the shuffle; top-k is TakeOrderedAndProject."""
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select(F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Language identification (stopword-overlap heuristic)
# ---------------------------------------------------------------------------

# Deterministic tiny stopword lists; the heuristic scores distinct-token
# overlap and breaks ties by list order (en > de > es > fr).
_STOPSETS = [
    ("en", ["the", "a", "of", "and", "is", "to", "in"]),
    ("de", ["der", "die", "das", "und", "ist", "zu", "im"]),
    ("es", ["el", "la", "de", "y", "es", "en", "los"]),
    ("fr", ["le", "la", "de", "et", "est", "en", "les"]),
]


def _langid_score(dialect: str, lang_words: list[str]) -> str:
    arr = ", ".join(f"'{w}'" for w in lang_words)
    if dialect == tx.SPARK:
        return f"size(array_intersect(toks, array({arr})))"
    return f"len(list_intersect(toks, [{arr}]))"


def _langid_pred(dialect: str) -> str:
    scores = {lang: _langid_score(dialect, words) for lang, words in _STOPSETS}
    # priority argmax: first language whose score >= all later ones
    clauses = []
    langs = [lang for lang, _ in _STOPSETS]
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"{scores[lang]} >= {scores[other]}" for other in langs[i + 1 :]
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


@_register(
    "lang_id_confusion",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, {tx.tokens(tx.DUCK, 'text')} AS toks FROM documents
    ),
    pred AS (
      SELECT lang, {_langid_pred(tx.DUCK)} AS predicted FROM tok
    )
    SELECT lang, predicted, count(*)::BIGINT AS n
    FROM pred GROUP BY lang, predicted
    """,
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic -> confusion-matrix counts
    against the labeled ``lang`` column. All set arithmetic, JVM-side."""
    d = load_table(spark, "documents", sf_dir).withColumn(
        "toks", F.expr(tx.tokens(tx.SPARK, "text"))
    )
    return (
        d.withColumn("predicted", F.expr(_langid_pred(tx.SPARK)))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_QUALITY_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]


def _quality_exprs(dialect: str) -> dict[str, str]:
    """Component expressions over a ``toks`` array column. Each final
    value is a short chain of double ops in identical order on both
    engines — deterministic."""
    arr = ", ".join(f"'{w}'" for w in _QUALITY_STOPWORDS)
    if dialect == tx.SPARK:
        n = "size(toks)"
        nd = "size(array_distinct(toks))"
        sumlen = "aggregate(transform(toks, t -> length(t)), 0, (acc, v) -> acc + v)"
        stop = f"size(array_intersect(toks, array({arr})))"
    else:
        n = "len(toks)"
        nd = "len(list_distinct(toks))"
        sumlen = "list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (acc, v) -> acc + v)"
        stop = f"len(list_intersect(toks, [{arr}]))"
    ttr = f"(CAST({nd} AS DOUBLE) / {n})"
    avg_len = f"(CAST({sumlen} AS DOUBLE) / {n})"
    stop_ratio = f"(CAST({stop} AS DOUBLE) / {nd})"
    cap = "LEAST" if dialect == tx.DUCK else "least"
    score = (
        f"({ttr} * 0.4 + {cap}({avg_len} / 10.0, 1.0) * 0.3 + {stop_ratio} * 0.3)"
    )
    return {
        "n_tokens": f"CAST({n} AS BIGINT)",
        "type_token_ratio": ttr,
        "avg_token_len": avg_len,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def _quality_oracle() -> str:
    e = _quality_exprs(tx.DUCK)
    cols = ",\n           ".join(f"{expr} AS {name}" for name, expr in e.items())
    return f"""
    WITH tok AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, 'text')} AS toks FROM documents
    )
    SELECT doc_id,
           {cols}
    FROM tok
    WHERE len(toks) > 0
    """


@_register("doc_quality_scores", _quality_oracle())
def q_doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: length / type-token-ratio / stopword
    components combined into one score (the classic pre-training corpus
    filter). Pure per-row column math — embarrassingly parallel (spread
    across cores; a single small parquet file reads as one split)."""
    from pedri_analysis_spark.operators import spread

    d = spread(load_table(spark, "documents", sf_dir)).withColumn(
        "toks", F.expr(tx.tokens(tx.SPARK, "text"))
    )
    e = _quality_exprs(tx.SPARK)
    return d.filter(F.expr("size(toks) > 0")).select(
        "doc_id", *[F.expr(expr).alias(name) for name, expr in e.items()]
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

TFIDF_TOP_N = 3


def _tfidf_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    return f"""
    WITH tok AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM tok),
    term AS (
      SELECT doc_id, t AS term FROM tok, unnest(toks) AS u(t)
    ),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM term GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM term GROUP BY 1
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             floor(tf.tf * ln(n.n_docs / df.df) * 1000000 + 0.5) / 1000000
               AS tfidf
      FROM tf JOIN df USING (term), n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
             ) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, tfidf, rn::BIGINT AS rn
    FROM ranked WHERE rn <= {TFIDF_TOP_N}
    """


@_register("tfidf_top_terms", _tfidf_oracle())
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword/feature
    extraction op of a text pipeline.

    Scale: explode → two hash aggregates (term frequency per doc, doc
    frequency per term) → broadcast the term-level df table back — the
    same topology at any corpus size; the corpus count rides along as a
    1-row broadcast. Ranking happens on the 6-dp-rounded score (not the
    raw double) so the cross-engine row selection is deterministic; ulp
    noise in ln() sits ~8 orders of magnitude below the rounding grid.
    """
    from pyspark.sql.window import Window as W

    from pedri_analysis_spark.operators import spread

    d = spread(load_table(spark, "documents", sf_dir)).withColumn(
        "toks", F.expr(tx.tokens(tx.SPARK, "text"))
    )
    term = d.select("doc_id", F.explode("toks").alias("term"))
    tf = term.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = term.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = d.select(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.floor(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1_000_000
                + 0.5
            )
            / 1_000_000,
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TFIDF_TOP_N)
        .select("doc_id", "term", "tf", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# Binary payload columns (the multimodal storage shape), oracle-checked
# ---------------------------------------------------------------------------

CHUNK_BYTES = 256


@_register(
    "binary_payload_chunks",
    f"""
    WITH payload AS (
      SELECT doc_id,
             octet_length(encode(text))::BIGINT AS n_bytes,
             md5(text) AS checksum
      FROM documents
    ),
    chunked AS (
      SELECT doc_id, n_bytes, checksum,
             unnest(generate_series(0, ((n_bytes + {CHUNK_BYTES - 1}) // {CHUNK_BYTES}) - 1))
               AS chunk_idx
      FROM payload
    )
    SELECT doc_id, checksum, chunk_idx::BIGINT AS chunk_idx,
           (chunk_idx * {CHUNK_BYTES})::BIGINT AS start_byte,
           least({CHUNK_BYTES}, n_bytes - chunk_idx * {CHUNK_BYTES})::BIGINT AS chunk_bytes
    FROM chunked
    """,
)
def q_binary_payload_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads as first-class relational columns: each document's
    UTF-8 byte stream becomes an opaque BINARY with byte length, content
    checksum, and a 256-byte chunk layout (one row per chunk) — exactly
    the storage/manifest shape a multimodal pipeline uses for images or
    audio (operators/multimodal.py holds the decode side; this is the
    relational side the oracle can check byte-exactly).

    Scale: chunk rows come from an explode over a computed range — row
    count is Σ ceil(bytes/chunk), no shuffle; the checksum rides the scan.

    Empty payloads emit ZERO chunk rows on both engines: Spark's
    sequence(0, -1) would infer step -1 and fabricate [0, -1] (two
    phantom chunks, one with a negative offset) where DuckDB's
    generate_series(0, -1) is empty — the CASE guard is the same
    negative-range defence textexpr.word_shingles documents."""
    d = load_table(spark, "documents", sf_dir)
    payload = F.encode("text", "UTF-8")
    n_bytes = F.length(payload).cast("long")
    n_chunks = F.ceil(n_bytes / CHUNK_BYTES).cast("long")
    return (
        d.select(
            "doc_id",
            F.md5(payload).alias("checksum"),
            n_bytes.alias("n_bytes"),
            F.explode(
                F.when(
                    n_chunks >= 1,
                    F.sequence(F.lit(0).cast("long"), n_chunks - 1),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "checksum",
            "chunk_idx",
            (F.col("chunk_idx") * CHUNK_BYTES).alias("start_byte"),
            F.least(
                F.lit(CHUNK_BYTES).cast("long"),
                F.col("n_bytes") - F.col("chunk_idx") * CHUNK_BYTES,
            ).alias("chunk_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# Composed corpus-curation pipeline (the realistic pre-training filter)
# ---------------------------------------------------------------------------

CURATION_MIN_TOKENS = 16
CURATION_QUALITY_T = 0.30


def _curation_oracle() -> str:
    e = _quality_exprs(tx.DUCK)
    return f"""
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents WHERE doc_id % 7 = 0
    ),
    tok AS (
      SELECT doc_id, lang, {tx.tokens(tx.DUCK, 'text')} AS toks, md5(text) AS h
      FROM corpus
    ),
    rn AS (
      SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM tok
    ),
    feat AS (
      SELECT lang, len(toks) AS n, rn,
             CASE WHEN len(toks) > 0 THEN {e['quality_score']} END AS q
      FROM rn
    )
    SELECT lang,
           CASE WHEN n = 0 THEN 'empty'
                WHEN rn > 1 THEN 'exact_dup'
                WHEN n < {CURATION_MIN_TOKENS} THEN 'too_short'
                WHEN q < {CURATION_QUALITY_T} THEN 'low_quality'
                ELSE 'kept' END AS reason,
           count(*)::BIGINT AS n_docs,
           sum(n)::BIGINT AS tokens_total
    FROM feat
    GROUP BY 1, 2
    """


@_register("corpus_curation_report", _curation_oracle())
def q_corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline: exact-dedup gate -> length gate ->
    quality gate, with per-(lang, first-failing-reason) doc and token
    accounting — what a real pre-training data pipeline reports after a
    filtering pass.  Gates reuse the oracle-checked building blocks
    (md5 dedup rank, token stats, quality score), demonstrated over the
    corpus with the same planted-dup set as dedup_exact_by_lang.

    Scale: one shuffle on md5(text) for the dup rank (dup groups are tiny
    so the window is safe), everything else is per-row column math plus
    one final partial+final aggregate.  At 100 TB this is exactly the
    shape you want: no pass materializes the corpus, reasons are computed
    in a single projection."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "lang")
    planted = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = d.unionByName(planted)
    e = _quality_exprs(tx.SPARK)
    w = W.partitionBy("h").orderBy("doc_id")
    feat = (
        corpus.withColumn("toks", F.expr(tx.tokens(tx.SPARK, "text")))
        .withColumn("h", F.md5("text"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.expr("size(toks)"))
        .withColumn("q", F.when(F.col("n") > 0, F.expr(e["quality_score"])))
    )
    reason = (
        F.when(F.col("n") == 0, "empty")
        .when(F.col("rn") > 1, "exact_dup")
        .when(F.col("n") < CURATION_MIN_TOKENS, "too_short")
        .when(F.col("q") < CURATION_QUALITY_T, "low_quality")
        .otherwise("kept")
    )
    return feat.groupBy("lang", reason.alias("reason")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("tokens_total"),
    )


# ---------------------------------------------------------------------------
# BPE-style subword token counting (SURVEY: whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer, simplified to the RE2-safe subset (DuckDB is
# RE2: no lookahead) so one pattern string is bit-identical on both
# engines: runs of letters / digits / other, each absorbing one leading
# space — the shape BPE vocabularies are trained over.
BPE_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


@_register(
    "bpe_token_stats",
    f"""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(len({tx.tokens(tx.DUCK, 'text')}))::BIGINT AS ws_tokens,
           sum(len(regexp_extract_all(lower(text), '{BPE_RE}')))::BIGINT
             AS bpe_tokens,
           CAST(sum(len(regexp_extract_all(lower(text), '{BPE_RE}'))) AS DOUBLE)
             / sum(len({tx.tokens(tx.DUCK, 'text')})) AS bpe_per_ws
    FROM documents
    GROUP BY lang
    """,
)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting under BOTH tokenizers the survey names: whitespace
    tokens and a BPE-ish pre-tokenizer regex (letter/digit/punct runs with
    leading-space absorption, the GPT-2 shape restricted to the RE2-safe
    subset so Spark's Java regex and DuckDB's RE2 agree byte-for-byte).
    The bpe/ws ratio per language is the fertility estimate pipelines use
    to convert corpus sizes into training-token budgets.

    Scale: two per-row counts + one partial+final aggregate — no shuffle
    beyond |langs| groups, text never leaves the map side."""
    d = load_table(spark, "documents", sf_dir)
    ws = F.size(F.expr(tx.tokens(tx.SPARK, "text")))
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), F.lit(0)))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(bpe).cast("bigint").alias("bpe_tokens"),
            (F.sum(bpe).cast("double") / F.sum(ws)).alias("bpe_per_ws"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch (heavy-hitter frequency estimation, error-audited)
# ---------------------------------------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 512  # buckets per row
CMS_TOP = 10  # audited heavy hitters


def _cms_bucket(dialect: str, d: int, col: str = "token") -> str:
    """Row-d bucket of ``col``: independent seeded 60-bit hash mod W.
    ``col`` is a parameter (not post-hoc string replace over generated
    SQL, which would corrupt the oracle if the hash expansion ever
    contained 'token' as a non-column substring)."""
    return f"({tx.seeded_hash64(dialect, col, f'cm{d}')}) % {CMS_W}"


def _cms_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    bucket_case = " ".join(
        f"WHEN {d} THEN {_cms_bucket(tx.DUCK, d)}" for d in range(CMS_D)
    )
    cand_bucket_case = " ".join(
        f"WHEN {d} THEN {_cms_bucket(tx.DUCK, d, 'c.token')}" for d in range(CMS_D)
    )
    return f"""
    WITH tok AS (
      SELECT {toks} AS toks FROM documents
    ),
    tc AS (
      SELECT t AS token, count(*)::BIGINT AS exact_n
      FROM tok, unnest(toks) AS u(t) GROUP BY 1
    ),
    rows_ AS (SELECT unnest(range({CMS_D})) AS d),
    cms AS (
      SELECT d, CASE d {bucket_case} END AS bucket,
             sum(exact_n)::BIGINT AS total
      FROM tc, rows_ GROUP BY 1, 2
    ),
    cand AS (
      SELECT token, exact_n FROM tc
      ORDER BY exact_n DESC, token ASC LIMIT {CMS_TOP}
    ),
    est AS (
      SELECT c.token, c.exact_n, min(m.total)::BIGINT AS cms_n
      FROM cand c CROSS JOIN rows_ r
      JOIN cms m ON m.d = r.d
        AND m.bucket = (CASE r.d {cand_bucket_case} END)
      GROUP BY 1, 2
    )
    SELECT token, exact_n, cms_n, (cms_n - exact_n)::BIGINT AS overcount,
           cms_n >= exact_n AS one_sided_ok
    FROM est
    """


@_register("countmin_token_freq", _cms_oracle())
def q_countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream, audited on the top-10
    heavy hitters: the CMS estimate must dominate the exact count (the
    sketch's one-sided guarantee) and the overcount column shows the
    collision error at d=4 hash rows x w=512 buckets.

    The sketch is built from the exact per-token partials (CMS is
    additive, so folding pre-aggregated counts into buckets is the same
    sketch a streaming build yields) — at 100 TB the bucket table is
    always d*w = 2,048 counters regardless of corpus size, which is the
    entire point of the operator.  All hashes are the engine-wide 60-bit
    md5 primitive, so the sketch is bit-identical cross-engine and the
    oracle checks it exactly, not within a tolerance.

    Scale: one explode->partial-agg for token counts (vocab-sized
    shuffle), a 4x vocab explode collapsing immediately to 2,048 rows,
    and a broadcast join of the 10 candidates against the tiny sketch."""
    d = load_table(spark, "documents", sf_dir).select(
        F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token")
    )
    tc = d.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    rows = [
        F.struct(
            F.lit(i).alias("d"),
            F.expr(_cms_bucket(tx.SPARK, i)).alias("bucket"),
        )
        for i in range(CMS_D)
    ]
    cms = (
        tc.select(F.explode(F.array(*rows)).alias("r"), "exact_n")
        .groupBy(F.col("r.d").alias("d"), F.col("r.bucket").alias("bucket"))
        .agg(F.sum("exact_n").cast("bigint").alias("total"))
    )
    cand = tc.orderBy(F.desc("exact_n"), F.asc("token")).limit(CMS_TOP)
    cand_rows = cand.select(
        "token", "exact_n", F.explode(F.array(*rows)).alias("r")
    ).select("token", "exact_n", "r.d", "r.bucket")
    return (
        cand_rows.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("total").cast("bigint").alias("cms_n"))
        .select(
            "token",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
            (F.col("cms_n") >= F.col("exact_n")).alias("one_sided_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Exact phrase match (consecutive-token search)
# ---------------------------------------------------------------------------

PHRASE = "table value"  # two consecutive tokens


@_register(
    "phrase_match_counts",
    f"""
    WITH t AS (
      SELECT doc_id, lang, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             CASE WHEN list_contains(
               {tx.word_shingles(tx.DUCK, "toks", 2)}, '{PHRASE}')
             THEN 1 ELSE 0 END AS hit
      FROM t
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(hit)::BIGINT AS n_matching
    FROM m GROUP BY lang
    ORDER BY lang
    """,
)
def q_phrase_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search (consecutive-token match, the positional
    complement to BM25's bag-of-words ranking): per language, documents
    containing the phrase '{PHRASE}' as adjacent tokens.

    Scale: the match is a per-row column expression (tokenize →
    2-shingle → contains), no explode and no join; one map-side-combined
    aggregate to |langs| rows.  At 100 TB the same predicate pushes into
    any corpus scan as a cheap row filter; for repeated phrase queries
    the inverted-index + positions layout (inverted_index_postings) is
    the amortized path."""
    d = load_table(spark, "documents", sf_dir)
    m = d.select(
        "lang",
        F.expr(tx.tokens(tx.SPARK, "text")).alias("toks"),
    ).select(
        "lang",
        F.when(
            F.array_contains(
                F.expr(tx.word_shingles(tx.SPARK, "toks", 2)), PHRASE
            ),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("hit").cast("bigint").alias("n_matching"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Cross-source contamination / leakage matrix
# ---------------------------------------------------------------------------


@_register(
    "cross_source_leakage_matrix",
    f"""
    WITH t AS (
      SELECT source, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    g AS (
      SELECT DISTINCT source, gram FROM (
        SELECT source, unnest({tx.word_shingles(tx.DUCK, "toks", k=3)}) AS gram
        FROM t
      )
    ),
    n AS (SELECT source, count(*)::BIGINT AS n_grams FROM g GROUP BY source),
    p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*)::BIGINT AS n_shared_grams
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_shared_grams,
           ((p.n_shared_grams * 1000000) // least(na.n_grams, nb.n_grams))
             ::BIGINT AS containment_micros
    FROM p
    JOIN n na ON na.source = p.source_a
    JOIN n nb ON nb.source = p.source_b
    ORDER BY source_a, source_b
    """,
)
def q_cross_source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-SOURCE contamination matrix: for every source
    pair, how many distinct word 3-grams they share, plus the
    containment ratio against the smaller side's gram vocabulary —
    the audit a curation pipeline runs to find sources that republish
    each other's content (crawl snapshots, mirrored corpora) before
    mixture weights are trusted.

    Scale: shingles are per-row generates collapsed to one
    ``collect_set(source)`` row per gram in ONE partial-agg'd shuffle
    (the set absorbs the (source, gram) distinct); every source pair a
    gram witnesses — plus an (s, s) diagonal row per member carrying
    the per-source gram count — explodes in-JVM from that set, bounded
    by C(|sources|, 2) per gram, never doc×doc (at web scale a df cap
    on ubiquitous grams bounds the hot keys the same way the
    boilerplate screen does); the pair rollup partial-aggregates to a
    |sources|²-row frame from which the diagonal broadcasts back onto
    the off-diagonal rows.  Output is |sources|²/2 rows — bounded by
    the catalog of sources, not the corpus."""
    from pedri_analysis_spark.operators import spread

    d = spread(load_table(spark, "documents", sf_dir)).select(
        "source", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    # One sorted source-set per gram (collect_set = the old distinct, one
    # shuffle instead of three); pair fan-out generated inside codegen —
    # the _copurchase_edges pattern.  slice(i+1) keeps x itself, so each
    # gram also emits (x, x) diagonal rows: after the pair rollup the
    # diagonal IS the per-source distinct-gram count (a < b pairs never
    # collide with it), replacing the separate per-source groupBy leg.
    ss = (
        d.select(
            "source",
            F.explode(F.expr(tx.word_shingles(tx.SPARK, "toks", k=3))).alias("gram"),
        )
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
    )
    m = (
        ss.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 1, size(ss)), "
                    "y -> struct(x AS sa, y AS sb))))"
                )
            ).alias("e")
        )
        .select("e.sa", "e.sb")
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # r16 (r15 ADVICE): m feeds THREE consumers (p, na, nb) and the
    # static plan showed no exchange reuse — 6 parquet scans, the
    # tokenize+shingle corpus pass planned 3x. m is |sources|²-bounded
    # (tiny), so materializing it runs the corpus pass once.
    m, _ = materialize(m)
    p = m.filter(F.col("sa") < F.col("sb")).select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("c").alias("n_shared_grams"),
    )
    diag = m.filter(F.col("sa") == F.col("sb"))
    na = diag.select(F.col("sa").alias("source_a"), F.col("c").alias("na"))
    nb = diag.select(F.col("sa").alias("source_b"), F.col("c").alias("nb"))
    return (
        p.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_grams",
            F.expr("(n_shared_grams * 1000000) div least(na, nb)")
            .cast("bigint")
            .alias("containment_micros"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Inter-rater agreement (Cohen's kappa) between two quality heuristics
# ---------------------------------------------------------------------------

KAPPA_MIN_TOKENS = 20  # rater A: document is long enough


def _kappa_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    return f"""
    WITH flags AS (
      SELECT
        CASE WHEN len({toks}) >= {KAPPA_MIN_TOKENS} THEN 1 ELSE 0 END AS ra,
        CASE WHEN 2 * len(list_distinct({toks})) >= len({toks}) THEN 1 ELSE 0 END AS rb
      FROM documents
    ),
    conf AS (
      SELECT count(*)::HUGEINT AS n,
             sum(ra)::HUGEINT AS a,
             sum(rb)::HUGEINT AS b,
             sum(ra * rb)::HUGEINT AS n11,
             sum((1 - ra) * (1 - rb))::HUGEINT AS n00
      FROM flags
    )
    SELECT n::BIGINT AS n_docs,
           n11::BIGINT AS n11,
           (a - n11)::BIGINT AS n10,
           (b - n11)::BIGINT AS n01,
           n00::BIGINT AS n00,
           CAST(n * (n11 + n00) - (a * b + (n - a) * (n - b)) AS DOUBLE)
             / CAST(n * n - (a * b + (n - a) * (n - b)) AS DOUBLE) AS kappa
    FROM conf
    """


@_register("cohen_kappa_quality_flags", _kappa_oracle())
def q_cohen_kappa_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality raters —
    rater A = "long enough" (>= 20 tokens), rater B =
    "lexically diverse" (distinct-token ratio >= 1/2, integer
    cross-multiplied). Chance-corrected agreement is how an annotation
    pipeline decides whether two cheap heuristic labelers (or a labeler
    and a model) agree beyond what their marginal rates force.

    Determinism: the whole confusion matrix comes from ONE aggregate
    pass of integer flags; kappa's textbook (po-pe)/(1-pe) is algebra-
    reduced to a single ratio of exact integers — numerator
    n*(n11+n00) - (a*b + (n-a)*(n-b)), denominator n^2 - (same) — so
    the ONLY floating-point steps are two exact-integer->double casts
    and one IEEE division. The cross-products run in 128-bit exact
    arithmetic on both engines (HUGEINT / DECIMAL(38,0)) so n^2 stays
    exact even at web-corpus row counts where it overflows BIGINT.

    Scale: single pass, map-side partial aggregation, 1-row result —
    embarrassingly parallel."""
    toks = tx.tokens(tx.SPARK, "text")
    d = load_table(spark, "documents", sf_dir).select(
        F.expr(
            f"CASE WHEN size({toks}) >= {KAPPA_MIN_TOKENS} THEN 1 ELSE 0 END"
        ).alias("ra"),
        F.expr(
            f"CASE WHEN 2 * size(array_distinct({toks})) >= size({toks})"
            " THEN 1 ELSE 0 END"
        ).alias("rb"),
    )
    conf = d.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum("ra").cast("decimal(19,0)").alias("a"),
        F.sum("rb").cast("decimal(19,0)").alias("b"),
        F.sum(F.expr("ra * rb")).cast("decimal(19,0)").alias("n11"),
        F.sum(F.expr("(1 - ra) * (1 - rb)")).cast("decimal(19,0)").alias("n00"),
    )
    return conf.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("n11").cast("bigint").alias("n11"),
        (F.col("a") - F.col("n11")).cast("bigint").alias("n10"),
        (F.col("b") - F.col("n11")).cast("bigint").alias("n01"),
        F.col("n00").cast("bigint").alias("n00"),
        (
            (
                F.col("n") * (F.col("n11") + F.col("n00"))
                - (
                    F.col("a") * F.col("b")
                    + (F.col("n") - F.col("a")) * (F.col("n") - F.col("b"))
                )
            ).cast("double")
            / (
                F.col("n") * F.col("n")
                - (
                    F.col("a") * F.col("b")
                    + (F.col("n") - F.col("a")) * (F.col("n") - F.col("b"))
                )
            ).cast("double")
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Naive-Bayes training table: per-language Laplace-smoothed token probs
# ---------------------------------------------------------------------------

NB_TOPK = 5


def _nb_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    return f"""
    WITH tok AS (
      SELECT lang, unnest({toks}) AS tok FROM documents
    ),
    c AS (SELECT lang, tok, count(*)::BIGINT AS c FROM tok GROUP BY lang, tok),
    nl AS (SELECT lang, sum(c)::BIGINT AS n_lang FROM c GROUP BY lang),
    v AS (SELECT count(DISTINCT tok)::BIGINT AS vsz FROM tok),
    p AS (
      SELECT c.lang, c.tok, c.c,
             ((c.c + 1) * 1000000 // (nl.n_lang + v.vsz))::BIGINT AS p_micros,
             row_number() OVER (
               PARTITION BY c.lang ORDER BY c.c DESC, c.tok ASC) AS rk
      FROM c JOIN nl USING (lang) CROSS JOIN v
    )
    SELECT lang, tok, c AS n_tok, p_micros, rk::BIGINT AS rk
    FROM p WHERE rk <= {NB_TOPK} ORDER BY lang, rk
    """


@_register("naive_bayes_token_probs", _nb_oracle())
def q_naive_bayes_token_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes TRAINING table: per-language
    Laplace-smoothed token conditionals p(tok|lang) = (c+1)/(N_lang+V),
    reported for each language's top-{NB_TOPK} tokens — the classifier a
    data pipeline trains by pure counting (classification itself is a
    broadcast join of this table against documents; scores need logs,
    which the no-libm oracle discipline keeps out of the catalog — the
    integer-micro probabilities ARE the model artifact).

    Determinism: pure integer arithmetic — exact BIGINT counts, floor-
    divided micros ((c+1)·1e6 stays in BIGINT until N_lang ~ 1e12
    tokens/class); top-k ordering ties broken by token text, total.

    Scale: one explode + partial-agg shuffle on (lang, token); the
    per-lang totals fold from the (lang, token) frame (5 rows,
    broadcast back); V is a 1-row distinct-count frame (allowlisted
    broadcast); the ranking window partitions by lang over the
    VOCABULARY-bounded count frame — sublinear in corpus size, never
    the fact table."""
    from pyspark.sql import Window as W

    toks = tx.tokens(tx.SPARK, "text")
    tok = load_table(spark, "documents", sf_dir).select(
        "lang", F.explode(F.expr(toks)).alias("tok")
    )
    c = tok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    nl = c.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n_lang"))
    v = tok.agg(F.countDistinct("tok").cast("bigint").alias("vsz"))
    wr = W.partitionBy("lang").orderBy(F.desc("c"), F.asc("tok"))
    p = (
        c.join(nl, "lang")
        .crossJoin(F.broadcast(v))
        .withColumn(
            "p_micros",
            F.expr("CAST((c + 1) * 1000000 div (n_lang + vsz) AS BIGINT)"),
        )
        .withColumn("rk", F.row_number().over(wr).cast("bigint"))
    )
    return (
        p.where(F.col("rk") <= NB_TOPK)
        .select("lang", "tok", F.col("c").alias("n_tok"), "p_micros", "rk")
        .orderBy("lang", "rk")
    )
