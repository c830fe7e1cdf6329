"""Text-retrieval ranking queries: BM25 scoring and reciprocal-rank
fusion over the ``documents`` / ``embeddings`` tables.

A training-data platform needs lexical retrieval (dedup forensics,
contamination triage, "find every document mentioning X") next to the
embedding ANN stack — BM25 is the standard lexical scorer, and RRF is
the standard way to fuse a lexical ranking with a vector ranking
without score calibration.

Determinism discipline (see the repo-wide oracle rules):

- BM25 here uses the *rational* (log-free) idf variant
  ``(N - df + 0.5) / (df + 0.5)`` — ``ln`` is libm and its last ulp is
  not portable across engines, and for ranking the monotone rational
  form preserves the df ordering.  The variant is documented in the
  output column name (``bm25r_micros``).
- Every per-term score is one closed-form double expression built from
  exact integers (tf, df, dl, N, total_dl) with IDENTICAL text in both
  dialects, quantized to integer micros with ``floor`` BEFORE summing
  across terms, so the cross-term sum is exact BIGINT arithmetic and
  order-independent.
- RRF contributions ``1 / (K + rank)`` are exact small-integer
  divisions (IEEE-exact inputs), summed in one fixed-order expression.
- Top-k outputs are total-ordered (score desc, id asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.operators import similarity as sim, spread
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# Fixed query-term set (the "search query"); constants are part of the
# query definition, like QUERY_ID in similarity_queries.
BM25_TERMS = ("spark", "merge", "window", "customer")
BM25_K1 = "1.2e0"
BM25_B = "0.75e0"
BM25_TOPK = 20
RRF_K = 60
RRF_CAND = 50
RRF_TOPK = 20


def _tf(dialect: str, term: str) -> str:
    """Term frequency inside the materialized ``toks`` array column."""
    if dialect == tx.SPARK:
        return f"size(filter(toks, _t -> _t = '{term}'))"
    return f"len(list_filter(toks, _t -> _t = '{term}'))"


def _term_micros(tf: str, df: str) -> str:
    """Quantized one-term BM25 (rational idf) — IDENTICAL text in both
    dialects; only the tf/df operand expressions differ (exact ints)."""
    idf = f"((CAST(n_docs AS DOUBLE) - {df} + 0.5e0) / ({df} + 0.5e0))"
    norm = (
        f"(1.0e0 - {BM25_B} + {BM25_B} * "
        f"((CAST(dl AS DOUBLE) * n_docs) / total_dl))"
    )
    num = f"({tf} * ({BM25_K1} + 1.0e0))"
    den = f"({tf} + {BM25_K1} * {norm})"
    return f"CAST(FLOOR(1000000e0 * ({idf} * ({num} / {den}))) AS BIGINT)"


def _df_agg(dialect: str, term: str) -> str:
    contains = (
        f"array_contains(toks, '{term}')"
        if dialect == tx.SPARK
        else f"list_contains(toks, '{term}')"
    )
    return f"SUM(CASE WHEN {contains} THEN 1 ELSE 0 END)"


def _bm25_total(dialect: str) -> str:
    terms = [
        _term_micros(_tf(dialect, t), f"df_{i}") for i, t in enumerate(BM25_TERMS)
    ]
    return " + ".join(terms)


def _bm25_oracle() -> str:
    dfs = ", ".join(
        f"{_df_agg(tx.DUCK, t)}::BIGINT AS df_{i}" for i, t in enumerate(BM25_TERMS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    t2 AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM toks),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl, {dfs}
      FROM t2
    )
    SELECT doc_id, ({_bm25_total(tx.DUCK)}) AS bm25r_micros
    FROM t2, stats
    ORDER BY bm25r_micros DESC, doc_id ASC
    LIMIT {BM25_TOPK}
    """


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 scoring plan: one corpus pass for the 1-row stats
    frame, broadcast it back, score as a narrow map."""
    docs = load_table(spark, "documents", sf_dir)
    toks = spread(docs).select(
        "doc_id", F.expr(tx.tokens(tx.SPARK, "text")).alias("toks")
    )
    t2 = toks.select(
        "doc_id", "toks", F.size("toks").cast("bigint").alias("dl")
    )
    stats = t2.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.expr(_df_agg(tx.SPARK, t)).cast("bigint").alias(f"df_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    return t2.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.expr(_bm25_total(tx.SPARK)).alias("bm25r_micros")
    )


@_register("bm25_topk_docs", _bm25_oracle())
def q_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (rational-idf variant) top-k documents for a fixed query
    term set — the lexical-retrieval baseline next to the ANN stack.

    Scale: one tree-reduced corpus pass computes the 1-row stats frame
    (N, total token count, per-term df); it broadcasts back; per-doc
    scoring is a narrow map with NO explode and NO shuffle (tf comes
    from an array filter over the materialized token column); top-k
    plans as TakeOrderedAndProject (per-partition heaps).  For ad-hoc
    multi-term queries at 100 TB the same plan holds — the stats pass
    is the only full scan and is reusable across queries; per-term
    scores are quantized to integer micros before the cross-term sum so
    the result is exact BIGINT arithmetic (see module docstring).
    Parity with the classic formula: reference engines compute
    ``ln`` idf; the rational form is used here for cross-engine
    bit-determinism and is monotone in df, so ordering behavior for a
    single term is identical."""
    scored = _bm25_scored(spark, sf_dir)
    return scored.orderBy(
        F.desc("bm25r_micros"), F.asc("doc_id")
    ).limit(BM25_TOPK)


def _rrf_oracle() -> str:
    r6 = (
        "floor((list_cosine_similarity(e.embedding::DOUBLE[], "
        "q.qvec::DOUBLE[])) * 1000000 + 0.5) / 1000000"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    t2 AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM toks),
    stats AS (
      SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl,
             {", ".join(f"{_df_agg(tx.DUCK, t)}::BIGINT AS df_{i}" for i, t in enumerate(BM25_TERMS))}
      FROM t2
    ),
    lex_top AS (
      SELECT doc_id, ({_bm25_total(tx.DUCK)}) AS s
      FROM t2, stats
      ORDER BY s DESC, doc_id ASC LIMIT {RRF_CAND}
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r_lex
      FROM lex_top
    ),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    vec_top AS (
      SELECT e.vec_id, {r6} AS sim
      FROM embeddings e, q
      ORDER BY sim DESC, e.vec_id ASC LIMIT {RRF_CAND}
    ),
    vec AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS r_vec
      FROM vec_top
    )
    SELECT coalesce(lex.doc_id, vec.vec_id) AS doc_id,
           coalesce(r_lex, 0)::BIGINT AS r_lex,
           coalesce(r_vec, 0)::BIGINT AS r_vec,
           ((CASE WHEN r_lex IS NULL THEN 0.0e0
                  ELSE 1.0e0 / ({RRF_K} + r_lex) END) +
            (CASE WHEN r_vec IS NULL THEN 0.0e0
                  ELSE 1.0e0 / ({RRF_K} + r_vec) END)) AS rrf_score
    FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.vec_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT {RRF_TOPK}
    """


@_register("rrf_fusion_topk", _rrf_oracle())
def q_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 lexical ranking and the
    cosine vector ranking (embeddings are row-aligned with documents:
    vec_id ≡ doc_id) — hybrid search without score calibration.

    Scale: each ranker contributes only its top-{RRF_CAND} candidates
    (TakeOrdered), so the rank windows and the full-outer fusion join
    run on two bounded {RRF_CAND}-row frames — the unpartitioned
    row_number windows are over those bounded frames, never the corpus.
    The contributions ``1/(K + rank)`` are exact small-integer
    divisions summed in one fixed-order expression (bit-portable);
    ordering tie-breaks on doc_id."""
    lex_top = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25r_micros"), F.asc("doc_id"))
        .limit(RRF_CAND)
        .withColumnRenamed("bm25r_micros", "s")
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("s"), F.asc("doc_id")))
        .alias("r_lex"),
    )
    emb = load_table(spark, "embeddings", sf_dir)
    vec_top = sim.cosine_topk(spread(emb), emb.filter(F.col("vec_id") == 0), k=RRF_CAND)
    vec = vec_top.select(
        "vec_id",
        F.row_number()
        .over(W.orderBy(F.desc("sim"), F.asc("vec_id")))
        .alias("r_vec"),
    )
    fused = lex.join(vec, lex["doc_id"] == vec["vec_id"], "full_outer").select(
        F.coalesce(lex["doc_id"], vec["vec_id"]).alias("doc_id"),
        F.coalesce("r_lex", F.lit(0)).cast("bigint").alias("r_lex"),
        F.coalesce("r_vec", F.lit(0)).cast("bigint").alias("r_vec"),
        F.expr(
            f"((CASE WHEN r_lex IS NULL THEN 0.0e0"
            f" ELSE 1.0e0 / ({RRF_K} + r_lex) END) +"
            f" (CASE WHEN r_vec IS NULL THEN 0.0e0"
            f" ELSE 1.0e0 / ({RRF_K} + r_vec) END))"
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(RRF_TOPK)
