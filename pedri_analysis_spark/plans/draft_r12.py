"""The r12 query wave, registered in r12 (``registry._modules``).

The module was implemented, oracle-paired, plan-invariant-pinned and
proven green under the driver-identical comparison in r11; r12
registered it and reworked ``fellegi_sunter_parts`` with
field-agreement candidate blocking (VERDICT r11 ask #3) before first
driver contact.

Every query follows the determinism discipline (integer / DECIMAL
arithmetic, hash-seeded pseudo-randomness, total orders on every rank,
probability quantization via integer cross-multiplication — never
libm) and the scale discipline (pair stages blocked + mod-chunk-capped
or domain-bounded; iterative algorithms with fixed unrolled oracles;
single-partition frames only when domain-bounded).

Families and the public designs they implement:
- importance_resampling_select — hashed-ngram importance weighting for
  training-data selection (DSIR, Xie et al. 2023, arXiv:2302.03169),
  with the log-likelihood-ratio replaced by an integer-quantized
  likelihood RATIO (monotone per feature; see docstring).
- kcenter_coreset — greedy k-center / farthest-point traversal
  (Gonzalez 1985), the classic diverse-subset coreset selector.
- distinct_ngram_diversity — distinct-n diversity ratios per source
  (the Self-BLEU-lite corpus-diversity audit).
- fellegi_sunter_parts — Fellegi–Sunter probabilistic record linkage
  (JASA 1969) with literal integer milli-log-odds field weights.
- kcore_decomposition — k-core peeling (Seidman 1983) on the
  co-purchase graph, fixed unrolled iterations like PageRank/LPA.
- l_diversity_audit — l-diversity (Machanavajjhala et al. 2007), the
  companion to k_anonymity_report on the same QI ladder.

Wave B (same round):
- chi2_token_selection — chi-square discriminative-vocabulary selection
  (the classic text-classification feature selector).
- source_divergence_audit — per-source L1 unigram drift from the corpus
  distribution (mixture-rebalancing audit).
- link_prediction_jaccard — common-neighbor Jaccard link prediction
  (Liben-Nowell & Kleinberg 2003), hub-capped candidate generation.
- matryoshka_recall_at_k — prefix-dimension retrieval recall audit
  (Kusupati et al. 2022), completing the sq/pq representation-audit
  family on the dimension axis.
- negative_hardness_histogram — cosine-hardness distribution of seeded
  pseudo-random negative pairs (contrastive-training diagnostic).
- partition_checksums — order-independent XOR content checksums per
  hash shard (dataset replication/migration integrity audit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pedri_analysis_spark.cache import materialize
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.operators import chunking as chk
from pedri_analysis_spark.operators import similarity as sim
from pedri_analysis_spark.operators.clustering import _dist2
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.similarity_queries import EMB_DIM, _dcos, spread
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# ---------------------------------------------------------------------------
# DSIR-style importance-resampling selection (hashed-bigram features)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256  # hashed feature space (DSIR §2.2 uses hashed n-grams)
DSIR_TARGET_LANG = "en"  # the target distribution: English documents
DSIR_SELECT_K = 200  # docs selected by importance rank
# weight clipping (standard importance-sampling variance control, and
# here also the overflow bound): a rest-count of 0 makes the raw ratio
# corpus-magnitude, and 10^9 micro (= ratio 1000x) already dominates any
# realistic per-doc sum while keeping score <= n_bigrams * 10^9 in BIGINT.
# The clip guards the INPUT (num >= 1000 * den, cross-multiplied in
# integers) so the division is never evaluated in the over-cap regime —
# a least() on the OUTPUT would overflow first: with den = 1 the
# quotient * 10^6 term wraps in Spark / errors in DuckDB before least()
# ever runs (r11 review, verified).
DSIR_RATIO_CAP = 1000  # = CAP_MICRO / 10^6
DSIR_RATIO_CAP_MICRO = 1_000_000_000


def _dsir_ratio(dialect: str, num: str, den: str) -> str:
    return (
        f"(CASE WHEN ({num}) >= {DSIR_RATIO_CAP} * ({den}) "
        f"THEN {DSIR_RATIO_CAP_MICRO} "
        f"ELSE {tx.floor_scaled_div(dialect, num, den, 1000000)} END)"
    )


def _ngrams_pos(dialect: str, toks: str, n: int) -> str:
    """All length-n token windows as space-joined strings — EVERY
    occurrence, not the deduped shingle set (occurrence counts are the
    whole point for frequency features)."""
    if n == 1:
        return toks
    if dialect == tx.SPARK:
        parts = ", ".join(f"{toks}[i + {j}]" for j in range(n))
        return (
            f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(0, size({toks}) - {n}), "
            f"i -> concat_ws(' ', {parts})) "
            f"ELSE array() END"
        )
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> {parts}) "
        f"ELSE [] END"
    )


@_register(
    "importance_resampling_select",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, source, {tx.tokens(tx.DUCK, 'text')} AS t
      FROM documents
    ),
    fb AS MATERIALIZED (
      SELECT tok.doc_id, tok.lang,
             {tx.seeded_hash64(tx.DUCK, 'u.bg', 'dsir')} % {DSIR_BUCKETS} AS b
      FROM tok, unnest({_ngrams_pos(tx.DUCK, 't', 2)}) AS u(bg)
    ),
    tcnt AS (
      SELECT b, count(*)::BIGINT AS ct FROM fb
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    ocnt AS (
      SELECT b, count(*)::BIGINT AS co FROM fb
      WHERE lang <> '{DSIR_TARGET_LANG}' GROUP BY b
    ),
    ratio AS (
      SELECT bk.b,
             {_dsir_ratio(tx.DUCK, 'coalesce(t.ct, 0) + 1', 'coalesce(o.co, 0) + 1')}
               AS r_micro
      FROM (SELECT unnest(range({DSIR_BUCKETS})) AS b) bk
      LEFT JOIN tcnt t ON t.b = bk.b
      LEFT JOIN ocnt o ON o.b = bk.b
    ),
    score AS (
      SELECT f.doc_id, sum(r.r_micro)::BIGINT AS score
      FROM fb f JOIN ratio r ON r.b = f.b GROUP BY f.doc_id
    ),
    allsc AS (
      SELECT d.doc_id, d.source, coalesce(s.score, 0)::BIGINT AS score
      FROM documents d LEFT JOIN score s ON s.doc_id = d.doc_id
    ),
    sel AS (
      SELECT source FROM (
        SELECT source,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
        FROM allsc
      ) WHERE rn <= {DSIR_SELECT_K}
    ),
    selc AS (SELECT source, count(*)::BIGINT AS n_sel FROM sel GROUP BY source)
    SELECT a.source,
           count(*)::BIGINT AS n_docs,
           coalesce(min(sc.n_sel), 0)::BIGINT AS n_selected,
           ((coalesce(min(sc.n_sel), 0) * 1000000) // {DSIR_SELECT_K})::BIGINT
             AS selection_share_ppm
    FROM allsc a LEFT JOIN selc sc ON sc.source = a.source
    GROUP BY a.source
    """,
)
def q_importance_resampling_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style training-data selection (Xie et al. 2023): model the
    target distribution ({DSIR_TARGET_LANG} docs) and the raw-rest
    distribution as multinomials over {DSIR_BUCKETS} hashed-bigram
    buckets, score every document by its feature-weighted importance,
    select the top {DSIR_SELECT_K} by (score DESC, doc_id), and report
    each source's share of the selection — the per-source mixture the
    resampling induces.

    Determinism (the honest deviation from the paper): DSIR's log
    likelihood-ratio needs log(), whose last-ulp behaviour differs
    across libm implementations, so the cross-engine contract scores
    with the integer-quantized likelihood RATIO instead —
    r_micro(b) = floor((cnt_target(b)+1) * 10^6 / (cnt_rest(b)+1)) via
    the overflow-safe tx.floor_scaled_div decomposition
    (Laplace-smoothed), CLIPPED at {DSIR_RATIO_CAP_MICRO} micro — the
    standard importance-weight clipping (variance control in any
    self-normalized importance sampler), which here also bounds the
    per-doc score sum in BIGINT at any corpus size — and summed over
    the document's bigram occurrences.  Monotone in each feature's
    likelihood ratio below the clip; heavier-tailed than the log form
    (stated, not hidden).  Ranks break ties on doc_id.

    Scale: one explode to (doc, bucket) rows; two bucket-domain
    aggregations (map-side combined, {DSIR_BUCKETS} rows out); the
    ratio table is bucket-domain-bounded and BROADCAST back onto the
    feature stream; the top-k is TakeOrderedAndProject (never a global
    sort); the final rollup is |sources| rows.  Nothing pairwise,
    nothing corpus-sized on one partition."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", F.expr(tx.tokens(tx.SPARK, "text")).alias("t")
    )
    # Materialize once (r15): the feature stream fed three consumers
    # (target counts, rest counts, the score join), each re-running the
    # tokenize + bigram + hash kernel; and the two per-lang bucket
    # counts collapse into ONE conditional aggregate over the same pass
    # (identical values — a bucket row exists iff any occurrence).
    # A/B at sf0.1 warm best-of-2: 6.3 s -> 2.8 s.
    fb = d.select(
        "doc_id",
        "lang",
        F.explode(F.expr(_ngrams_pos(tx.SPARK, "t", 2))).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        (F.expr(tx.seeded_hash64(tx.SPARK, "bg", "dsir")) % DSIR_BUCKETS).alias("b"),
    )
    fb, _ = materialize(fb)
    both = fb.groupBy("b").agg(
        F.count_if(F.col("lang") == DSIR_TARGET_LANG).cast("bigint").alias("ct"),
        F.count_if(F.col("lang") != DSIR_TARGET_LANG).cast("bigint").alias("co"),
    )
    ratio = (
        spark.range(DSIR_BUCKETS)
        .select(F.col("id").alias("b"))
        .join(both, "b", "left")
        .select(
            "b",
            F.expr(
                _dsir_ratio(tx.SPARK, "coalesce(ct, 0) + 1", "coalesce(co, 0) + 1")
            ).alias("r_micro"),
        )
    )
    score = (
        fb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum("r_micro").cast("bigint").alias("score"))
    )
    allsc = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "source")
        .join(score, "doc_id", "left")
        .select(
            "doc_id", "source", F.coalesce("score", F.lit(0)).cast("bigint").alias("score")
        )
    )
    sel = (
        allsc.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DSIR_SELECT_K)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sel"))
    )
    return (
        allsc.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(F.broadcast(sel), "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_sel", F.lit(0)).cast("bigint").alias("n_selected"),
            F.expr(
                f"CAST((coalesce(n_sel, 0) * 1000000) div {DSIR_SELECT_K} AS BIGINT)"
            ).alias("selection_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (farthest-point traversal)
# ---------------------------------------------------------------------------

KCENTER_K = 6
# tied to the shared EMB_DIM so a dimensionality change cannot silently
# diverge the engines: past-the-end DuckDB list indexing yields NULL
# (folding the whole distance to NULL) while Spark's zip_with truncates
_D2_DUCK = (
    f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {EMB_DIM}), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)"
    ")), (acc, v) -> acc + v)"
)  # {a}/{b} are .format placeholders (only the first segment is an f-string)


def _kcenter_oracle() -> str:
    r6 = sim.round6_sql

    def d2(a: str, b: str) -> str:
        return _D2_DUCK.format(a=a, b=b)

    # AS MATERIALIZED: each d_i is referenced by BOTH s_{i+1} and d_{i+1},
    # so letting DuckDB inline the chain would re-evaluate the distance
    # scans 2^k times (measured as an fd blow-up in the kcore oracle's
    # denser chain); materialization makes the unroll linear like the
    # engine's persisted loop
    ctes = [
        "c0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings "
        "ORDER BY vec_id LIMIT 1)",
        f"""d0 AS MATERIALIZED (
      SELECT e.vec_id, e.embedding, {d2('e.embedding', 'c.embedding')} AS md
      FROM embeddings e CROSS JOIN c0 c
    )""",
    ]
    rows = ["SELECT 0::BIGINT AS sel_round, vec_id, 0.0 AS min_d2_r6 FROM c0"]
    for i in range(1, KCENTER_K):
        prev_d = f"d{i - 1}"
        ctes.append(
            f"""s{i} AS MATERIALIZED (
      SELECT vec_id, embedding, md FROM {prev_d}
      ORDER BY md DESC, vec_id ASC LIMIT 1
    )"""
        )
        if i < KCENTER_K - 1:
            ctes.append(
                f"""d{i} AS MATERIALIZED (
      SELECT d.vec_id, d.embedding,
             least(d.md, {d2('d.embedding', 's.embedding')}) AS md
      FROM {prev_d} d CROSS JOIN s{i} s
    )"""
            )
        rows.append(
            f"SELECT {i}::BIGINT AS sel_round, vec_id, {r6('md')} AS min_d2_r6 "
            f"FROM s{i}"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(rows)


def _kcenter_pick_frame(emb: DataFrame, md) -> DataFrame:
    """One traversal round's EAGER-phase plan (distance map + argmax) —
    factored out so tests can lint the frames that do the distributed
    work: the query's returned frame is a driver-assembled local
    relation the generic plan sweep sees as a trivial LocalTableScan."""
    return (
        emb.select("vec_id", "embedding", md.alias("md"))
        .orderBy(F.desc("md"), F.asc("vec_id"))
        .limit(1)
    )


@_register("kcenter_coreset", _kcenter_oracle())
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985 farthest-point traversal,
    the classic 2-approximation): seed with the lowest-id vector, then
    {KCENTER_K}-1 times select the vector farthest from the selected
    set (argmax of min squared distance, ties to the lowest vec_id).
    Emits (round, vec_id, its coverage distance) — the diverse-subset
    selector an embedding-curation pipeline uses, and each round's
    min_d2 IS the coverage radius the next center removes.

    Determinism: distances accumulate dimensions in the oracle fold's
    exact order (the kmeans discipline — operators.clustering._dist2 vs
    the oracle's list_reduce), least() chains in iteration order, and
    the argmax's (md DESC, vec_id ASC) is a total order because the
    doubles are bit-identical across engines.

    Scale: the selected set is a k x dim driver-side model exactly like
    kmeans centroids — each iteration is one narrow map (min over <= k
    literal centers, no shuffle, no pair join) + one TakeOrdered(1);
    k driver-side collects of ONE tiny row each (k-bounded, never
    corpus-bounded).  The oracle unrolls the same {KCENTER_K}
    iterations as chained CTEs."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding").persist()
    c0 = emb.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    # every round's argmax row is collected anyway (the next center's
    # vector is needed driver-side), so the result is assembled from
    # those rows directly — the power_iteration pattern; re-deriving it
    # from a union of limit-1 frames would re-run every TakeOrdered
    # scan a second time when the returned frame evaluates
    rows = [(0, c0["vec_id"], 0.0)]
    md = _dist2("embedding", list(c0["embedding"]))
    for i in range(1, KCENTER_K):
        pick = _kcenter_pick_frame(emb, md).collect()[0]
        rows.append((i, pick["vec_id"], _pi_round6(pick["md"])))
        if i < KCENTER_K - 1:
            md = F.least(md, _dist2("embedding", list(pick["embedding"])))
    return spark.createDataFrame(
        rows, "sel_round long, vec_id long, min_d2_r6 double"
    )


# ---------------------------------------------------------------------------
# Distinct-n n-gram diversity per source (Self-BLEU-lite audit)
# ---------------------------------------------------------------------------


def _diversity_grams_sql(n: int) -> str:
    return f"""
      SELECT tok.source, {n} AS n, u.g
      FROM tok, unnest({_ngrams_pos(tx.DUCK, 't', n)}) AS u(g)"""


@_register(
    "distinct_ngram_diversity",
    f"""
    WITH tok AS (
      SELECT source, {tx.tokens(tx.DUCK, 'text')} AS t FROM documents
    ),
    grams AS ({_diversity_grams_sql(1)}
      UNION ALL {_diversity_grams_sql(2)}
      UNION ALL {_diversity_grams_sql(3)}
    ),
    per_gram AS (
      SELECT source, n, g, count(*)::BIGINT AS c FROM grams GROUP BY 1, 2, 3
    )
    SELECT source, n::BIGINT AS n,
           sum(c)::BIGINT AS total_ngrams,
           count(*)::BIGINT AS distinct_ngrams,
           ((count(*) * 1000000) // sum(c))::BIGINT AS distinct_ppm
    FROM per_gram
    GROUP BY source, n
    """,
)
def q_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity ratios per source for n = 1, 2, 3 — the
    corpus-diversity audit (the distinct-n metric of Li et al. 2016,
    the cheap stand-in for Self-BLEU): a source whose trigram
    distinct-ratio collapses is template/boilerplate text, a prime
    curation-drop candidate.

    Scale: one explode per n unioned (flat maps, no shuffle), ONE
    (source, n, gram) hash aggregate with map-side combine — the
    classic two-level exact count-distinct shape, never a
    count(DISTINCT) over a corpus-wide single group — then a
    |sources| x 3 rollup.  Determinism: pure counting; ppm ratios are
    floor-divided integers."""
    # r15: one tokenize pass + ONE tagged explode instead of three union
    # legs (each leg re-ran the tokenizer + its own scan); spread()
    # parallelizes the single-row-group scan before the heavy per-row work.
    tok = spread(load_table(spark, "documents", sf_dir)).select(
        "source", F.expr(tx.tokens(tx.SPARK, "text")).alias("t")
    )
    tagged = "concat(" + ", ".join(
        f"transform({_ngrams_pos(tx.SPARK, 't', n)}, "
        f"x -> struct(CAST({n} AS BIGINT) AS n, x AS g))"
        for n in (1, 2, 3)
    ) + ")"
    grams = tok.select(
        "source", F.explode(F.expr(tagged)).alias("e")
    ).select("source", "e.n", "e.g")
    per_gram = grams.groupBy("source", "n", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return per_gram.groupBy("source", "n").agg(
        F.sum("c").cast("bigint").alias("total_ngrams"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"),
        F.expr("CAST((count(*) * 1000000) div sum(c) AS BIGINT)").alias(
            "distinct_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage over parts
# ---------------------------------------------------------------------------

FS_CHUNK = 64  # mod-chunk pair-work cap, shared contract (operators/chunking)
# literal integer milli-log-odds per comparison field: the (m, u)
# probabilities of a trained FS model enter the score ONLY through these
# agreement/disagreement weights, so fixing them as literals (the same
# way Benford fixes its log10 constants) keeps the engine libm-free.
FS_W = {
    "brand": (1800, -900),
    "size": (1200, -700),
    "price": (1500, -800),
    "adj": (900, -400),
}
FS_T_MATCH = 2500  # >= : match
FS_T_POSSIBLE = 0  # >= : possible, else non-match
FS_SIZE_TOL = 2
FS_PRICE_TOL_CENTS = 500
# Shifted double-grid widths for the two tolerance fields (width = 2*tol,
# second grid offset by tol): any pair within tolerance shares a cell in
# at least one of the two grids — the standard banding lemma.
FS_SIZE_W = 2 * FS_SIZE_TOL
FS_CENT_W = 2 * FS_PRICE_TOL_CENTS


def _fs_pass_keys(dialect: str) -> list[tuple[str, str]]:
    """The six field-agreement blocking passes as (name, key-expr) —
    one equality pass per exact field (brand, adj) and a shifted
    double-grid pass pair per tolerance field (size, price).  Integer
    div is truncated in Spark and floor in DuckDB; both operands are
    non-negative in the TPC-H part domain (p_size 1..50, retail price
    > 0), where the two agree."""
    d = "//" if dialect == tx.DUCK else "div"
    cast = "VARCHAR" if dialect == tx.DUCK else "STRING"
    return [
        ("b", "brand"),
        ("a", "adj"),
        ("s0", f"CAST(size {d} {FS_SIZE_W} AS {cast})"),
        ("s1", f"CAST((size + {FS_SIZE_TOL}) {d} {FS_SIZE_W} AS {cast})"),
        ("p0", f"CAST(cents {d} {FS_CENT_W} AS {cast})"),
        ("p1", f"CAST((cents + {FS_PRICE_TOL_CENTS}) {d} {FS_CENT_W} AS {cast})"),
    ]


def _fs_score(prefix_a: str, prefix_b: str) -> str:
    """The FS agreement score as one integer expression — identical text
    in both dialects (CASE/abs/comparison only)."""
    terms = [
        f"(CASE WHEN {prefix_a}brand = {prefix_b}brand "
        f"THEN {FS_W['brand'][0]} ELSE {FS_W['brand'][1]} END)",
        f"(CASE WHEN abs({prefix_a}size - {prefix_b}size) <= {FS_SIZE_TOL} "
        f"THEN {FS_W['size'][0]} ELSE {FS_W['size'][1]} END)",
        f"(CASE WHEN abs({prefix_a}cents - {prefix_b}cents) <= {FS_PRICE_TOL_CENTS} "
        f"THEN {FS_W['price'][0]} ELSE {FS_W['price'][1]} END)",
        f"(CASE WHEN {prefix_a}adj = {prefix_b}adj "
        f"THEN {FS_W['adj'][0]} ELSE {FS_W['adj'][1]} END)",
    ]
    return "(" + " + ".join(terms) + ")"


def _fs_oracle() -> str:
    bk_rows = "\n      UNION ALL ".join(
        f"SELECT pk, w, ptype, noun, brand, size, cents, adj, "
        f"'{pname}' AS bpass, {kexpr} AS bkey FROM clus"
        for pname, kexpr in _fs_pass_keys(tx.DUCK)
    )
    return f"""
    WITH reg AS (
      SELECT p_partkey AS pk, p_type AS ptype,
             split_part(p_name, ' ', 2) AS noun,
             split_part(p_name, ' ', 1) AS adj,
             p_brand AS brand, p_size AS size,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM part
    ),
    clus AS (
      SELECT ptype, noun, adj, brand, size, cents,
             min(pk) AS pk, count(*)::BIGINT AS w
      FROM reg GROUP BY ptype, noun, adj, brand, size, cents
    ),
    ident AS (
      SELECT ptype, sum(w * (w - 1) // 2)::BIGINT AS ident_pairs
      FROM clus GROUP BY ptype
    ),
    bk AS (
      {bk_rows}
    ),
    bc AS (
      SELECT ptype, noun, bpass, bkey, {chk.nch_sql(FS_CHUNK)} AS nch
      FROM bk GROUP BY ptype, noun, bpass, bkey
    ),
    ck AS (
      SELECT bk.*,
             {tx.chunk_of(tx.DUCK, "concat(bk.bpass, '#', CAST(bk.pk AS VARCHAR))", 'bc.nch')}
               AS chunk
      FROM bk JOIN bc ON bk.ptype = bc.ptype AND bk.noun = bc.noun
                     AND bk.bpass = bc.bpass AND bk.bkey = bc.bkey
    ),
    cand AS (
      SELECT DISTINCT a.ptype, a.pk AS a_pk, b.pk AS b_pk,
             a.w AS a_w, b.w AS b_w,
             {_fs_score('a.', 'b.')} AS score
      FROM ck a JOIN ck b
        ON a.ptype = b.ptype AND a.noun = b.noun AND a.bpass = b.bpass
       AND a.bkey = b.bkey AND a.chunk = b.chunk AND a.pk < b.pk
    ),
    cross_cnt AS (
      SELECT ptype,
             sum(a_w * b_w)::BIGINT AS x_pairs,
             sum(CASE WHEN score >= {FS_T_MATCH} THEN a_w * b_w
                      ELSE 0 END)::BIGINT AS x_match,
             sum(CASE WHEN score >= {FS_T_POSSIBLE} AND score < {FS_T_MATCH}
                      THEN a_w * b_w ELSE 0 END)::BIGINT AS x_possible,
             sum(CASE WHEN score < {FS_T_POSSIBLE} THEN a_w * b_w
                      ELSE 0 END)::BIGINT AS x_nonmatch
      FROM cand GROUP BY ptype
    )
    SELECT i.ptype,
           (i.ident_pairs + COALESCE(c.x_pairs, 0))::BIGINT AS n_pairs,
           (i.ident_pairs + COALESCE(c.x_match, 0))::BIGINT AS n_match,
           COALESCE(c.x_possible, 0)::BIGINT AS n_possible,
           COALESCE(c.x_nonmatch, 0)::BIGINT AS n_nonmatch
    FROM ident i LEFT JOIN cross_cnt c ON i.ptype = c.ptype
    WHERE i.ident_pairs + COALESCE(c.x_pairs, 0) > 0
    """


@_register("fellegi_sunter_parts", _fs_oracle())
def q_fellegi_sunter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (JASA 1969) over the
    part register: blocked candidate pairs score each comparison field
    with literal agreement/disagreement milli-log-odds weights (brand
    equality, size within {FS_SIZE_TOL}, price within
    {FS_PRICE_TOL_CENTS} cents, adjective equality) and the summed
    score classifies match / possible / non-match per the two FS
    thresholds — reported per part type.

    Candidate generation (r12 redesign, VERDICT r11 ask #3 — blocking
    before scoring, not the 0.015-recall whole-register mod-chunk),
    two exact layers:

    1. EXACT-DUPLICATE CLUSTERING: records grouped by the full
       comparison tuple (type, noun, adjective, brand, size, cents);
       a cluster of w identical records contributes w*(w-1)/2 pairs
       ANALYTICALLY (all agree on every field => score 5400 => match)
       — linear work, recall 1.0 at ANY scale, immune to the cap.
       This absorbs the quadratic replica explosion (47% of all match
       pairs at the sf1.0synth decade are full-tuple-identical).
    2. BLOCKED SCORING OVER DISTINCT REPRESENTATIVES: the union of SIX
       field-agreement blocking passes within (type, noun) — equality
       on brand, equality on adjective, and a shifted double grid per
       tolerance field (width 2*tol, second grid offset by tol, so any
       within-tolerance pair shares a cell in >=1 grid) — over one
       representative per cluster (id = min pk), each pair counted
       with multiplicity a_w * b_w.  With these weights, score >=
       {FS_T_POSSIBLE} (possible-or-match) holds IFF the pair agrees
       on >=2 of the 4 fields (enumerate: every 2-agreement
       combination sums >= +400, every 1-agreement combination <=
       -100), so every cross-cluster match/possible pair agrees on
       >=1 blocked field and is generated by its pass — candidate
       recall for both FS classes is 1.0 BY CONSTRUCTION uncapped
       (pinned cross-engine in tests/test_draft_r12.py against the
       quadratic all-pairs in-block run).

    n_pairs / n_nonmatch count identical pairs plus the scored
    candidates (pairs agreeing on >=1 blocking key), the operational
    FS denominator — not the quadratic all-pairs universe.

    Determinism: weights are literals (a trained model's m/u
    probabilities enter only through them — the Benford constant
    discipline), prices are exact integer cents, comparisons and CASE
    sums are pure integers; the cross-pass DISTINCT collapses
    multi-pass duplicates exactly (score and weights are
    pair-deterministic).  Overflow: w*(w-1)/2 and a_w*b_w are safe
    while no single identical-record cluster exceeds ~3e9 rows (BIGINT
    product bound); DECIMAL(38,0) is the escape hatch past that.

    Scale: the representative register is DISTINCT-tuple-sized (the
    replica dimension is gone), pass blocks are 25-100x finer than
    (type, noun), and each pass carries the shared mod-chunk cap
    (FS_CHUNK={FS_CHUNK}, operators/chunking.py) with a PER-PASS chunk
    hash (the pass name is folded into the hash input), so past the
    cap a cross-cluster match pair (>=3 field agreements => >=3
    covering passes) gets >=3 INDEPENDENT survival draws instead of
    the old single 1/nch draw — measured by tools/chunk_recall.py --fs
    and recorded in APPROX_PAST_CAP.  The chunked branch is
    cross-engine-proven in tests/test_draft_r12.py."""
    reg = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("pk"),
        F.col("p_type").alias("ptype"),
        F.expr("split_part(p_name, ' ', 2)").alias("noun"),
        F.expr("split_part(p_name, ' ', 1)").alias("adj"),
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.expr("CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    clus = reg.groupBy("ptype", "noun", "adj", "brand", "size", "cents").agg(
        F.min("pk").alias("pk"), F.count(F.lit(1)).cast("bigint").alias("w")
    )
    # NOT persisted (r15 A/B): caching the 13x-referenced cluster frame
    # measured SLOWER at sf0.1 (6.5-8.9 s vs 3.2-4.4 s best-of-3) — the
    # InMemoryRelation leaf hides the size stats AQE uses to broadcast
    # the pass legs, and ReusedExchange already dedups the one shuffle.
    ident = clus.groupBy("ptype").agg(
        F.sum(F.expr("w * (w - 1) div 2")).cast("bigint").alias("ident_pairs")
    )
    # All six pass legs from ONE explode (r15, guide §2.4): the old
    # unionByName of six selects of `clus` re-ran the cluster
    # aggregation per leg (ReusedExchange dedups the exchange, not the
    # post-shuffle HashAggregate); the (bpass, bkey) structs are plain
    # row-local expressions, so one in-JVM explode over a single
    # aggregation emits the identical rows.  This is NOT the rejected
    # persist (see above): no InMemoryRelation leaf, AQE still sees
    # runtime stage stats for the downstream joins.
    bk = clus.select(
        "pk", "w", "ptype", "noun", "brand", "size", "cents", "adj",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pname).alias("bpass"), F.expr(kexpr).alias("bkey")
                    )
                    for pname, kexpr in _fs_pass_keys(tx.SPARK)
                ]
            )
        ).alias("e"),
    ).select(
        "pk", "w", "ptype", "noun", "brand", "size", "cents", "adj",
        F.col("e.bpass").alias("bpass"), F.col("e.bkey").alias("bkey"),
    )
    # nch via a window count over the pass-block key: ONE shuffle where
    # the oracle-mirroring agg+join form pays two (measured isolated
    # best-of-3 at sf0.1: 2.66 s vs 5.08 s, bit-identical output — the
    # oracle keeps the GROUP BY + JOIN form, values are what's
    # compared).  Same co-location/skew as the downstream pair join;
    # WindowExec spills oversized blocks rather than failing.
    ck = bk.withColumn(
        "nch",
        F.expr(
            f"CAST((count(*) OVER (PARTITION BY ptype, noun, bpass, bkey) "
            f"+ {FS_CHUNK - 1}) div {FS_CHUNK} AS BIGINT)"
        ),
    ).withColumn(
        "chunk",
        F.expr(
            tx.chunk_of(tx.SPARK, "concat(bpass, '#', CAST(pk AS STRING))", "nch")
        ),
    )
    a = ck.select(
        F.col("pk").alias("a_pk"), F.col("w").alias("a_w"),
        "ptype", "noun", "bpass", "bkey", "chunk",
        F.col("adj").alias("a_adj"), F.col("brand").alias("a_brand"),
        F.col("size").alias("a_size"), F.col("cents").alias("a_cents"),
    )
    b = ck.select(
        F.col("pk").alias("b_pk"), F.col("w").alias("b_w"),
        "ptype", "noun", "bpass", "bkey", "chunk",
        F.col("adj").alias("b_adj"), F.col("brand").alias("b_brand"),
        F.col("size").alias("b_size"), F.col("cents").alias("b_cents"),
    )
    cand = (
        a.join(b, ["ptype", "noun", "bpass", "bkey", "chunk"])
        .filter(F.col("a_pk") < F.col("b_pk"))
        .select(
            "ptype", "a_pk", "b_pk", "a_w", "b_w",
            F.expr(_fs_score("a_", "b_")).alias("score"),
        )
        .distinct()
    )
    cross = cand.groupBy("ptype").agg(
        F.sum(F.expr("a_w * b_w")).cast("bigint").alias("x_pairs"),
        F.sum(F.expr(f"CASE WHEN score >= {FS_T_MATCH} THEN a_w * b_w ELSE 0 END"))
        .cast("bigint")
        .alias("x_match"),
        F.sum(
            F.expr(
                f"CASE WHEN score >= {FS_T_POSSIBLE} AND score < {FS_T_MATCH} "
                f"THEN a_w * b_w ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("x_possible"),
        F.sum(F.expr(f"CASE WHEN score < {FS_T_POSSIBLE} THEN a_w * b_w ELSE 0 END"))
        .cast("bigint")
        .alias("x_nonmatch"),
    )
    return (
        ident.join(cross, ["ptype"], "left")
        .select(
            "ptype",
            F.expr("CAST(ident_pairs + COALESCE(x_pairs, 0) AS BIGINT)").alias(
                "n_pairs"
            ),
            F.expr("CAST(ident_pairs + COALESCE(x_match, 0) AS BIGINT)").alias(
                "n_match"
            ),
            F.expr("CAST(COALESCE(x_possible, 0) AS BIGINT)").alias("n_possible"),
            F.expr("CAST(COALESCE(x_nonmatch, 0) AS BIGINT)").alias("n_nonmatch"),
        )
        .filter(F.col("n_pairs") > 0)
    )


# ---------------------------------------------------------------------------
# k-core decomposition of the co-purchase graph (fixed peeling rounds)
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ITERS = 4  # a fixed PREFIX of the peel, the PageRank discipline —
# NOT a convergence claim: sf0.001 is converged from round 1, sf0.01 by
# round 4, sf0.1's removals still shrink geometrically (4855, 929, 116,
# 15) — the report states per-round removals so the reader sees exactly
# how far the peel got; a fixpoint run just raises this constant


def _kcore_oracle() -> str:
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges_sql

    # AS MATERIALIZED throughout: e_i / v_i are each referenced several
    # times (degree rollup, survivor joins, report counts) — inlined, the
    # unroll re-expands the whole prefix per reference and the scan tree
    # grows exponentially (observed: DuckDB fd exhaustion at 5 rounds);
    # materialized, each round is evaluated once, like the engine's
    # per-round persist
    ctes = [
        _copurchase_edges_sql().strip(),
        "e0 AS MATERIALIZED (SELECT pa, pb FROM e)",
        "v0 AS MATERIALIZED (SELECT pa AS v FROM e0 UNION SELECT pb AS v FROM e0)",
    ]
    rows = []
    for i in range(KCORE_ITERS):
        ctes.append(
            f"""deg{i} AS MATERIALIZED (
      SELECT v, count(*)::BIGINT AS deg FROM (
        SELECT pa AS v FROM e{i} UNION ALL SELECT pb AS v FROM e{i}
      ) GROUP BY v
    )"""
        )
        ctes.append(
            f"""v{i + 1} AS MATERIALIZED (
      SELECT n.v FROM v{i} n JOIN deg{i} d ON d.v = n.v AND d.deg >= {KCORE_K}
    )"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
      SELECT e.pa, e.pb FROM e{i} e
      JOIN v{i + 1} ka ON e.pa = ka.v
      JOIN v{i + 1} kb ON e.pb = kb.v
    )"""
        )
        rows.append(
            f"""SELECT {i + 1}::BIGINT AS iter,
           (SELECT count(*) FROM v{i}) - (SELECT count(*) FROM v{i + 1})
             AS n_removed,
           (SELECT count(*) FROM v{i + 1})::BIGINT AS n_nodes,
           (SELECT count(*) FROM e{i + 1})::BIGINT AS n_edges"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(rows)
    )


@_register("kcore_decomposition", _kcore_oracle())
def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core peeling of the co-purchase graph (Seidman 1983):
    each round removes every node whose CURRENT degree is below
    {KCORE_K} and the edges touching it, reporting (round, removed,
    surviving nodes, surviving edges).  The k-core is the standard
    spam/fringe screen on behaviour graphs — fringe parts peel off,
    the dense co-purchase core survives.  {KCORE_ITERS} fixed rounds,
    the PageRank/LPA discipline (a stated PREFIX of the peel, not a
    convergence claim — per-round removal counts show how far it got),
    and the oracle unrolls the SAME rounds as chained MATERIALIZED
    CTEs so the comparison is bit-exact rather than 'until
    convergence' (which could differ between engines only by
    iteration accounting, never by math).

    Scale: degrees are one map-side-combined aggregate per round over
    the CURRENT edge list (a single explode, so the edge frame enters
    the degree plan once); survivor filtering is two hash semi-joins on
    node id.  Per-round frames are localCheckpoint'ed — the DELIBERATE
    opposite of the pagerank/LPA/BFS persist decision (r10 measured
    localCheckpoint killing pagerank 1.35→6.1 s by dropping stats and
    columnar cache): their lineage is LINEAR in the round (each frame
    feeds the next once), while the peel's is MULTIPLICATIVE — every
    round references its edge/survivor frames 3-4 times (degrees,
    two-sided edge filter, three report counts), so a persist-only
    chain grows the LOGICAL plan tree exponentially (measured: driver
    OOM in generateTreeString at 4 rounds on sf0.01).  What the
    LogicalRDD leaf costs pagerank it does not cost here: at corpus
    scale both sides of the survivor join are corpus-sized node/edge
    lists, where the shuffle join a default-stat leaf forces is the
    strategy the planner would pick anyway.  The per-round report row
    crosses three 1-row counts (BNLJ-allowlisted, the
    bounded-build-side pattern)."""
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges

    edges = (
        _copurchase_edges(spark, sf_dir)
        .select("pa", "pb")
        .repartition("pa")
        .localCheckpoint()
    )

    def endpoints(e):
        """Distinct node set of an edge frame (lazy)."""
        return (
            e.select(F.explode(F.array(F.col("pa"), F.col("pb"))).alias("v"))
            .distinct()
        )

    # r16 (verdict item 4): ONE materialization per round instead of two.
    # The round's only checkpoint is the DEGREE-ANNOTATED edge frame
    # (pa, pb, dega, degb); both frames the old form checkpointed
    # separately now derive lazily from it with no recomputation risk:
    #   survivors  = rows with dega >= K AND degb >= K   (a filter)
    #   keep nodes = distinct endpoints with deg >= K    (one small agg)
    # keep == nodes JOIN deg [>= K] exactly: every node with current
    # degree >= K >= 1 touches a current edge, so it appears in the
    # annotated frame with its degree; zero-degree nodes drop from both
    # forms. Eager jobs per query: 1 + ITERS (was 2 + 2*ITERS); the
    # multiplicative-lineage reasoning above still holds — each round's
    # consumers all read the one checkpointed generation.
    nodes_cnt = endpoints(edges).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    out = None
    for i in range(KCORE_ITERS):
        deg = (
            edges.select(
                F.explode(F.array(F.col("pa"), F.col("pb"))).alias("v")
            )
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )
        ann = (
            edges.join(deg.select(F.col("v").alias("pa"), F.col("deg").alias("dega")), "pa")
            .join(deg.select(F.col("v").alias("pb"), F.col("deg").alias("degb")), "pb")
            .select("pa", "pb", "dega", "degb")
            .repartition("pa")
            .localCheckpoint()
        )
        new_edges = (
            ann.filter((F.col("dega") >= KCORE_K) & (F.col("degb") >= KCORE_K))
            .select("pa", "pb")
        )
        keep_cnt = (
            ann.select(
                F.explode(
                    F.expr(
                        "array(struct(pa AS v, dega AS deg), "
                        "struct(pb AS v, degb AS deg))"
                    )
                ).alias("x")
            )
            .filter(F.col("x.deg") >= KCORE_K)
            .select(F.col("x.v").alias("v"))
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        )
        row = (
            nodes_cnt.crossJoin(keep_cnt)
            .crossJoin(
                new_edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            )
            .select(
                F.lit(i + 1).cast("bigint").alias("iter"),
                (F.col("n_before") - F.col("n_nodes")).cast("bigint").alias(
                    "n_removed"
                ),
                "n_nodes",
                "n_edges",
            )
        )
        out = row if out is None else out.unionByName(row)
        nodes_cnt = keep_cnt.select(F.col("n_nodes").alias("n_before"))
        edges = new_edges
    return out


# ---------------------------------------------------------------------------
# l-diversity audit (companion to k_anonymity_report, same QI ladder)
# ---------------------------------------------------------------------------

L_DIV_MIN = 3  # a QI cell needs >= 3 distinct sensitive values


def _ldiv_level_sql(band: int) -> str:
    return f"""
      SELECT {band} AS band_width,
             count(*)::BIGINT AS n_cells,
             sum(CASE WHEN l < {L_DIV_MIN} THEN 1 ELSE 0 END)::BIGINT
               AS n_low_diversity_cells,
             sum(CASE WHEN l < {L_DIV_MIN} THEN n ELSE 0 END)::BIGINT
               AS n_rows_at_risk,
             min(l)::BIGINT AS min_l
      FROM (
        SELECT c_nationkey,
               (floor(c_acctbal / {band}))::BIGINT AS bal_band,
               count(DISTINCT c_mktsegment)::BIGINT AS l,
               count(*)::BIGINT AS n
        FROM customer
        GROUP BY 1, 2
      ) cells"""


@_register(
    "l_diversity_audit",
    f"""
    {_ldiv_level_sql(1000)}
    UNION ALL
    {_ldiv_level_sql(3000)}
    """,
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a cell can hold k rows that all share ONE
    sensitive value (here the market segment), so membership alone
    discloses it.  Per generalization rung (the k_anonymity_report
    ladder minus the sensitive attribute itself, which must never sit
    in the QI): cells below l = {L_DIV_MIN} distinct sensitive values,
    rows at risk, and the worst cell's l.

    Scale: one exact two-level count-distinct per rung — (QI, segment)
    pre-aggregate then QI rollup, cell count bounded by the QI domain —
    then a 1-row summary; rungs union.  Determinism: pure counting;
    floor(acctbal / band) is one IEEE division + floor on identical
    text."""
    c = load_table(spark, "customer", sf_dir)

    def level(band: int) -> DataFrame:
        cells = c.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / band).cast("bigint").alias("bal_band"),
        ).agg(
            F.countDistinct("c_mktsegment").cast("bigint").alias("l"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        low = F.col("l") < L_DIV_MIN
        return cells.agg(
            F.lit(band).cast("bigint").alias("band_width"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias(
                "n_low_diversity_cells"
            ),
            F.sum(F.when(low, F.col("n")).otherwise(0)).cast("bigint").alias(
                "n_rows_at_risk"
            ),
            F.min("l").cast("bigint").alias("min_l"),
        )

    return level(1000).unionByName(level(3000))


# ---------------------------------------------------------------------------
# Chi-square token selection (discriminative vocabulary per language)
# ---------------------------------------------------------------------------

CHI2_MIN_COUNT = 5  # support filter: tokens below this never enter ranking
CHI2_TOP_N = 5


def _chi2_expr(dialect: str) -> str:
    """chi2 in milli-units from the exact integer contingency counts
    (a, b, c, d, n) — a fixed sequence of IEEE double ops, identical
    text in both dialects (no libm), floor-quantized at the end.  The
    op ORDER interleaves multiplies and divides so intermediates stay
    ~1e8-1e12 (all exactly representable or identically rounded)."""
    cast = "CAST(%s AS DOUBLE)" if dialect == tx.SPARK else "(%s)::DOUBLE"

    def d(e: str) -> str:
        return cast % e

    num = f"({d('a')} * {d('dd')} - {d('b')} * {d('c')})"
    return (
        f"CAST(floor({d('n')} * {num} / ({d('a')} + {d('b')}) * {num} "
        f"/ ({d('c')} + {d('dd')}) / ({d('a')} + {d('c')}) "
        f"/ ({d('b')} + {d('dd')}) * 1000 + 0.5) AS BIGINT)"
    )


@_register(
    "chi2_token_selection",
    f"""
    WITH tok AS MATERIALIZED (
      SELECT lang, u.t AS token
      FROM (SELECT lang, {tx.tokens(tx.DUCK, 'text')} AS ts FROM documents),
           unnest(ts) AS u(t)
    ),
    lt AS (SELECT lang, token, count(*)::BIGINT AS a FROM tok GROUP BY 1, 2),
    tt AS (SELECT token, count(*)::BIGINT AS t_tot FROM tok GROUP BY 1),
    lg AS (SELECT lang, count(*)::BIGINT AS l_tot FROM tok GROUP BY 1),
    nn AS (SELECT count(*)::BIGINT AS n FROM tok),
    cells AS (
      SELECT lt.lang, lt.token, lt.a,
             (tt.t_tot - lt.a) AS b,
             (lg.l_tot - lt.a) AS c,
             (nn.n - tt.t_tot - lg.l_tot + lt.a) AS dd,
             nn.n AS n
      FROM lt
      JOIN tt ON tt.token = lt.token
      JOIN lg ON lg.lang = lt.lang
      CROSS JOIN nn
      WHERE lt.a >= {CHI2_MIN_COUNT}
    ),
    scored AS (
      SELECT lang, token, a, {_chi2_expr(tx.DUCK)} AS chi2_milli
      FROM cells
    )
    SELECT lang, token, a AS n_in_lang, chi2_milli, rn::BIGINT AS rn
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY chi2_milli DESC, token ASC
      ) AS rn FROM scored
    ) WHERE rn <= {CHI2_TOP_N}
    """,
)
def q_chi2_token_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: the {CHI2_TOP_N} most
    language-discriminative tokens per language, chi2 computed from the
    exact 2x2 contingency counts (token-in-lang vs rest) — the classic
    text-classification vocabulary selector, and the language-ID
    feature audit for a curation pipeline.

    Determinism: counts are exact BIGINTs; chi2 is one fixed sequence
    of IEEE double multiply/divides on those integers (identical
    expression text both engines, no libm — the chi-square drift
    monitor's discipline), floor-quantized to milli-units; ranking ties
    break on token.

    Scale: one (lang, token) aggregate with map-side combine, two
    domain-bounded rollups (|langs|, 1) broadcast back, one
    vocabulary-sized token rollup joined on the token key.  The
    CHI2_MIN_COUNT support filter ({CHI2_MIN_COUNT}+ occurrences) is
    part of the CONTRACT, stated not silent: it bounds the per-lang
    ranking window's input to the frequent-vocabulary size (~sqrt
    corpus under Zipf), the same pre-filter discipline as
    stratified_reservoir_topk."""
    # r15: tokenize ONCE — tt / lg / nn are exact rollups of the
    # (lang, token) frame (sum of a), so the old four independent
    # consumers (each re-running tokenize+explode over its own scan)
    # collapse to one corpus pass + three tiny second-level aggregates.
    tok = (
        load_table(spark, "documents", sf_dir)
        .select("lang", F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token"))
    )
    lt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    tt = lt.groupBy("token").agg(F.sum("a").cast("bigint").alias("t_tot"))
    lg = lt.groupBy("lang").agg(F.sum("a").cast("bigint").alias("l_tot"))
    nn = lt.agg(F.sum("a").cast("bigint").alias("n"))
    cells = (
        lt.filter(F.col("a") >= CHI2_MIN_COUNT)
        .join(tt, "token")
        .join(F.broadcast(lg), "lang")
        .crossJoin(F.broadcast(nn))
        .select(
            "lang",
            "token",
            "a",
            (F.col("t_tot") - F.col("a")).alias("b"),
            (F.col("l_tot") - F.col("a")).alias("c"),
            (F.col("n") - F.col("t_tot") - F.col("l_tot") + F.col("a")).alias("dd"),
            "n",
        )
    )
    scored = cells.withColumn("chi2_milli", F.expr(_chi2_expr(tx.SPARK)))
    w = W.partitionBy("lang").orderBy(F.desc("chi2_milli"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= CHI2_TOP_N)
        .select("lang", "token", F.col("a").alias("n_in_lang"), "chi2_milli", "rn")
    )


# ---------------------------------------------------------------------------
# Per-source unigram divergence from the corpus distribution (mix drift)
# ---------------------------------------------------------------------------
# An OOV/hapax audit was considered and REJECTED for this corpus: the
# synthetic vocabulary is 31 tokens with min df 25 at every SF, so any
# rarity-based metric is structurally zero — an oracle that hash-matches
# on all-zeros proves nothing.  L1 divergence between each source's
# unigram distribution and the corpus distribution is non-degenerate on
# the same data and is the audit a mixture-rebalancing pipeline actually
# reads (which source's token mix drifts furthest from the corpus).


@_register(
    "source_divergence_audit",
    f"""
    WITH tok AS MATERIALIZED (
      SELECT source, u.t AS token
      FROM (SELECT source, {tx.tokens(tx.DUCK, 'text')} AS ts FROM documents),
           unnest(ts) AS u(t)
    ),
    st AS (SELECT source, token, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
    stot AS (SELECT source, sum(c)::BIGINT AS n_s FROM st GROUP BY source),
    gt AS (SELECT token, sum(c)::BIGINT AS g FROM st GROUP BY token),
    gtot AS (SELECT sum(c)::BIGINT AS n FROM st),
    cells AS (
      SELECT s.source,
             abs({tx.floor_scaled_div(tx.DUCK, 'coalesce(st.c, 0)', 's.n_s', 1000000)}
                 - {tx.floor_scaled_div(tx.DUCK, 'gt.g', 'g2.n', 1000000)}) AS d_ppm
      FROM gt
      CROSS JOIN stot s
      CROSS JOIN gtot g2
      LEFT JOIN st ON st.token = gt.token AND st.source = s.source
    )
    SELECT c.source,
           min(s.n_s)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_vocab,
           sum(c.d_ppm)::BIGINT AS l1_divergence_ppm
    FROM cells c JOIN stot s ON s.source = c.source
    GROUP BY c.source
    """,
)
def q_source_divergence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-mix drift: the L1 distance (total variation x2)
    between each source's unigram distribution and the corpus
    distribution, in exact ppm — the audit a data-mixture rebalancer
    reads to find the source whose language drifted furthest from the
    blend it was weighted for.  The full (source x vocab) grid is
    evaluated, including tokens a source never uses (they contribute
    the corpus probability to the distance) — skipping them would
    understate drift for narrow sources.

    Determinism: both distributions quantize to floor-divided integer
    ppm BEFORE the |difference|, so every term is an exact BIGINT.

    Scale: one (source, token) aggregate with map-side combine; the
    grid is |sources| x |vocab| — sources are a catalog-bounded
    dimension (the same bound stratified_source_mix leans on) and the
    grid build is a broadcast of the |sources| rollup against the
    vocab-keyed frame, never a corpus-sized join."""
    tok = load_table(spark, "documents", sf_dir).select(
        "source", F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("token")
    )
    st = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    stot = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    gt = st.groupBy("token").agg(F.sum("c").cast("bigint").alias("g"))
    gtot = st.agg(F.sum("c").cast("bigint").alias("n"))
    cells = (
        gt.crossJoin(F.broadcast(stot))
        .crossJoin(F.broadcast(gtot))
        .join(st, ["token", "source"], "left")
        .select(
            "source",
            F.expr(
                f"abs({tx.floor_scaled_div(tx.SPARK, 'coalesce(c, 0)', 'n_s', 1000000)}"
                f" - {tx.floor_scaled_div(tx.SPARK, 'g', 'n', 1000000)})"
            ).alias("d_ppm"),
        )
    )
    return (
        cells.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
            F.sum("d_ppm").cast("bigint").alias("l1_divergence_ppm"),
        )
        .join(F.broadcast(stot), "source")
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_tokens"),
            "n_vocab",
            "l1_divergence_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Link prediction by common-neighbor Jaccard (hub-capped intermediaries)
# ---------------------------------------------------------------------------

LP_DEG_CAP = 64  # hub exclusion: intermediaries above this degree do not
#                  generate candidates (stated, oracle-mirrored — the
#                  minhash drop-cap discipline; hubs contribute
#                  deg^2 candidate pairs and near-zero signal)
LP_MIN_COMMON = 2  # support filter: a single shared neighbor is noise —
#                    without it the top-k is flooded by degree-1 pairs
#                    whose jaccard is trivially 1.0
LP_TOP = 25


def _lp_oracle() -> str:
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges_sql

    return f"""
    WITH {_copurchase_edges_sql().strip()},
    adj AS MATERIALIZED (
      SELECT pa AS v, pb AS nbr FROM e
      UNION ALL SELECT pb AS v, pa AS nbr FROM e
    ),
    deg AS MATERIALIZED (SELECT v, count(*)::BIGINT AS deg FROM adj GROUP BY v),
    mid AS (SELECT v FROM deg WHERE deg <= {LP_DEG_CAP}),
    cand AS (
      SELECT x.nbr AS a, y.nbr AS b, count(*)::BIGINT AS common
      FROM adj x
      JOIN mid m ON m.v = x.v
      JOIN adj y ON y.v = x.v AND x.nbr < y.nbr
      GROUP BY 1, 2
      HAVING count(*) >= {LP_MIN_COMMON}
    ),
    nonedge AS (
      SELECT c.a, c.b, c.common FROM cand c
      LEFT JOIN e ON e.pa = c.a AND e.pb = c.b
      WHERE e.pa IS NULL
    ),
    scored AS (
      SELECT n.a, n.b, n.common,
             ((n.common * 1000000) // (da.deg + db.deg - n.common))
               AS jaccard_ppm
      FROM nonedge n
      JOIN deg da ON da.v = n.a
      JOIN deg db ON db.v = n.b
    )
    SELECT a, b, common, jaccard_ppm::BIGINT AS jaccard_ppm,
           rn::BIGINT AS rn
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY jaccard_ppm DESC, a ASC, b ASC
      ) AS rn FROM scored
    ) WHERE rn <= {LP_TOP}
    """


@_register("link_prediction_jaccard", _lp_oracle())
def q_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: the {LP_TOP} strongest
    ABSENT edges by common-neighbor Jaccard (|Γa∩Γb| / |Γa∪Γb|) — the
    classic recommender/graph-completion primitive (Liben-Nowell &
    Kleinberg 2003).

    Scale: candidate pairs are generated ONLY through intermediaries of
    degree <= {LP_DEG_CAP} (hub exclusion — stated and oracle-mirrored,
    the minhash drop-cap discipline), so candidate volume is
    sum(deg(c)^2) <= CAP * 2|E| — LINEAR in edges, never the hub
    quadratic; pairs below {LP_MIN_COMMON} shared neighbors are dropped
    (a lone shared neighbor makes degree-1 pairs trivially jaccard 1.0
    and floods the top-k with noise).  Jaccard denominators use the
    FULL degrees (the cap gates candidate generation, not the score).
    Top-k is one
    TakeOrderedAndProject over the candidate aggregate.  Determinism:
    counts exact, jaccard floor-quantized to ppm, total order
    (jaccard_ppm DESC, a, b)."""
    from pedri_analysis_spark.plans.resolution_queries import _copurchase_edges

    # r15: materialize the edges BEFORE the three-consumer fan-out (each
    # consumer recomputed the co-purchase aggregate), and generate
    # candidate pairs from ONE sorted neighbor set per intermediary
    # (collect_set + in-JVM pair explode, the _copurchase_edges pattern)
    # instead of the adj x adj self-join: the x/y join legs' two
    # v-exchanges collapse into one partial-agg'd groupBy(v).  Fan-out
    # per intermediary is the same C(deg, 2), deg <= LP_DEG_CAP by the
    # size() gate (identical to the old mid semi-join: y-rows whose v
    # fails the cap never matched an x-row).
    e, _ = materialize(_copurchase_edges(spark, sf_dir).select("pa", "pb"))
    adj = e.select(
        F.explode(
            F.expr(
                "array(struct(pa AS v, pb AS nbr), struct(pb AS v, pa AS nbr))"
            )
        ).alias("x")
    ).select("x.v", "x.nbr")
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    nbrs = adj.groupBy("v").agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
    cand = (
        nbrs.filter(F.size("ns") <= LP_DEG_CAP)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ns, (x, i) -> "
                    "transform(slice(ns, i + 2, size(ns)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
        .filter(F.col("common") >= LP_MIN_COMMON)
    )
    nonedge = cand.join(
        e.select(F.col("pa").alias("a"), F.col("pb").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    scored = (
        nonedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            F.expr("CAST((common * 1000000) div (da + db - common) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    )
    w = W.orderBy(F.desc("jaccard_ppm"), F.asc("a"), F.asc("b"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= LP_TOP)
        .select("a", "b", "common", "jaccard_ppm", "rn")
    )


# ---------------------------------------------------------------------------
# Matryoshka (prefix-dimension) retrieval recall audit
# ---------------------------------------------------------------------------

MRL_NQ = 8  # query vectors (vec_id < MRL_NQ)
MRL_K = 10  # top-k depth
MRL_DIM = 16  # prefix dimensions retained


def _mrl_oracle() -> str:
    r6 = sim.round6_sql
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec
      FROM embeddings WHERE vec_id < {MRL_NQ}
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             {r6('list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[])')}
               AS fx,
             {r6(f'list_dot_product((e.embedding[1:{MRL_DIM}])::DOUBLE[], '
                 f'(q.qvec[1:{MRL_DIM}])::DOUBLE[])')} AS px
      FROM embeddings e, q WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY fx DESC, vec_id) AS rnf,
             row_number() OVER (PARTITION BY qid ORDER BY px DESC, vec_id) AS rnp
      FROM scored
    )
    SELECT qid AS query_id,
           count(*) FILTER (rnf <= {MRL_K} AND rnp <= {MRL_K})::BIGINT
             AS n_overlap,
           CAST(count(*) FILTER (rnf <= {MRL_K} AND rnp <= {MRL_K}) AS DOUBLE)
             / {MRL_K} AS recall_at_k
    FROM ranked GROUP BY qid
    """


@_register("matryoshka_recall_at_k", _mrl_oracle())
def q_matryoshka_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix-dimension recall audit: per query, how
    much of the exact full-dimension top-{MRL_K} survives when
    retrieval scores only the first {MRL_DIM} of 64 dimensions — the
    check a deployment runs before serving truncated MRL embeddings
    (Kusupati et al. 2022) at 4x lower memory/compute.  Completes the
    representation-audit family: sq_recall_at_k (precision axis),
    pq_recall_at_k (codebook axis), this (dimension axis).

    Scale and determinism: the sq_recall_at_k topology verbatim — the
    {MRL_NQ}-query side broadcasts, one narrow scoring pass computes
    both dots (Arrow kernel, round6 collapsing fold-order ulps exactly
    as proven there), the two per-query rankings share one qid
    shuffle, recall is count ratios."""
    emb = spread(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", "embedding", F.expr(f"slice(embedding, 1, {MRL_DIM})").alias("p16")
    )
    queries = emb.filter(F.col("vec_id") < MRL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qvec"),
        F.col("p16").alias("_qp16"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            sim.round6(sim.dot_fast("embedding", "_qvec")).alias("fx"),
            sim.round6(sim.dot_fast("p16", "_qp16")).alias("px"),
        )
    )
    wf = W.partitionBy("qid").orderBy(F.desc("fx"), F.asc("vec_id"))
    wp = W.partitionBy("qid").orderBy(F.desc("px"), F.asc("vec_id"))
    ranked = scored.select(
        "qid",
        F.row_number().over(wf).alias("rnf"),
        F.row_number().over(wp).alias("rnp"),
    )
    hit = (F.col("rnf") <= MRL_K) & (F.col("rnp") <= MRL_K)
    return ranked.groupBy(F.col("qid").alias("query_id")).agg(
        F.count_if(hit).cast("bigint").alias("n_overlap"),
        (F.count_if(hit).cast("double") / MRL_K).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Negative-pair hardness histogram (contrastive-training diagnostic)
# ---------------------------------------------------------------------------

NEG_BANDS = 256  # hash bands; adjacent-in-hash-order pairing within a band.
#                 The band count is the documented corpus-growth lever
#                 (like LSH k/L): bands ∝ corpus keeps per-band windows flat.


@_register(
    "negative_hardness_histogram",
    f"""
    WITH h AS (
      SELECT vec_id, embedding,
             {tx.seeded_hash64(tx.DUCK, 'vec_id::VARCHAR', 'negpair')} AS hh
      FROM embeddings
    ),
    r AS (
      SELECT vec_id, embedding, hh % {NEG_BANDS} AS band,
             row_number() OVER (
               PARTITION BY hh % {NEG_BANDS} ORDER BY hh, vec_id
             ) AS rn
      FROM h
    ),
    pairs AS (
      SELECT {_dcos('a.embedding', 'b.embedding')} AS sim
      FROM r a JOIN r b ON a.band = b.band AND b.rn = a.rn + 1
    )
    SELECT CAST(floor((sim + 1.0) * 10) AS BIGINT) AS sim_bin,
           count(*)::BIGINT AS n_pairs
    FROM pairs
    GROUP BY 1
    """,
)
def q_negative_hardness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hardness distribution of pseudo-random negative pairs: pair each
    vector with its successor in seeded-hash order within {NEG_BANDS}
    hash bands and histogram the cosine similarities in 0.1-wide bins —
    the contrastive-training diagnostic (how hard are random negatives?
    a right-shifted histogram means in-batch negatives are nearly
    positives and the loss needs mined negatives instead).

    Determinism: hash order is seeded and total ((hh, vec_id)); cosine
    uses the proven round6 Arrow kernel; bins floor on a single IEEE
    expression.

    Scale: exactly N - {NEG_BANDS} pairs — LINEAR by construction, no
    candidate blowup possible; the per-band rank window holds
    corpus/{NEG_BANDS} rows, and the band count is the documented
    corpus-growth lever (raise it like LSH k/L so per-band windows stay
    flat)."""
    h = spread(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id",
        "embedding",
        F.expr(tx.seeded_hash64(tx.SPARK, "CAST(vec_id AS STRING)", "negpair")).alias(
            "hh"
        ),
    )
    # persist: r feeds BOTH sides of the successor self-join — without it
    # the full-corpus md5 hash scan and the per-band rank shuffle run
    # twice per evaluation (the ann_lsh recompute hazard)
    r = h.select(
        "vec_id",
        "embedding",
        (F.col("hh") % NEG_BANDS).alias("band"),
        F.row_number()
        .over(W.partitionBy(F.col("hh") % NEG_BANDS).orderBy("hh", "vec_id"))
        .alias("rn"),
    ).persist()
    a = r.select("band", "rn", F.col("embedding").alias("va"))
    b = r.select("band", (F.col("rn") - 1).alias("rn"), F.col("embedding").alias("vb"))
    pairs = a.join(b, ["band", "rn"]).select(
        sim.round6(sim.cosine_fast("va", "vb")).alias("sim")
    )
    return (
        pairs.select(
            F.expr("CAST(floor((sim + 1.0) * 10) AS BIGINT)").alias("sim_bin")
        )
        .groupBy("sim_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Order-independent partition checksums (dataset integrity audit)
# ---------------------------------------------------------------------------

CKSUM_SHARDS = 32


@_register(
    "partition_checksums",
    f"""
    WITH rows_h AS (
      SELECT {tx.seeded_hash64(tx.DUCK, 'doc_id::VARCHAR', 'cksum-shard')}
               % {CKSUM_SHARDS} AS shard,
             {tx.seeded_hash64(
                 tx.DUCK,
                 "(doc_id::VARCHAR || '|' || lang || '|' || source || '|' "
                 "|| n_chars::VARCHAR || '|' || text)",
                 'cksum-row',
             )} AS rh,
             doc_id
      FROM documents
    )
    SELECT shard::BIGINT AS shard,
           count(*)::BIGINT AS n_rows,
           bit_xor(rh)::BIGINT AS content_xor,
           min(doc_id)::BIGINT AS min_doc_id,
           max(doc_id)::BIGINT AS max_doc_id
    FROM rows_h
    GROUP BY shard
    """,
)
def q_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksums over {CKSUM_SHARDS} hash
    shards of the documents table: per shard, row count, the XOR of a
    seeded full-row content hash, and the id range — the
    replication/migration integrity audit (two copies of a 100 TB
    dataset compare {CKSUM_SHARDS} tiny rows instead of each other; a
    single flipped byte flips its shard's XOR).

    Determinism: XOR is commutative/associative and overflow-free, so
    the aggregate is partitioning- and order-independent by
    construction; the row hash covers every column through one
    canonical string serialization shared by both engines.

    Scale: one narrow map + one {CKSUM_SHARDS}-group aggregate with
    map-side combine — the cheapest full-scan audit possible."""
    row_key = (
        "(CAST(doc_id AS STRING) || '|' || lang || '|' || source || '|' "
        "|| CAST(n_chars AS STRING) || '|' || text)"
    )
    d = load_table(spark, "documents", sf_dir).select(
        (
            F.expr(tx.seeded_hash64(tx.SPARK, "CAST(doc_id AS STRING)", "cksum-shard"))
            % CKSUM_SHARDS
        ).alias("shard"),
        F.expr(tx.seeded_hash64(tx.SPARK, row_key, "cksum-row")).alias("rh"),
        "doc_id",
    )
    return d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.expr("bit_xor(rh)").cast("bigint").alias("content_xor"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (lag-7 daily revenue, exact MAPE)
# ---------------------------------------------------------------------------


@_register(
    "seasonal_naive_backtest",
    f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
               AS cents
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT t.d,
             abs(t.cents - l.cents) AS abs_err_cents,
             {tx.floor_scaled_div(tx.DUCK, 'abs(t.cents - l.cents)', 't.cents', 1000000)}
               AS ape_ppm
      FROM daily t JOIN daily l ON l.d = t.d - INTERVAL 7 DAY
      WHERE t.cents > 0
    )
    SELECT count(*)::BIGINT AS n_days,
           sum(abs_err_cents)::BIGINT AS total_abs_err_cents,
           (sum(ape_ppm) // count(*))::BIGINT AS mape_ppm,
           max(ape_ppm)::BIGINT AS worst_ape_ppm
    FROM scored
    """,
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (forecast(d) =
    actual(d-7)) on daily revenue: exact integer MAPE in ppm plus the
    worst day — the baseline every demand-forecasting pipeline must
    beat, and the canonical time-series eval primitive.

    Determinism: daily revenue in exact integer cents (DECIMAL idiom),
    APE floor-divided to ppm per day, MAPE a floor-divided mean of
    those integers.  The lag is an exact self-JOIN on d-7 (not a lag()
    window): calendar gaps yield no forecast rather than silently
    using the previous row.

    Scale: the fact table collapses to the day domain first (one
    map-side-combined aggregate); everything after is day-domain-
    bounded (the cents/days discipline)."""
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderdate").alias("d"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    daily = o.groupBy("d").agg(F.sum("cents").alias("cents"))
    lagged = daily.select(
        F.expr("d + INTERVAL 7 DAY").alias("d"), F.col("cents").alias("lag_cents")
    )
    scored = (
        daily.join(lagged, "d")
        .filter(F.col("cents") > 0)
        .select(
            F.expr("abs(cents - lag_cents)").alias("abs_err_cents"),
            F.expr(
                tx.floor_scaled_div(
                    tx.SPARK, "abs(cents - lag_cents)", "cents", 1000000
                )
            ).alias("ape_ppm"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("abs_err_cents").cast("bigint").alias("total_abs_err_cents"),
        F.expr("CAST(sum(ape_ppm) div count(*) AS BIGINT)").alias("mape_ppm"),
        F.max("ape_ppm").cast("bigint").alias("worst_ape_ppm"),
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval coverage (per market segment)
# ---------------------------------------------------------------------------

CONF_ALPHA_PCT = 10  # nominal 90% intervals


def _conformal_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT c.c_mktsegment AS segment,
             CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             {tx.seeded_hash64(tx.DUCK, 'o.o_orderkey::VARCHAR', 'conformal')} % 2
               AS fold
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    model AS (
      SELECT segment,
             {tx.floor_scaled_div(tx.DUCK, 'sum(cents)', 'count(*)', 10000)}
               AS mean_micros,
             count(*)::BIGINT AS n_cal
      FROM base WHERE fold = 0 GROUP BY segment
    ),
    cal_scores AS (
      SELECT b.segment,
             abs(b.cents * 10000 - m.mean_micros) // 1000000 AS score_dollars
      FROM base b JOIN model m ON m.segment = b.segment
      WHERE b.fold = 0
    ),
    score_counts AS (
      SELECT segment, score_dollars, count(*)::BIGINT AS cnt
      FROM cal_scores GROUP BY 1, 2
    ),
    cum AS (
      SELECT segment, score_dollars,
             sum(cnt) OVER (
               PARTITION BY segment ORDER BY score_dollars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_n
      FROM score_counts
    ),
    thresh AS (
      SELECT c.segment, min(c.score_dollars)::BIGINT AS q_dollars
      FROM cum c JOIN model m ON m.segment = c.segment
      WHERE c.cum_n * 100 >= (m.n_cal + 1) * (100 - {CONF_ALPHA_PCT})
      GROUP BY c.segment
    )
    SELECT b.segment,
           min(m.n_cal) AS n_cal,
           count(*)::BIGINT AS n_eval,
           coalesce(min(t.q_dollars), -1)::BIGINT AS q_dollars,
           ((sum(CASE WHEN t.segment IS NULL
                        OR abs(b.cents * 10000 - m.mean_micros) // 1000000
                           <= t.q_dollars
                      THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT
             AS coverage_ppm
    FROM base b
    JOIN model m ON m.segment = b.segment
    LEFT JOIN thresh t ON t.segment = b.segment
    WHERE b.fold = 1
    GROUP BY b.segment
    """


@_register("split_conformal_coverage", _conformal_oracle())
def q_split_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; the
    distribution-free coverage guarantee every ML-deployment eval now
    runs): hash-split orders into calibration/eval folds, fit the
    trivial per-segment mean predictor on calibration, take the
    ceil((1-alpha)(n+1))-quantile of calibration residuals as the
    interval half-width, and report EMPIRICAL coverage on the held-out
    fold — expected ~{100 - CONF_ALPHA_PCT}0000 ppm by the conformal
    guarantee, which the oracle-checked numbers exhibit.

    Determinism: the fold is a seeded hash parity; means and residuals
    are exact integer micros; the conformity SCORE quantizes residuals
    to whole dollars (any measurable score function preserves the
    conformal guarantee — quantization is part of the score, stated
    not hidden); the quantile is exact by cumulative counts over the
    score domain (min score with cum >= ceil), cross-multiplied in
    integers to avoid ceil-of-float; means use the overflow-safe
    tx.floor_scaled_div decomposition (corpus-magnitude sums are never
    multiplied).  A calibration fold too small for a finite quantile
    (n_cal < 9 at alpha = 0.1) gets the conformal convention
    q = +infinity — the interval covers everything (q_dollars = -1
    sentinel, coverage 10^6 ppm) — rather than silently vanishing from
    the report; the forced-alpha test pins this branch cross-engine.

    Scale: two fact passes (model fit, eval) with map-side combine;
    the quantile's ranking window runs over the (segment, dollar)
    SCORE DOMAIN — price-range-bounded, never row-bounded (the
    cents/days discipline); model and threshold frames are
    |segments|-sized broadcasts."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        (
            F.expr(
                tx.seeded_hash64(tx.SPARK, "CAST(o_orderkey AS STRING)", "conformal")
            )
            % 2
        ).alias("fold"),
    )
    c = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    # r16: base feeds THREE consumers (model fit, calibration scores, the
    # eval pass) — unpersisted, each re-ran the orders scan + customer
    # join. The projection is narrow (segment, cents, fold) and every
    # downstream join is an EXPLICIT broadcast hint, so the fellegi
    # stats-loss rejection does not apply.
    base, _ = materialize(o.join(c, "o_custkey").select("segment", "cents", "fold"))
    model = (
        base.filter(F.col("fold") == 0)
        .groupBy("segment")
        .agg(
            F.expr(
                tx.floor_scaled_div(tx.SPARK, "sum(cents)", "count(*)", 10000)
            ).alias("mean_micros"),
            F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        )
    )
    cal = (
        base.filter(F.col("fold") == 0)
        .join(F.broadcast(model), "segment")
        .select(
            "segment",
            F.expr("abs(cents * 10000 - mean_micros) div 1000000").alias(
                "score_dollars"
            ),
        )
    )
    counts = cal.groupBy("segment", "score_dollars").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wc = (
        W.partitionBy("segment")
        .orderBy("score_dollars")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = counts.withColumn("cum_n", F.sum("cnt").over(wc))
    thresh = (
        cum.join(F.broadcast(model), "segment")
        .filter(
            F.expr(f"cum_n * 100 >= (n_cal + 1) * {100 - CONF_ALPHA_PCT}")
        )
        .groupBy("segment")
        .agg(F.min("score_dollars").cast("bigint").alias("q_dollars"))
    )
    return (
        base.filter(F.col("fold") == 1)
        .join(F.broadcast(model), "segment")
        # LEFT: a calibration fold below ceil((1-a)(n+1)) rows (n_cal < 9
        # at alpha=0.1) has NO finite threshold — the conformal
        # convention is q = +inf, i.e. the interval covers everything;
        # an inner join would silently drop the segment from the report
        .join(F.broadcast(thresh), "segment", "left")
        .groupBy("segment")
        .agg(
            F.min("n_cal").alias("n_cal"),
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.coalesce(F.min("q_dollars"), F.lit(-1)).cast("bigint").alias(
                "q_dollars"
            ),
            F.expr(
                "CAST((sum(CASE WHEN q_dollars IS NULL "
                "OR abs(cents * 10000 - mean_micros) "
                "div 1000000 <= q_dollars THEN 1 ELSE 0 END) * 1000000) "
                "div count(*) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Top principal component via distributed covariance + power iteration
# ---------------------------------------------------------------------------

PI_ITERS = 5
PI_DIM = EMB_DIM  # embeddings dimensionality, single definition


def _pi_round6(x: float) -> float:
    import math

    # the exact IEEE sequence of operators.similarity.round6 / _r6_sql
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def _pi_power_iteration(cov: list[list[float]]) -> tuple[list[float], float]:
    """Driver-side power iteration on the collected dim x dim covariance
    — PURE sequential Python floats (no numpy): every multiply-add runs
    in exactly the left-fold order the oracle's list_reduce uses, so
    the iterates are bit-identical across engines."""
    dim = len(cov)
    v = [1.0] * dim
    lam = 0.0
    for _ in range(PI_ITERS):
        w = []
        for i in range(dim):
            acc = 0.0
            for j in range(dim):  # sequential in j == the oracle fold order
                acc += cov[i][j] * v[j]
            w.append(acc)
        k = 0
        for i in range(1, dim):
            if abs(w[i]) > abs(w[k]):  # strict >: lowest-index tie-break
                k = i
        lam = w[k]
        # degenerate all-zero matvec: skip normalization (w unchanged) —
        # the SAME rule the oracle's CASE applies, so a zero dominant
        # component cannot diverge the engines (Python would raise on
        # /0.0 while SQL yields NaN)
        v = w if lam == 0.0 else [x / lam for x in w]
    return v, lam


def _pi_oracle() -> str:
    r6 = sim.round6_sql
    d = PI_DIM
    prod_dec = (
        "CAST(floor(((e.embedding[i.i]::DOUBLE - mi.m) "
        "* (e.embedding[j.j]::DOUBLE - mj.m)) * 1000000 + 0.5) / 1000000 "
        "AS DECIMAL(18,6))"
    )
    ctes = [
        "n AS (SELECT count(*)::BIGINT AS n FROM embeddings)",
        f"""means AS MATERIALIZED (
      SELECT i.i,
             CAST(sum(CAST(e.embedding[i.i]::DOUBLE AS DECIMAL(27,10)))
                  AS DOUBLE) / count(*) AS m
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(1, {d})) AS i) i
      GROUP BY i.i
    )""",
        f"""cells AS MATERIALIZED (
      SELECT i.i, j.j,
             CAST(sum({prod_dec}) AS DOUBLE) / min(n.n) AS c
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(1, {d})) AS i) i
      CROSS JOIN (SELECT unnest(generate_series(1, {d})) AS j) j
      JOIN means mi ON mi.i = i.i
      JOIN means mj ON mj.i = j.j
      CROSS JOIN n
      GROUP BY i.i, j.j
    )""",
        "crow AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS row "
        "FROM cells GROUP BY i)",
        f"v0 AS (SELECT list_transform(generate_series(1, {d}), x -> 1.0) AS l)",
    ]
    for k in range(1, PI_ITERS + 1):
        ctes.append(
            f"""w{k} AS MATERIALIZED (
      SELECT cr.i,
             list_reduce(list_prepend(0.0, list_transform(
               generate_series(1, {d}), j -> cr.row[j] * v.l[j])),
               (a, b) -> a + b) AS w
      FROM crow cr CROSS JOIN v{k - 1} v
    )"""
        )
        ctes.append(
            f"k{k} AS MATERIALIZED (SELECT w FROM w{k} "
            f"ORDER BY abs(w) DESC, i ASC LIMIT 1)"
        )
        if k < PI_ITERS:
            ctes.append(
                f"""v{k} AS (
      SELECT list(CASE WHEN k.w = 0.0 THEN w.w ELSE w.w / k.w END
                  ORDER BY w.i) AS l
      FROM w{k} w CROSS JOIN k{k} k GROUP BY k.w
    )"""
            )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT w.i::BIGINT AS dim,
           {r6('CASE WHEN k.w = 0.0 THEN w.w ELSE w.w / k.w END')}
             AS component_r6,
           {r6('k.w')} AS eigenvalue_r6
    FROM w{PI_ITERS} w CROSS JOIN k{PI_ITERS} k
    """
    )


def _pi_cells(emb: DataFrame, n: int) -> DataFrame:
    """The EAGER-phase covariance plan (explode-join-aggregate to dim^2
    cells) — factored out so tests can lint the frame that does the
    distributed work: the query's returned frame is a driver-assembled
    local relation the generic plan sweep sees as a LocalTableScan."""
    xi = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("i"), F.col("x").alias("xi"))
    means = xi.groupBy("i").agg(
        F.expr(
            "CAST(sum(CAST(CAST(xi AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)"
            " / count(*)"
        ).alias("m")
    )
    mi = means.select("i", F.col("m").alias("mi"))
    mj = means.select(F.col("i").alias("j"), F.col("m").alias("mj"))
    prod = (
        "CAST(floor(((CAST(xi AS DOUBLE) - mi) * (CAST(xj AS DOUBLE) - mj)) "
        "* 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))"
    )
    # (i, j) pairs come from a SECOND in-JVM posexplode of the embedding
    # kept on the xi row — the same vec-local dim x dim fan-out the old
    # xi JOIN xj ON vec_id produced, without shuffling the exploded frame
    # twice and sort-merge-joining it with itself (r15: 2 Exchanges +
    # 1 join removed; partial aggregation still collapses each task to
    # dim^2 cells before the only remaining exchange).
    pairs = (
        emb.select("vec_id", "embedding", F.posexplode("embedding").alias("pos", "x"))
        .select(
            (F.col("pos") + 1).alias("i"),
            F.col("x").alias("xi"),
            F.posexplode("embedding").alias("pos2", "xj"),
        )
        .select("i", "xi", (F.col("pos2") + 1).alias("j"), "xj")
    )
    return (
        pairs.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .groupBy("i", "j")
        .agg(F.expr(f"CAST(sum({prod}) AS DOUBLE) / {n}").alias("c"))
    )


@_register("power_iteration_top_pc", _pi_oracle())
def q_power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: exact
    distributed covariance + {PI_ITERS} power-iteration steps — the
    PCA primitive, built the way Spark MLlib's RowMatrix does it
    (computePrincipalComponents: the Gramian is the DISTRIBUTED
    reduce, the eigen-step runs driver-side on the dim x dim model)
    but with a cross-engine bit-exact contract instead of LAPACK.

    Determinism — float work partitioned into the two proven regimes:
    (1) the corpus-sized reduction (means, covariance) quantizes every
    per-row product to 6 dp and sums in DECIMAL — order-independent
    and exact, so both engines derive bit-identical covariance doubles
    under any partitioning (the kmeans/pagerank discipline); (2) the
    iteration runs on the collected {PI_DIM}x{PI_DIM} model in pure
    sequential Python floats whose multiply-add order equals the
    oracle's list_reduce left fold exactly — bit-identical iterates,
    no libm, no LAPACK.  Normalization divides by the (signed)
    largest-magnitude component (lowest index on ties) instead of the
    L2 norm: no sqrt, v[argmax] == 1.0 exactly, and the final scaling
    factor IS the dominant-eigenvalue estimate.

    Scale: the covariance is one explode-join-aggregate whose output is
    dim^2 = {PI_DIM * PI_DIM} cells — the classic gram-matrix reduce
    (map-side combined; at very large dim the mapInPandas per-partition
    partial-sum kernel is the float-tolerant variant, noted as in
    kmeans); the driver-side model is dim^2 doubles, domain-bounded
    like kmeans centroids.  The oracle unrolls the same {PI_ITERS}
    iterations as MATERIALIZED CTEs."""
    emb = spread(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", "embedding"
    )
    rows = _pi_cells(emb, emb.count()).collect()
    cov = [[0.0] * PI_DIM for _ in range(PI_DIM)]
    for r in rows:
        cov[r["i"] - 1][r["j"] - 1] = r["c"]
    v, lam = _pi_power_iteration(cov)
    out = [
        (d + 1, _pi_round6(v[d]), _pi_round6(lam)) for d in range(PI_DIM)
    ]
    return spark.createDataFrame(
        out, "dim long, component_r6 double, eigenvalue_r6 double"
    )
