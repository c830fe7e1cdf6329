"""Deduplication queries over the ``documents`` table, oracle-verified.

Every stage of each pipeline (tokenize → shingle → hash → band → pair →
verify) is generated in both dialects from one spec
(functions.textexpr), so the DuckDB oracle runs the *same algorithm*
bit-for-bit — including the MinHash permutation hashes and SimHash folds.

The corpus has no exact duplicates, so the exact-dedup query demonstrates
the operator over the corpus unioned with a deterministic planted-dup set
(every 7th doc re-inserted under a shifted key) — before/after counts per
language.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.cache import materialize, released
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.operators import chunking as chk
from pedri_analysis_spark.operators import dedup as dd, spread
from pedri_analysis_spark.operators.similarity import round6, round6_sql
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()

N_HASHES = 16
BANDS = 8
ROWS_PER_BAND = N_HASHES // BANDS
SHINGLE_K = 3
JACCARD_T = 0.6
MAX_BUCKET = 64
HAMMING_T = 1  # 32-bit simhash saturates on this shared-vocab corpus; <=1 keeps pairs meaningful


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


@_register(
    "dedup_exact_by_lang",
    """
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents WHERE doc_id % 7 = 0
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT md5(text))::BIGINT AS n_unique,
           (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_removed
    FROM corpus
    GROUP BY lang
    """,
)
def q_dedup_exact_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (content-hash) dedup accounting per language.

    Scale: one shuffle on md5(text); at 100 TB hash first, group on the
    hash (fixed 32-byte key), never on the raw text."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "lang")
    planted = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = d.unionByName(planted)
    n = F.count(F.lit(1))
    uniq = F.countDistinct(F.md5("text"))
    return corpus.groupBy("lang").agg(
        n.alias("n_docs"),
        uniq.alias("n_unique"),
        (n - uniq).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (normalized content hash)
# ---------------------------------------------------------------------------

_FP_SPARK = (
    f"md5(concat_ws(' ', array_sort(array_distinct({tx.tokens(tx.SPARK, 'text')}))))"
)
_FP_DUCK = (
    f"md5(array_to_string(list_sort(list_distinct({tx.tokens(tx.DUCK, 'text')})), ' '))"
)


@_register(
    "doc_fingerprint",
    f"""
    SELECT doc_id, {_FP_DUCK} AS fingerprint
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set (catches shuffled/reordered copies that exact hashing
    misses). Pure per-row column math — no shuffle at all."""
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", F.expr(_FP_SPARK).alias("fingerprint"))


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------


def minhash_pair_ctes(source: str) -> str:
    """The DuckDB MinHash-LSH chain as a reusable CTE list over any
    ``source`` relation with (doc_id, text), ending in a ``verified``
    CTE of (a, b, jaccard) pairs at the engine's thresholds. Shared by
    the minhash_near_dups oracle and the curate_all manifest oracle (the
    assembled-artifact mirror must run the IDENTICAL chain)."""
    toks = tx.tokens(tx.DUCK, "text")
    sh = tx.word_shingles(tx.DUCK, "toks", SHINGLE_K)
    hv = tx.base_hash_array(tx.DUCK, "sh")
    mh = tx.minhash_from_base(tx.DUCK, "hv", N_HASHES)
    mh_cols = ",\n             ".join(f"{e} AS mh{i}" for i, e in enumerate(mh))
    sig_cols = [f"mh{i}" for i in range(N_HASHES)]
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, "
        f"{tx.band_key(tx.DUCK, sig_cols, b, ROWS_PER_BAND)} AS bk FROM sig"
        for b in range(BANDS)
    )
    return f"""tok AS (SELECT doc_id, {toks} AS toks FROM {source}),
    shng AS (SELECT doc_id, {sh} AS sh FROM tok),
    hvt AS (SELECT doc_id, sh, {hv} AS hv FROM shng),
    sig AS (SELECT doc_id, sh,
             {mh_cols}
            FROM hvt),
    buckets AS (
{band_selects}
    ),
    sized AS (
      SELECT *, count(*) OVER (PARTITION BY band, bk) AS bucket_n FROM buckets
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM sized x JOIN sized y USING (band, bk)
      WHERE x.doc_id < y.doc_id AND x.bucket_n <= {MAX_BUCKET} AND y.bucket_n <= {MAX_BUCKET}
    ),
    verified AS (
      SELECT p.a, p.b,
             len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / len(list_distinct(sa.sh || sb.sh)) AS jaccard
      FROM pairs p
      JOIN shng sa ON sa.doc_id = p.a
      JOIN shng sb ON sb.doc_id = p.b
      WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / len(list_distinct(sa.sh || sb.sh)) >= {JACCARD_T}
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {minhash_pair_ctes('documents')}
    SELECT a, b, jaccard FROM verified
    """


@_register("minhash_near_dups", _minhash_oracle())
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(8×2) near-dup pairs verified at Jaccard ≥ 0.6.

    Scale: signatures are per-row HOF math (no shuffle); pair generation
    shuffles once on (band, band_key) with a bucket-size cap; the exact
    verify joins shingles only for candidates. This is the standard
    web-scale dedup topology (cf. the public MinHashLSH literature).
    """
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return dd.minhash_near_dups(
        d,
        n_hashes=N_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_T,
        max_bucket=MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# SimHash near-duplicate detection
# ---------------------------------------------------------------------------


def _simhash_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    bitsums = tx.simhash_bitsums(tx.DUCK, "toks")
    sh_int = tx.simhash_from_bitsums(tx.DUCK, "bs")
    return f"""
    WITH tok AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
    bsum AS (SELECT doc_id, lang, {bitsums} AS bs FROM tok),
    sh AS (SELECT doc_id, lang, {sh_int} AS simhash FROM bsum)
    SELECT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
    FROM sh x JOIN sh y ON x.lang = y.lang AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_T}
    """


@_register("simhash_near_dups", _simhash_oracle())
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) near-dup pairs within a language block at Hamming
    ≤ 1. The fingerprint is one Catalyst fold per row; pairing is a
    blocked self-join (the block-column-free scale variant is
    simhash_prefix_near_dups)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text", "lang")
    out = dd.simhash_near_dups(d, max_hamming=HAMMING_T)
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_prefix_oracle() -> str:
    # The oracle is the BRUTE-FORCE all-pairs Hamming join (no blocking at
    # all): pigeonhole chunk blocking is recall-lossless, so the chunked
    # Spark plan must reproduce the quadratic reference set exactly.
    toks = tx.tokens(tx.DUCK, "text")
    bitsums = tx.simhash_bitsums(tx.DUCK, "toks")
    sh_int = tx.simhash_from_bitsums(tx.DUCK, "bs")
    return f"""
    WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
    bsum AS (SELECT doc_id, {bitsums} AS bs FROM tok),
    sh AS (SELECT doc_id, {sh_int} AS simhash FROM bsum)
    SELECT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
    FROM sh x JOIN sh y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_T}
    """


@_register("simhash_prefix_near_dups", _simhash_prefix_oracle())
def q_simhash_prefix_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups over the WHOLE corpus — no domain block column —
    via pigeonhole bit-chunk blocking (operators.dedup.
    simhash_prefix_near_dups): Hamming ≤ 1 implies at least one of
    1+1 disjoint bit chunks is identical, so candidates only meet
    inside shared-chunk buckets.  One shuffle on (chunk, value); the
    DuckDB oracle is the unblocked quadratic join, pinning recall at
    100%."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    out = dd.simhash_prefix_near_dups(d, max_hamming=HAMMING_T)
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


# ---------------------------------------------------------------------------
# Character-n-gram Jaccard near-dup detection (blocked exact variant)
# ---------------------------------------------------------------------------

NGRAM_JACCARD_T = 0.7  # clean separation: true near-dups ~0.9+, word-soup noise <=0.5
# Pair-work cap in MOD form (r9; r10 switched the cell key to
# seeded_hash64(doc_id) and made the cap plan-time adaptive — see
# operators/chunking.py for the shared semantics contract): each
# (lang, bucket) block splits into ceil(|block|/NGRAM_CHUNK) residue
# cells, so pair volume is O(N·CHUNK) instead of Σ|block|².  512 leaves
# every real SF bit-identical to the unchunked plan (largest block: 54
# at sf0.01, 451 at sf0.1 ⇒ nch=1, and the adaptive helper then builds
# the literally-unchunked plan); only the synthetic >=sf1.0 decades
# chunk — and PAST THE CAP THE QUERY IS APPROXIMATE (expected in-block
# pair recall 1/nch; measured in tools/chunk_recall.py, reported via
# APPROX_PAST_CAP in SCALING.json).
NGRAM_CHUNK = 512


def _ngram_jaccard_oracle() -> str:
    ng = tx.char_ngrams(tx.DUCK, "text", 3)
    return f"""
    WITH g0 AS (
      SELECT doc_id, lang, n_chars // 100 AS bucket, {ng} AS ng
      FROM documents
    ),
    bc AS (
      SELECT lang, bucket, {chk.nch_sql(NGRAM_CHUNK)} AS nch
      FROM g0 GROUP BY lang, bucket
    ),
    g AS (
      SELECT g0.doc_id, g0.lang, g0.bucket, g0.ng,
             {tx.chunk_of(tx.DUCK, 'g0.doc_id', 'bc.nch')} AS chunk
      FROM g0 JOIN bc ON g0.lang = bc.lang AND g0.bucket = bc.bucket
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           len(list_intersect(a.ng, b.ng))::DOUBLE / len(list_distinct(a.ng || b.ng))
               AS jaccard
    FROM g a JOIN g b
      ON a.lang = b.lang AND a.bucket = b.bucket AND a.chunk = b.chunk
         AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.ng, b.ng))::DOUBLE / len(list_distinct(a.ng || b.ng))
          >= {NGRAM_JACCARD_T}
    """


@_register("ngram_jaccard_near_dups", _ngram_jaccard_oracle())
def q_ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-3-gram Jaccard near-dup pairs, blocked on
    (lang, length-bucket) — the exact-verification cousin of MinHash
    (which estimates this same measure probabilistically). The length
    bucket exploits |len(a)-len(b)| being small for near-dups.

    Scale (r8 measured the quadratic, r9 bounded it, r10 made the
    bound honest): the unchunked in-block self-join's candidate volume
    grows O(N²) because block membership is a constant corpus
    fraction — the r8 sf0.1→sf1.0 decade measured 62.9x for 10x data.
    The mod-chunk cap (operators/chunking.py) splits each (lang,
    bucket) block into ceil(|block|/NGRAM_CHUNK) residue cells by
    seeded_hash64(doc_id) — counts from a domain-bounded ~30-row
    rollup — and pairs only form within a (lang, bucket, chunk) cell,
    so pair volume is O(N·CHUNK) — linear (measured: 196s→33.6s at
    sf1.0synth, 10.3x on the 10x step) — and the oracle mirrors the
    hash arithmetic bit-for-bit.  At all real SFs the cap exceeds the
    largest block, so the adaptive helper builds the plan WITHOUT any
    chunk join and results are bit-identical to the unchunked form.
    PAST THE CAP (synthetic decades, cluster scale) this query is
    APPROXIMATE, not exact verification: a true pair survives only if
    both doc_ids hash into the same cell — expected and measured
    in-block recall 1/nch (tools/chunk_recall.py; APPROX_PAST_CAP in
    SCALING.json).  The recall-preserving 100 TB candidate generator
    is the capped MinHash LSH (minhash_near_dups) — which
    dedup_connected_components and the cascade compose — with
    per-candidate verification; this query's chunked regime is the
    work-bound safety valve on the exact in-block form.  An AllPairs
    prefix-filter rewrite was tried and REJECTED: this corpus's
    template vocabulary saturates the char-3-gram space, so even
    rarest-first prefix grams carry high document frequency and the
    "filtered" candidate set came out LARGER than the block join's
    (21.8s vs 3.3s at sf0.1, OOM at sf1.0)."""
    # MOD-chunking, not rank-chunking — two rejected alternatives, both
    # measured: (a) rank-window over the gram-bearing frame + persist
    # for both pair sides — 6x SLOWER at sf0.1 (42s vs 3s profile; the
    # ~1.5k-string gram arrays paid the window exchange plus columnar
    # cache encode/decode); (b) a narrow rank window broadcast-joined
    # back — the chunk map is per-doc, i.e. corpus-sized, and a forced
    # broadcast of a growing frame is the exact anti-pattern the LPA
    # fix removed.  The gram expression stays in the parquet-scan
    # codegen stage exactly like the uncapped r8 plan; the r10
    # adaptive helper keeps even the rollup join out of the plan at
    # real SFs (isolated A/B: the always-on join cost +0.45s at sf0.1).
    base = dd.spread(load_table(spark, "documents", sf_dir)).withColumn(
        "bucket", F.expr("n_chars div 100")
    )
    d = chk.mod_chunk(base, ["lang", "bucket"], "doc_id", NGRAM_CHUNK).withColumn(
        "ng", F.expr(tx.char_ngrams(tx.SPARK, "text", 3))
    )
    a = d.select(
        F.col("doc_id").alias("a"), "lang", "bucket", "chunk",
        F.col("ng").alias("ng_a"),
    )
    b = d.select(
        F.col("doc_id").alias("b"), "lang", "bucket", "chunk",
        F.col("ng").alias("ng_b"),
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B|: one hash-set build per pair instead
    # of two (array_union would build the larger set again) — the pair
    # stage is ~600k candidate pairs x ~300-gram arrays, so this halves
    # the hot loop.
    inter = F.size(F.array_intersect("ng_a", "ng_b"))
    return (
        a.join(b, ["lang", "bucket", "chunk"])
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.size("ng_a") + F.size("ng_b") - inter),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_T)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs (dedup clustering)
# ---------------------------------------------------------------------------


def _closure_ctes() -> str:
    """Transitive-closure CTEs over the capped MinHash-LSH ``verified``
    pairs (the production candidate generator), ending in ``comp``
    (doc_id, cluster_id).  Requires WITH RECURSIVE at the call site."""
    return f"""{minhash_pair_ctes('documents')},
    nodes AS (SELECT a AS node FROM verified UNION SELECT b FROM verified),
    edges AS (SELECT a AS src, b AS dst FROM verified
              UNION ALL SELECT b AS src, a AS dst FROM verified),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(lab)::BIGINT AS cluster_id
      FROM reach GROUP BY node
    )"""


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE {_closure_ctes()}
    SELECT doc_id, cluster_id FROM comp
    """


@_register("dedup_connected_components", _components_oracle())
def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise matches: connected components
    (cluster_id = min doc_id per component) — pairwise dedup only says
    "a~b"; picking one canonical doc per group needs the transitive
    closure.

    Pair source (changed r8): the CAPPED MinHash-LSH generator
    (minhash_near_dups) — the production candidate topology, linear-ish
    in corpus size.  The previous composition on the exact in-block
    char-gram verifier inherited that verifier's O(block²) candidate
    volume, and the r8 measured decade clocked the whole chain at 60x
    for 10x data; clustering LSH candidates is also what a real
    curation pass does (the exact verifier remains available as its
    own query for small corpora).

    Two exact-equivalent physical paths, chosen by candidate-graph size
    (the graph is |pairs|, far smaller than the corpus):
    driver union-find below DRIVER_GRAPH_MAX_PAIRS, distributed min-label
    propagation (_components_propagate, the Pregel/GraphX pattern) above
    it. tests/test_components.py pins their agreement. The oracle computes
    the same closure as a recursive CTE — the declarative fixpoint of the
    same recursion."""
    # Near-dup pair generation is the expensive part: checkpoint it BEFORE
    # deriving nodes/edges, or each derivation re-runs the whole
    # similarity join (3× evaluation).
    pairs = (
        QUERIES["minhash_near_dups"](spark, sf_dir)
        .select("a", "b")
        .localCheckpoint()
    )
    n_pairs = pairs.count()
    if n_pairs <= DRIVER_GRAPH_MAX_PAIRS:
        return _components_unionfind(spark, pairs)
    return _components_propagate(spark, pairs, n_pairs=n_pairs)


# The candidate graph is |near-dup pairs| — orders of magnitude smaller
# than the corpus (144 pairs from 5000 docs at sf0.1). Below this bound,
# union-find on the driver beats distributed iteration by ~2× wall time
# (each propagation round costs jobs + shuffles regardless of data size);
# above it, the iterative path has no single-machine memory ceiling.
# Sized in DRIVER HEAP BYTES, not row count: a collected pair is one Row
# of two longs ≈ ~150 B of Python objects, so 200k pairs ≈ 30 MB — safely
# inside any driver. (2M rows would have been hundreds of MB.)
DRIVER_GRAPH_MAX_PAIRS = 200_000


def _components_unionfind(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Driver-side union-find for small candidate graphs. Same fixpoint as
    _components_propagate (min doc_id per component), exactly."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = pairs.collect()
    for r in rows:
        ra, rb = find(r.a), find(r.b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for r in rows for x in (r.a, r.b)}
    out = [(n, find(n)) for n in sorted(nodes)]
    return spark.createDataFrame(out, "doc_id long, cluster_id long")


def _components_propagate(
    spark: SparkSession,
    pairs: DataFrame,
    max_iter: int = 30,
    n_pairs: int | None = None,
) -> DataFrame:
    """Distributed min-label propagation (the Pregel/GraphX pattern as
    DataFrame ops): per iteration one join + min-aggregate shuffle,
    localCheckpoint() truncating lineage so plan size stays O(1) in
    iterations, and a monotone 1-row convergence probe (Σlabels strictly
    decreases until fixpoint). Iterations ≈ component diameter; raises if
    the fixpoint isn't reached in ``max_iter`` rounds — silently returning
    half-propagated labels would be wrong cluster_ids with no error.
    (Chain-shaped components with diameter > max_iter need the
    pointer-doubling / large-star-small-star formulation; raise loudly
    rather than guess.)"""
    if n_pairs is None:  # caller usually counted already to pick the path
        n_pairs = pairs.count()
    p = max(1, min(32, n_pairs // 100_000 + 1))
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .union(pairs.select(F.col("b").alias("node")))
        .distinct()
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition(p, "src")
        .localCheckpoint()
    )
    labels = (
        nodes.select("node", F.col("node").alias("lab"))
        .repartition(p, "node")
        .localCheckpoint()
    )
    # The per-node rollup shuffles at graph-parallelism p, not the session
    # default (32 near-empty shuffle partitions per iteration is pure
    # scheduling overhead); the joins' exchanges run at the session width
    # and AQE coalesces them. The session conf is never set here: other
    # threads share the session.
    converged = False
    prev_sum = labels.agg(F.sum("lab")).collect()[0][0]
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.src == labels.node)
            .repartition(p, F.col("dst"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lab").alias("nmin"))
        )
        labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(F.col("lab"), F.coalesce("nmin", F.col("lab"))).alias("lab"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("lab")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); refusing to return "
            "partially-propagated cluster labels"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").cast("long").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Incremental (delta-vs-corpus) MinHash dedup
# ---------------------------------------------------------------------------

_DELTA_MUT_SUFFIX = " zz yy xx ww vv uu tt ss"


def _incremental_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    sh = tx.word_shingles(tx.DUCK, "toks", SHINGLE_K)
    hv = tx.base_hash_array(tx.DUCK, "sh")
    mh = tx.minhash_from_base(tx.DUCK, "hv", N_HASHES)
    mh_cols = ",\n             ".join(f"{e} AS mh{i}" for i, e in enumerate(mh))
    sig_cols = [f"mh{i}" for i in range(N_HASHES)]
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT tag, doc_id, {b} AS band, "
        f"{tx.band_key(tx.DUCK, sig_cols, b, ROWS_PER_BAND)} AS bk FROM sig"
        for b in range(BANDS)
    )
    return f"""
    WITH delta AS (
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || '{_DELTA_MUT_SUFFIX}'
      FROM documents WHERE doc_id % 7 = 3
      UNION ALL
      SELECT doc_id + 3000000,
             array_to_string(list_reverse(string_split_regex(trim(lower(text)), '\\s+')), ' ')
      FROM documents WHERE doc_id % 7 = 5
    ),
    allt AS (
      SELECT 'c' AS tag, doc_id, text FROM documents
      UNION ALL
      SELECT 'd', doc_id, text FROM delta
    ),
    tok AS (SELECT tag, doc_id, {toks} AS toks FROM allt),
    shng AS (SELECT tag, doc_id, {sh} AS sh FROM tok),
    hvt AS (SELECT tag, doc_id, sh, {hv} AS hv FROM shng),
    sig AS (SELECT tag, doc_id, sh,
             {mh_cols}
            FROM hvt),
    buckets AS (
{band_selects}
    ),
    sized AS (
      SELECT *, count(*) OVER (PARTITION BY band, bk) AS bucket_n FROM buckets
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, y.tag AS btag
      FROM sized x JOIN sized y USING (band, bk)
      WHERE x.tag = 'd'
        AND (y.tag = 'c' OR (y.tag = 'd' AND y.doc_id < x.doc_id))
        AND x.bucket_n <= {MAX_BUCKET} AND y.bucket_n <= {MAX_BUCKET}
    ),
    verified AS (
      SELECT p.a, p.b, p.btag,
             len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / len(list_distinct(sa.sh || sb.sh)) AS jaccard
      FROM pairs p
      JOIN shng sa ON sa.doc_id = p.a
      JOIN shng sb ON sb.doc_id = p.b
      WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
              / len(list_distinct(sa.sh || sb.sh)) >= {JACCARD_T}
    )
    SELECT d.doc_id,
           CASE WHEN bool_or(v.btag = 'c') THEN 'dup_of_corpus'
                WHEN count(v.b) > 0 THEN 'dup_in_batch'
                ELSE 'new' END AS verdict,
           max(v.jaccard) AS best_jaccard
    FROM delta d LEFT JOIN verified v ON v.a = d.doc_id
    GROUP BY d.doc_id
    """


@_register("incremental_dedup_verdicts", _incremental_oracle())
def q_incremental_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: a synthetic delta batch (exact re-keyed
    copies, suffix-mutated copies, and token-reversed decoys) is deduped
    against the existing corpus via operators.dedup.incremental_minhash_dedup
    — per delta doc: 'dup_of_corpus' / 'dup_in_batch' / 'new' + best
    verified Jaccard.

    Scale: corpus x corpus pairs are never generated — the bucket join is
    delta-sided, so per-batch cost tracks |delta|, not corpus growth; at
    100 TB the corpus signature table is a persisted artifact re-read per
    batch. The oracle mirrors the full LSH topology (bands, bucket caps,
    asymmetric pairing), so recall decisions — not just similarity math —
    are hash-checked."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    delta = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(_DELTA_MUT_SUFFIX)).alias("text"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 7 == 5).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.expr(
                    "array_join(reverse(split(trim(lower(text)), '\\\\s+')), ' ')"
                ).alias("text"),
            )
        )
    )
    return dd.incremental_minhash_dedup(
        d,
        delta,
        n_hashes=N_HASHES,
        bands=BANDS,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_T,
        max_bucket=MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# PageRank over the customer<->supplier trade graph (iterative, exact parity)
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_DAMP = 0.85
PR_TOP = 20


def _pagerank_oracle() -> str:
    # Undirected bipartite graph: distinct (customer, supplier) trade
    # pairs from lineitem x orders, both edge directions.  Each iteration
    # rounds the per-edge contribution to 6 dp and sums it in DECIMAL so
    # the aggregation is order-independent; the damping update is a fixed
    # sequence of single IEEE ops.  Same discipline as the repetition /
    # tfidf scores.
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"""
    r{k} AS (
      SELECT e.dst AS node,
             {round6_sql(f"0.15e0 / nn.n + {PR_DAMP}e0 * CAST(sum(CAST({round6_sql('r.rank / d.deg')} AS DECIMAL(18,6))) AS DOUBLE)")} AS rank
      FROM edges e
      JOIN r{k - 1} r ON r.node = e.src
      JOIN deg d ON d.node = e.src
      CROSS JOIN nn
      GROUP BY e.dst, nn.n
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
    nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
    r0 AS (
      SELECT node, {round6_sql('1e0 / nn.n')} AS rank FROM deg CROSS JOIN nn
    ),{",".join(iters)}
    SELECT node, rank FROM r{PR_ITERS}
    ORDER BY rank DESC, node ASC LIMIT {PR_TOP}
    """


def trade_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected bipartite customer↔supplier trade-edge substrate
    shared by PageRank / LPA / BFS / personalized PageRank: distinct
    (custkey, suppkey) pairs from lineitem⋈orders, both directions as
    'c<k>'/'s<k>' string nodes, pre-partitioned by src and RETURNED
    MATERIALIZED (persist + count — the callers' iteration fan-out
    discipline, unchanged).

    r15 optimization (guide §2.3/§2.4): the old per-query inline build
    ran `distinct` over the already-concatenated STRING pair and then
    unionAll'd two selects of it — the union's two legs each re-ran the
    distinct's final aggregation, and the exchange carried string keys.
    Now the distinct aggregates once over the two INT keys (narrower
    shuffle), and both edge directions come from one in-JVM
    explode(array(struct,struct)) over the deduped pairs (the
    co-purchase-substrate pattern).  Same edge multiset, same
    repartition("src") landing — downstream plans are unchanged."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    edges = pair.select(
        F.explode(
            F.expr(
                "array("
                "named_struct('src', concat('c', CAST(o_custkey AS STRING)),"
                "             'dst', concat('s', CAST(l_suppkey AS STRING))),"
                "named_struct('src', concat('s', CAST(l_suppkey AS STRING)),"
                "             'dst', concat('c', CAST(o_custkey AS STRING))))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges, _ = materialize(edges.repartition("src"))
    return edges


@_register("pagerank_trade_graph", _pagerank_oracle())
def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 damped iterations) over the undirected customer to
    supplier trade graph — the iterative graph centrality op, expressed
    as pure DataFrame joins with NO driver-side state (contrast
    dedup_connected_components' bounded union-find fallback).

    Determinism: per-edge contributions are 6-dp floor-rounded then
    summed in DECIMAL (order-independent); the damping update is a fixed
    chain of single IEEE ops, so all five iterations are bit-identical
    cross-engine and the oracle unrolls them as CTEs.

    Scale: each iteration is one broadcast map-side join of the
    node-sized (rank, deg) table into the persisted edge list plus one
    edge-sized partial-agg shuffle on dst — O(edges) per iteration, the
    textbook distributed PageRank shape.  Every generation is persisted
    to cut lineage (else iteration k re-derives 1..k-1: quadratic); on a
    cluster that persist is a localCheckpoint.  The rank⋈edges join is
    UNHINTED (r9, same fix as LPA): a forced broadcast never falls
    back, so AQE picks broadcast from the node table's runtime size
    and degrades to a shuffle join against the pre-partitioned
    persisted edges when it outgrows the threshold."""
    # edges and deg are static across all five iterations; without a
    # materialized persist each iteration's join re-runs the
    # lineitem x orders pair-build (5x the dominant cost — measured
    # 5.97s -> ~1s at sf0.1).  Pre-partitioned by
    # src (r10, ADVICE fix): without that one-time exchange the
    # shuffle-join fallback (when ranks outgrow AQE's broadcast
    # threshold) would re-shuffle the full edge list EVERY iteration;
    # the InMemoryRelation preserves hashpartitioning(src), making
    # each fallback iteration a one-sided shuffle of the node table.
    # Substrate build shared + optimized r15: trade_graph_edges.
    edges = trade_graph_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    deg = deg.persist()
    nn = deg.agg(F.count(F.lit(1)).cast("double").alias("n"))

    ranks = deg.crossJoin(F.broadcast(nn)).select(
        "node", round6(F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(PR_ITERS):
        # ranks and deg are node-sized (orders of magnitude below the
        # edge list); pre-join them and BROADCAST the result so each
        # iteration costs exactly one map-side join plus the edge-sized
        # dst aggregation shuffle (with the per-generation persist below:
        # 5.97s -> 1.43s at sf0.1).  No broadcast hint: AQE reads the
        # node table's runtime size — broadcast while it fits, shuffle
        # join against the pre-partitioned persisted edges when it
        # doesn't (a pinned hint would OOM instead of degrading).
        rank_deg = ranks.join(deg, "node").withColumnRenamed("node", "src")
        contrib = edges.join(rank_deg, "src").select(
            "dst",
            round6(F.col("rank") / F.col("deg"))
            .cast("decimal(18,6)")
            .alias("contrib"),
        )
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("csum"))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                round6(
                    F.lit(0.15) / F.col("n")
                    + F.lit(PR_DAMP) * F.col("csum").cast("double")
                ).alias("rank"),
            )
        )
        # Cut the lineage each generation: without this, building
        # iteration k's broadcast re-derives iterations 1..k-1 from
        # scratch (quadratic total work).  Node-sized cache — the local
        # equivalent of the localCheckpoint a cluster run would use.
        ranks = ranks.persist()
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(PR_TOP)


# ---------------------------------------------------------------------------
# Composed dedup cascade: exact -> MinHash+LSH -> SimHash, per-stage counts
# ---------------------------------------------------------------------------


def _cascade_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    bitsums = tx.simhash_bitsums(tx.DUCK, "toks")
    sh_int = tx.simhash_from_bitsums(tx.DUCK, "bs")
    return f"""
    WITH s1 AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
        USING (doc_id)
    ),
    {minhash_pair_ctes('s1')},
    s2 AS (SELECT s1.* FROM s1 WHERE doc_id NOT IN (SELECT b FROM verified)),
    tok2 AS (SELECT doc_id, {toks} AS toks FROM s2),
    bsum2 AS (SELECT doc_id, {bitsums} AS bs FROM tok2),
    sh2 AS (SELECT doc_id, {sh_int} AS simhash FROM bsum2),
    sim_b AS (
      SELECT DISTINCT y.doc_id AS b
      FROM sh2 x JOIN sh2 y ON x.doc_id < y.doc_id
      WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_T}
    ),
    s3 AS (SELECT s2.* FROM s2 WHERE doc_id NOT IN (SELECT b FROM sim_b))
    SELECT (SELECT count(*) FROM documents)::BIGINT AS n_input,
           (SELECT count(*) FROM s1)::BIGINT AS n_after_exact,
           (SELECT count(*) FROM s2)::BIGINT AS n_after_minhash,
           (SELECT count(*) FROM s3)::BIGINT AS n_after_simhash
    """


@_register("dedup_cascade_report", _cascade_oracle())
def q_dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE as one composed pipeline: exact
    content dedup (min-id survivor per md5 group), then MinHash+LSH
    near-dup pruning over the exact survivors, then whole-corpus SimHash
    pigeonhole pruning over what remains — with the survivor count after
    each stage in a one-row report.  Stage pruning uses the
    deterministic keep-lowest-id rule (drop every doc appearing as the
    higher id of a verified pair), so the composition is exactly
    mirrored by the oracle's NOT IN chain.  Each stage reuses the
    already-verified per-stage operator (same constants, same topology),
    so the cascade's scale behaviour is the stages' — the point of the
    query is proving the stages COMPOSE: each stage's input is the
    previous stage's survivor frame, never a re-scan of the corpus."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # Each survivor frame feeds BOTH the next stage and its own count;
    # without persist, counting s3 re-runs exact+minhash and counting s2
    # re-runs exact (3×/2× recomputation of the priciest subtrees).
    # Materialize each stage once — at 100 TB this is the checkpoint a
    # curation pipeline writes between stages anyway.  The per-stage
    # counts are DRIVER-side (four bounded longs — the job metrics a
    # pipeline reports anyway); assembling them as lazy 1-row crossJoins
    # instead would re-print every cached subtree into one giant plan
    # for zero execution benefit.  All are taken inside the scope, which
    # releases the stage caches and the stages' own signature caches.
    with released():
        s1, n_exact = materialize(dd.exact_dedup(d, "text", "doc_id"))
        mh_pairs = dd.minhash_near_dups(
            s1,
            n_hashes=N_HASHES,
            bands=BANDS,
            shingle_k=SHINGLE_K,
            threshold=JACCARD_T,
            max_bucket=MAX_BUCKET,
        )
        s2, n_minhash = materialize(
            s1.join(
                mh_pairs.select(F.col("b").alias("doc_id")).distinct(),
                on="doc_id",
                how="left_anti",
            )
        )
        sh_pairs = dd.simhash_prefix_near_dups(s2, max_hamming=HAMMING_T)
        s3 = s2.join(
            sh_pairs.select(F.col("b").alias("doc_id")).distinct(),
            on="doc_id",
            how="left_anti",
        )
        n_simhash = s3.count()
        n_input = d.count()
    return spark.createDataFrame(
        [(n_input, n_exact, n_minhash, n_simhash)],
        "n_input long, n_after_exact long, n_after_minhash long, n_after_simhash long",
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration audit
# ---------------------------------------------------------------------------


def _mh_accuracy_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    exact = (
        "CAST(FLOOR(1000000e0 * (len(list_intersect(sa.sh, sb.sh))::DOUBLE"
        " / len(list_distinct(sa.sh || sb.sh)))) AS BIGINT)"
    )
    return f"""
    WITH {minhash_pair_ctes('documents')},
    acc AS (
      SELECT p.a, p.b,
             ({agree})::BIGINT AS n_agree,
             {exact} AS exact_micros
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.a
      JOIN sig sb ON sb.doc_id = p.b
    )
    SELECT n_agree,
           ((1000000 * n_agree) // {N_HASHES})::BIGINT AS est_micros,
           count(*)::BIGINT AS n_pairs,
           sum(exact_micros)::BIGINT AS sum_exact_micros,
           min(exact_micros)::BIGINT AS min_exact_micros,
           max(exact_micros)::BIGINT AS max_exact_micros
    FROM acc GROUP BY n_agree
    ORDER BY n_agree
    """


@_register("minhash_estimate_accuracy", _mh_accuracy_oracle())
def q_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: over the LSH candidate pairs, the
    per-agreement-level (0..16 matching signature positions) count of
    pairs and the sum/min/max of their EXACT Jaccard — the curve that
    tells you whether 16 hashes are enough before trusting the sketch
    to delete data at 100 TB (estimated similarity n_agree/16 should
    bracket the exact values; a wide min/max band at high agreement
    means more hashes or a higher verify threshold).

    Scale: identical topology to minhash_near_dups (signatures are
    per-row HOF math, one banded shuffle with bucket caps, exact
    Jaccard only for candidates) plus one bounded 17-row rollup; the
    audit adds NO new corpus-wide work over the dedup run it audits.
    Exact Jaccard is quantized to integer micros before aggregation
    (the double itself is a single division of exact ints — identical
    both engines — but summing doubles would be fold-order-dependent)."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # no released() scope (the minhash_near_dups convention): the returned
    # frame is lazy and re-reads sigs from three consumers at execution
    # time; the harness clears the cache between queries.
    sigs, _ = materialize(
        dd.minhash_signatures(spread(d), "text", N_HASHES, SHINGLE_K).select(
            "doc_id", "sh", *[f"mh{i}" for i in range(N_HASHES)]
        )
    )
    pairs = dd.lsh_candidate_pairs(sigs, "doc_id", N_HASHES, BANDS, MAX_BUCKET)
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        F.col("sh").alias("sha"),
        *[F.col(f"mh{i}").alias(f"xa{i}") for i in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        F.col("sh").alias("shb"),
        *[F.col(f"mh{i}").alias(f"xb{i}") for i in range(N_HASHES)],
    )
    agree = " + ".join(
        f"(CASE WHEN xa{i} = xb{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    exact = (
        "CAST(FLOOR(1000000e0 * (CAST(size(array_intersect(sha, shb))"
        " AS DOUBLE) / size(array_distinct(concat(sha, shb)))))"
        " AS BIGINT)"
    )
    acc = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            F.expr(f"CAST(({agree}) AS BIGINT)").alias("n_agree"),
            F.expr(exact).alias("exact_micros"),
        )
    )
    out = (
        acc.groupBy("n_agree")
        .agg(
            F.expr(
                f"CAST((1000000 * n_agree) div {N_HASHES} AS BIGINT)"
            ).alias("est_micros"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("exact_micros").cast("bigint").alias("sum_exact_micros"),
            F.min("exact_micros").cast("bigint").alias("min_exact_micros"),
            F.max("exact_micros").cast("bigint").alias("max_exact_micros"),
        )
        .orderBy("n_agree")
    )
    return out


# ---------------------------------------------------------------------------
# Survivor selection (golden-record accounting after clustering)
# ---------------------------------------------------------------------------


def _survivor_oracle() -> str:
    return f"""
    WITH RECURSIVE {_closure_ctes()},
    stats AS (
      SELECT d.lang,
             count(*)::BIGINT AS n_in_clusters,
             count(DISTINCT c.cluster_id)::BIGINT AS n_clusters,
             sum(CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0 END)
               ::BIGINT AS n_removed
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
      GROUP BY d.lang
    ),
    tot AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang)
    SELECT t.lang, t.n_docs,
           coalesce(s.n_in_clusters, 0)::BIGINT AS n_in_clusters,
           coalesce(s.n_clusters, 0)::BIGINT AS n_clusters,
           coalesce(s.n_removed, 0)::BIGINT AS n_removed,
           (t.n_docs - coalesce(s.n_removed, 0))::BIGINT AS n_kept
    FROM tot t LEFT JOIN stats s USING (lang)
    ORDER BY t.lang
    """


@_register("dedup_survivor_report", _survivor_oracle())
def q_dedup_survivor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record accounting — the last step of the dedup chain
    (detect pairs → cluster → SELECT SURVIVORS): per language, how many
    documents sit in near-dup clusters, how many clusters exist, how
    many non-canonical members get removed (canonical = the cluster's
    min doc_id, matching the cluster label), and how many documents
    survive.

    Scale: reuses the connected-components result (candidate-graph
    sized — |pairs| rows, not corpus); the survivor flag is
    ``doc_id <> cluster_id`` (free, since the label IS the canonical
    id); the lang join touches |clustered docs| rows against the
    broadcastable doc-dimension projection, and the per-lang rollup is
    bounded by |langs|.  The corpus-total frame is one map-side-combined
    aggregate."""
    comp = QUERIES["dedup_connected_components"](spark, sf_dir)
    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    stats = (
        comp.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_in_clusters"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum(
                F.when(F.col("doc_id") != F.col("cluster_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_removed"),
        )
    )
    tot = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        tot.join(stats, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_in_clusters", F.lit(0)).cast("bigint").alias(
                "n_in_clusters"
            ),
            F.coalesce("n_clusters", F.lit(0)).cast("bigint").alias("n_clusters"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            (F.col("n_docs") - F.coalesce("n_removed", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Exact-substring cross-document dedup (duplicated token spans)
# ---------------------------------------------------------------------------

SPAN_W = 20  # tokens per span; production corpora use ~50 (same plan shape)


def _span_windows_sql() -> str:
    """Shared window generator CTEs (DuckDB dialect): every length-W
    sliding token window per doc, fingerprinted by md5 of its joined
    text — the byte-identical mirror of the Spark generator."""
    toks = tx.tokens(tx.DUCK, "text")
    return f"""t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    w AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, j + 1, j + {SPAN_W}), ' ')) AS fp
      FROM t, unnest(generate_series(0, len(toks) - {SPAN_W})) AS u(j)
      WHERE len(toks) >= {SPAN_W}
    ),
    g AS (
      SELECT fp, count(DISTINCT doc_id) AS nd, min(doc_id) AS survivor
      FROM w GROUP BY fp
    )"""


@_register(
    "substring_dup_spans",
    f"""
    WITH {_span_windows_sql()}
    SELECT w.doc_id,
           count(*)::BIGINT AS n_windows,
           sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_windows,
           sum(CASE WHEN g.nd > 1 AND w.doc_id <> g.survivor
               THEN 1 ELSE 0 END)::BIGINT AS n_removable_windows
    FROM w JOIN g USING (fp)
    GROUP BY w.doc_id
    HAVING sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring cross-document dedup: find every length-W token
    span that occurs verbatim in MORE THAN ONE document — the
    training-data staple ("remove any ~50-token span duplicated across
    documents", the suffix-array dedup of Lee et al. 2022 re-expressed
    as a shuffle), which whole-doc MinHash/SimHash cannot see and
    intra-doc repetition stats do not cross documents for.  Each
    duplicated span elects a survivor (min doc_id); the per-doc report
    counts windows, duplicated windows, and removable windows (span is
    duplicated and this doc lost the election) for every affected doc.

    Scale: sliding windows are a per-row generate (n_tokens - W + 1
    windows per doc — linear in corpus size, never corpus x corpus);
    fingerprints md5-compress each span to a fixed-width key; the ONE
    data-sized shuffle is on the fingerprint (group to per-span
    stats, then the span->stats equi-join reuses the same hash
    partitioning / broadcasts under AQE); the per-doc rollup is an
    ordinary map-side-combined aggregate on doc_id.  At 100 TB the
    fingerprint shuffle is ~|corpus tokens| fixed-width rows —
    exactly the cost profile of the MinHash band shuffle, with
    bucket skew bounded because identical 20-token spans are rare by
    construction (a pathological template corpus degrades to the df
    cap pattern used by boilerplate_ngram_flags).  Windows never
    materialize span TEXT through the shuffle, only 32-byte hashes."""
    toks_col = F.expr(tx.tokens(tx.SPARK, "text"))
    d = spread(load_table(spark, "documents", sf_dir)).select(
        "doc_id", toks_col.alias("toks")
    )
    # Materialized toks column: the transform() lambda below indexes a
    # COLUMN, so Spark does not re-evaluate the tokenizer per element
    # (the word_shingles_spark_fast lesson).
    slide = (
        f"CASE WHEN size(toks) >= {SPAN_W} THEN "
        f"transform(sequence(0, size(toks) - {SPAN_W}), "
        f"j -> md5(concat_ws(' ', slice(toks, j + 1, {SPAN_W})))) "
        f"ELSE array() END"
    )
    w = d.select("doc_id", F.explode(F.expr(slide)).alias("fp"))
    g = w.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("nd"),
        F.min("doc_id").alias("survivor"),
    )
    per_doc = (
        w.join(g, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.sum(
                F.when(
                    (F.col("nd") > 1) & (F.col("doc_id") != F.col("survivor")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_removable_windows"),
        )
    )
    return per_doc.filter(F.col("n_dup_windows") > 0).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous LPA, deterministic tie-break)
# ---------------------------------------------------------------------------

LPA_ITERS = 3
LPA_TOP = 20


def _lpa_oracle() -> str:
    iters = []
    for k in range(1, LPA_ITERS + 1):
        iters.append(
            f"""
    l{k} AS (
      SELECT node, label FROM (
        SELECT e.dst AS node, l.label,
               row_number() OVER (
                 PARTITION BY e.dst
                 ORDER BY count(*) DESC, l.label ASC) AS rn
        FROM edges e JOIN l{k - 1} l ON l.node = e.src
        GROUP BY e.dst, l.label
      ) WHERE rn = 1
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
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),{",".join(iters)}
    SELECT label AS community, count(*)::BIGINT AS n_members
    FROM l{LPA_ITERS}
    GROUP BY label
    ORDER BY n_members DESC, community ASC
    LIMIT {LPA_TOP}
    """


@_register("label_propagation_communities", _lpa_oracle())
def q_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007) over the undirected customer↔supplier trade
    graph — {LPA_ITERS} rounds of "adopt the most frequent neighbor
    label", reporting the top-{LPA_TOP} communities by size.  Completes
    the iterative-graph family (PageRank = centrality, connected
    components = reachability, LPA = density clustering).

    Determinism: labels are strings, counts exact integers, and every
    adoption breaks frequency ties on MIN label — a total order, so the
    synchronous update is bit-reproducible and the oracle unrolls the
    {LPA_ITERS} rounds as CTEs (no floats anywhere).

    Scale: per iteration — one labels⋈edges map join (UNHINTED since
    r9: a forced F.broadcast never falls back, so past the broadcast
    threshold it would OOM instead of degrading; leaving the strategy
    to the planner/AQE picks broadcast from runtime size at test SFs
    and shuffle join against the pre-partitioned persisted edges at
    node counts that don't fit), one edge-sized partial-agg shuffle on
    (dst, label), and an argmax window partitioned by dst whose frames
    are degree-bounded.  Per-generation persist cuts the quadratic
    lineage (the PageRank discipline, dedup_queries.py:700)."""
    # Pre-partitioned by src (r10, ADVICE fix): the docstring's
    # shuffle-join fallback claim requires it — an unpartitioned persist
    # would re-shuffle the edge list every iteration once labels outgrow
    # the broadcast threshold.  Substrate build shared + optimized r15:
    # trade_graph_edges.
    edges = trade_graph_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # Adoption argmax as a two-level aggregate (r15, guide §2.4): the
    # old row_number() window over (node) re-exchanged AND sorted the
    # (node, label, n) frame every iteration right after the (dst,
    # label) groupBy had already shuffled it.  min(struct(-n, label))
    # is the identical total order — max frequency, ties to MIN label —
    # computed as a partial-agg'd groupBy(node): one sort removed and
    # the second exchange carries partial aggregates instead of every
    # (node, label) row, each iteration.
    for _ in range(LPA_ITERS):
        lsrc = labels.withColumnRenamed("node", "src")
        labels = (
            edges.join(lsrc, "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("nn"), F.col("label").alias("label"))
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
        )
        labels = labels.persist()
    out = (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(LPA_TOP)
    )
    return out


# ---------------------------------------------------------------------------
# BFS reachability frontier (k-hop breadth-first expansion)
# ---------------------------------------------------------------------------

BFS_HOPS = 3


def _bfs_oracle() -> str:
    hops = []
    for k in range(1, BFS_HOPS + 1):
        hops.append(
            f"""
    h{k} AS (
      SELECT DISTINCT e.dst AS node
      FROM edges e JOIN h{k - 1} f ON e.src = f.node
      WHERE e.dst NOT IN (SELECT node FROM v{k - 1})
    ),
    v{k} AS (SELECT node FROM v{k - 1} UNION SELECT node FROM h{k})"""
        )
    unions = " UNION ALL ".join(
        f"SELECT {k} AS hop, count(*)::BIGINT AS n_nodes FROM h{k}"
        for k in range(BFS_HOPS + 1)
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
    h0 AS (SELECT min(src) AS node FROM edges),
    v0 AS (SELECT node FROM h0),{",".join(hops)}
    SELECT hop::BIGINT AS hop, n_nodes FROM ({unions}) ORDER BY hop
    """


@_register("bfs_frontier_hops", _bfs_oracle())
def q_bfs_frontier_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability from the lexicographically-first node
    of the trade graph: per-hop frontier sizes for {BFS_HOPS} hops — the
    shortest-path-layer primitive (friend-of-friend expansion, blast-
    radius analysis) that completes the graph family alongside PageRank
    (centrality), connected components (reachability closure), LPA
    (communities) and triangles (density).

    Determinism: the source is min(node) (total string order); frontiers
    are DISTINCT sets; outputs are exact counts — no floats, no
    randomness.

    Scale: per hop — one hash join of the (node-sized, usually tiny)
    frontier into the persisted edge list plus one left-anti join
    against the visited set; both are equi-joins on node (the frontier
    broadcasts while small, falls back to shuffle when it saturates).
    Visited and frontier persist per generation (the PageRank lineage
    discipline).  NOT-IN is expressed as LEFT ANTI, never a negated
    IN-subquery scan."""
    # Pre-partitioned by src (r10): makes the documented saturation
    # fallback one-sided — same rationale as PageRank/LPA above.
    # Substrate build shared + optimized r15: trade_graph_edges.
    edges = trade_graph_edges(spark, sf_dir)
    frontier = edges.agg(F.min("src").alias("node"))
    frontier = frontier.persist()
    visited = frontier
    counts = [(0, frontier)]
    for k in range(1, BFS_HOPS + 1):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        nxt = nxt.persist()
        visited = visited.unionByName(nxt).persist()
        frontier = nxt
        counts.append((k, nxt))
    out = None
    for k, f in counts:
        leg = f.agg(
            F.lit(k).cast("bigint").alias("hop"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("hop")
