"""Deduplication operators for large-scale corpus curation.

Four families, all expressed as declarative DataFrame transformations
(no Python in the row path — every hash/shingle/fold is a Catalyst
expression, so the plan stays in whole-stage codegen):

- **Exact** — content-hash groupBy; survivors = min key per hash.
- **MinHash + LSH** — word-shingle minhash signatures, banded LSH
  bucketing, candidate pairs from bucket self-joins, exact-Jaccard verify.
- **SimHash** — 32-bit sign-of-bit-sums fingerprint + Hamming-distance
  pairing within blocks.
- **Embedding near-dup** — cosine similarity over an embedding column
  within blocking keys (see operators.similarity for the ANN path).

Scale design (the 100 TB story):
- Signatures are per-row column math — embarrassingly parallel, no shuffle.
- LSH pair generation shuffles once on (band, band_key); bucket sizes are
  bounded by the band-key hash, and a size cap (``max_bucket``) guards the
  quadratic blowup of degenerate buckets (boilerplate/empty docs) — the
  same guard production dedup pipelines use.
- The verify step re-joins shingle sets only for *candidate* pairs
  (|candidates| ≪ |corpus|²).

Reference parity note: the reference pipeline has no dedup operators —
these are the beyond-reference training-data ops required by the driver
(BASELINE.json north star). The cross-engine-deterministic hash/shingle
expressions live in functions.textexpr.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pedri_analysis_spark.cache import materialize
from pedri_analysis_spark.functions import textexpr as tx


from pedri_analysis_spark.operators import spread  # noqa: E402  (re-export for callers)


def with_shingles(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct word k-shingles as column ``sh``. Tokens are staged as a
    real column and shingles use the zip_with/slice formulation — see
    textexpr.word_shingles_spark_fast for why the naive per-element
    indexing inside a transform() lambda is quadratic in Spark."""
    return (
        df.withColumn("_toks", F.expr(tx.tokens(tx.SPARK, text_col)))
        .withColumn("sh", F.expr(tx.word_shingles_spark_fast("_toks", k)))
        .drop("_toks")
    )


def exact_dedup(df: DataFrame, content_col: str, key_col: str) -> DataFrame:
    """Keep one FULL row per exact content (min key wins). Hash-groupBy —
    one shuffle on the content hash; the whole survivor row travels inside
    the aggregation buffer via ``min_by(struct(*), key)``, so no second
    join back to the corpus is needed to recover row contents."""
    h = F.md5(F.col(content_col))
    survivor = F.min_by(F.struct(*[F.col(c) for c in df.columns]), F.col(key_col))
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(survivor.alias("_row"))
        .select("_row.*")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """Append mh0..mh{n-1} minhash columns (and ``sh`` shingle sets).

    Staged as shingles → ONE md5 base hash per shingle → n affine
    permutations (cheap integer math), each stage its own projection so
    the expensive expressions evaluate once, not once per signature."""
    out = with_shingles(df, text_col, shingle_k)
    out = out.withColumn("_hv", F.expr(tx.base_hash_array(tx.SPARK, "sh")))
    mh = [
        F.expr(e).alias(f"mh{i}")
        for i, e in enumerate(tx.minhash_from_base(tx.SPARK, "_hv", n_hashes))
    ]
    return out.select("*", *mh).drop("_hv")


def lsh_candidate_pairs(
    sigs: DataFrame,
    key_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate pairs from banded LSH over minhash signatures.

    Explodes each row into ``bands`` (band, band_key) rows, self-joins per
    bucket, and keeps (a < b) distinct pairs. ``max_bucket`` drops
    degenerate buckets before the quadratic step.

    Empty-signature rows (all mh NULL — fewer tokens than the shingle
    width) are dropped before bucketing: Spark's concat_ws folds their
    NULLs to one shared '' band key (DuckDB's || yields NULL and drops
    them), so without the filter every too-short doc meets every other
    in one bucket — quadratic garbage candidates the oracle never
    generates."""
    if n_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes}: a remainder "
            "silently ignores trailing hashes, and bands > n_hashes "
            "degrades every band key to the empty slice (zero candidates)"
        )
    rows_per_band = n_hashes // bands
    sig_cols = [f"mh{i}" for i in range(n_hashes)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(tx.band_key(tx.SPARK, sig_cols, b, rows_per_band)).alias("bk"),
            )
            for b in range(bands)
        ]
    )
    buckets = (
        sigs.filter(F.col("mh0").isNotNull())
        .select(F.col(key_col), F.explode(band_structs).alias("e"))
        .select(key_col, F.col("e.band").alias("band"), F.col("e.bk").alias("bk"))
    )
    # r16: bucket-mate pairs from ONE sorted-set aggregate + in-JVM pair
    # explode instead of window-count + bucket self-join — the former plan
    # paid an exchange+sort for the size cap and two more bucket-keyed
    # exchanges for the join legs; the aggregate form pays one. Cap
    # semantics are identical: bucket_n was constant within a bucket
    # (each key appears once per band), so dropping whole oversized
    # buckets == dropping both join sides. Groups are <= max_bucket
    # fixed-width keys — inside the r15 explode-pattern bound.
    return (
        buckets.groupBy("band", "bk")
        .agg(F.sort_array(F.collect_set(key_col)).alias("vs"))
        .filter((F.size("vs") >= 2) & (F.size("vs") <= max_bucket))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(vs, (x, i) -> "
                    "transform(slice(vs, i + 2, size(vs)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    key_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs only.
    Extra columns on ``pairs`` (e.g. a side tag) pass through — verifying
    is a filter+score, never a projection that loses pair metadata."""
    left = shingled.select(F.col(key_col).alias("a"), F.col("sh").alias("sh_a"))
    right = shingled.select(F.col(key_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(left, "a")
        .join(right, "b")
        .withColumn(
            # both-empty shingle sets: 0/0 would throw under the ANSI
            # session; the oracle generates no such pairs, and an empty
            # set is a near-dup of nothing — score NULL, drop below
            "jaccard",
            F.when(
                F.size(F.array_union("sh_a", "sh_b")) > 0,
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(*pairs.columns, "jaccard")
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_bucket: int = 64,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate detection: returns
    (a, b, jaccard) with jaccard ≥ threshold.  ``max_bucket`` forwards
    to the LSH bucket cap so callers that bake the cap into an oracle
    (plans/dedup_queries.MAX_BUCKET) can keep both sides in lockstep."""
    # materialize: the signature table feeds both the bucket self-join and
    # the Jaccard verify — without it the tokenize/shingle/hash chain runs
    # twice. Narrowed to (key, sh, mh*) first: the raw text column is dead
    # weight in the cache.
    sigs = minhash_signatures(spread(df), text_col, n_hashes, shingle_k).select(
        key_col, "sh", *[f"mh{i}" for i in range(n_hashes)]
    )
    sigs, _ = materialize(sigs)
    pairs = lsh_candidate_pairs(sigs, key_col, n_hashes, bands, max_bucket)
    return jaccard_verify(pairs, sigs.select(key_col, "sh"), key_col, threshold)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append a 32-bit ``simhash`` column (sign-of-bit-sums over token
    hashes, computed as a single Catalyst fold expression)."""
    toks = tx.tokens(tx.SPARK, text_col)
    bitsums = tx.simhash_bitsums(tx.SPARK, toks)
    return df.withColumn("_bs", F.expr(bitsums)).withColumn(
        "simhash", F.expr(tx.simhash_from_bitsums(tx.SPARK, "_bs"))
    ).drop("_bs")


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    block_col: str = "lang",
    max_hamming: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs within a blocking key: Hamming distance of
    the 32-bit fingerprints ≤ max_hamming.

    Scale: at 100 TB block on bit-chunks of the simhash itself instead of
    a domain column — that variant is ``simhash_prefix_near_dups`` below
    (pigeonhole over max_hamming+1 chunks, no block column needed)."""
    hashed = with_simhash(spread(df), text_col).select(
        F.col(key_col), F.col(block_col), "simhash"
    )
    hashed, _ = materialize(hashed)  # feeds both sides of the self-join
    a = hashed.select(
        F.col(key_col).alias("a"), F.col(block_col).alias("blk"), F.col("simhash").alias("sh_a")
    )
    b = hashed.select(
        F.col(key_col).alias("b"), F.col(block_col).alias("blk"), F.col("simhash").alias("sh_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_prefix_near_dups(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 4,
    bits: int = 32,
) -> DataFrame:
    """SimHash near-dup pairs over the WHOLE corpus — no domain block
    column — via pigeonhole bit-chunk blocking.

    If two fingerprints differ in ≤ ``max_hamming`` bits, then splitting
    them into ``max_hamming + 1`` disjoint bit chunks leaves at least one
    chunk identical (pigeonhole).  So: explode each row into its chunks,
    self-join on (chunk index, chunk value) — candidates only ever meet
    inside a shared-chunk bucket — then filter on true Hamming distance
    and dedup pairs that matched in several chunks.

    Scale: ONE shuffle on (chunk, value); bucket fan-out is |corpus| ×
    (k+1) rows, and per-bucket pair cost is n²/2^width — at 100 TB you
    widen the fingerprint (64/128-bit) so chunk widths stay ≥ 12 bits and
    buckets stay small.  Same topology as the banded MinHash LSH join."""
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]

    hashed = with_simhash(spread(df), text_col).select(F.col(key_col), "simhash")
    hashed, _ = materialize(hashed)  # feeds both sides of the chunk self-join
    chunk_vals = F.array(
        *[
            F.shiftright("simhash", off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in zip(offsets, widths)
        ]
    )
    blocks = hashed.select(
        F.col(key_col), "simhash", F.posexplode(chunk_vals).alias("ck", "ckv")
    )
    # r16 measured REJECTION of the sorted-set pair explode here (the
    # lsh_candidate_pairs rewrite): chunk buckets have NO size cap and
    # this corpus' template clusters make them large (150k+ true pairs at
    # sf0.1), so the per-row O(|bucket|^2) struct-array materialization
    # lost to the streaming hash join — ABAB 1.17/1.23 s (join) vs
    # 1.68/1.66 s (explode). The r15 pattern bound holds: explode-pairs
    # only for SMALL CAPPED groups.
    a = blocks.select(
        F.col(key_col).alias("a"), F.col("simhash").alias("sh_a"), "ck", "ckv"
    )
    b = blocks.select(
        F.col(key_col).alias("b"), F.col("simhash").alias("sh_b"), "ck", "ckv"
    )
    return (
        a.join(b, ["ck", "ckv"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_bucket: int = 64,
) -> DataFrame:
    """Dedup an ingestion DELTA against an existing CORPUS without ever
    pairing corpus x corpus — the shape that keeps LSH dedup viable under
    continuous ingestion (per-batch cost is |delta| signatures + the
    delta-side bucket join, independent of corpus growth; at 100 TB the
    corpus signature/bucket table is a persisted columnar artifact and
    only the delta side is computed fresh).

    Pairs are asymmetric: a delta doc pairs with any corpus bucket-mate,
    and with EARLIER (lower-key) delta docs for within-batch dups. Exact
    Jaccard verifies candidates; the verdict per delta doc is
    'dup_of_corpus' > 'dup_in_batch' > 'new' (corpus match wins), with
    best_jaccard the max verified similarity (NULL for 'new').

    PRECONDITION: ``key_col`` values must be disjoint between corpus and
    delta (keys identify rows across BOTH tables once tagged — a shared
    id would join one pair against two shingle rows and merge two
    entities into one verdict). Real ingestion pipelines namespace batch
    ids (as the registered query does with +1e6 offsets); violations are
    a caller bug this operator cannot detect without an extra pass."""
    # Validate BEFORE any Spark work: an invalid bands value must not run
    # the full tokenize/shingle/hash job (and leak a persisted cache)
    # before raising — lsh_candidate_pairs checks first for the same reason.
    if n_hashes % bands:
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    rows_per_band = n_hashes // bands
    tagged = corpus.select(
        F.lit("c").alias("_tag"), F.col(key_col), F.col(text_col)
    ).unionByName(
        delta.select(F.lit("d").alias("_tag"), F.col(key_col), F.col(text_col))
    )
    # materialize: signatures feed the bucket join AND the Jaccard verify
    # (same rationale as minhash_near_dups; LRU eviction reclaims it);
    # narrowed — the cached frame never needs the raw text
    sigs = minhash_signatures(spread(tagged), text_col, n_hashes, shingle_k).select(
        "_tag", key_col, "sh", *[f"mh{i}" for i in range(n_hashes)]
    )
    sigs, _ = materialize(sigs)
    sig_cols = [f"mh{i}" for i in range(n_hashes)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(tx.band_key(tx.SPARK, sig_cols, b, rows_per_band)).alias("bk"),
            )
            for b in range(bands)
        ]
    )
    buckets = (
        sigs.filter(F.col("mh0").isNotNull())  # see lsh_candidate_pairs
        .select("_tag", F.col(key_col), F.explode(band_structs).alias("e"))
        .select("_tag", key_col, F.col("e.band").alias("band"), F.col("e.bk").alias("bk"))
    )
    # r16: asymmetric bucket-mate pairs from ONE sorted-set aggregate +
    # in-JVM explode (see lsh_candidate_pairs) instead of window-count +
    # tagged self-join. Pairing rule unchanged: a delta doc pairs with
    # every corpus bucket-mate and with EARLIER (lower-key) delta mates;
    # keys are disjoint across corpus/delta (documented precondition), so
    # key inequality alone separates x from y. The cap counted ALL rows
    # in a bucket (c + d) — size(vs) reproduces it exactly.
    pairs = (
        buckets.groupBy("band", "bk")
        .agg(
            F.sort_array(
                F.collect_set(F.struct(F.col(key_col).alias("k"), F.col("_tag").alias("t")))
            ).alias("vs")
        )
        .filter((F.size("vs") >= 2) & (F.size("vs") <= max_bucket))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(filter(vs, x -> x.t = 'd'), x -> "
                    "transform(filter(vs, y -> y.t = 'c' OR "
                    "(y.t = 'd' AND y.k < x.k)), "
                    "y -> struct(x.k AS a, y.k AS b, y.t AS btag))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b", "p.btag")
        .distinct()
    )
    verified = jaccard_verify(pairs, sigs.select(key_col, "sh"), key_col, threshold)
    return (
        delta.select(F.col(key_col))
        .join(verified, F.col(key_col) == F.col("a"), "left")
        .groupBy(key_col)
        .agg(
            F.when(F.bool_or(F.col("btag") == "c"), "dup_of_corpus")
            .when(F.count("b") > 0, "dup_in_batch")
            .otherwise("new")
            .alias("verdict"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
