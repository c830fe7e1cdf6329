"""Dual-dialect text/hash expression builders.

The dedup / text-analysis / similarity operators must be verifiable
against the DuckDB oracle, which means every hash, tokenization, and
shingle step has to produce *bit-identical* values in Spark SQL and DuckDB
SQL.  Each builder here emits the expression in both dialects from one
spec, so the two sides cannot drift.

Cross-engine primitives verified to agree exactly:
- ``md5(s)`` hex digest (both engines);
- hex→int:  Spark ``CAST(CONV(SUBSTRING(md5(x),1,15),16,10) AS BIGINT)``
  ≡ DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT`` (60 bits, positive);
- ``split``/``string_split_regex`` on ``\\s+``;
- list ``transform/list_transform``, ``array_distinct/list_distinct``,
  ``array_sort/list_sort``, ``array_intersect/list_intersect``
  (intersection dedups in both engines).

NOTE: Spark SQL arrays are 0-indexed, DuckDB lists are 1-indexed — the
builders account for this.

NOTE: deduplicated lists agree cross-engine as SETS, not sequences —
Spark ``array_distinct`` keeps first-occurrence order while DuckDB
``list_distinct`` does not. Every consumer of ``word_shingles`` /
``char_ngrams`` is therefore order-insensitive (min-folds, intersects,
distinct counts); tests/test_property_parity.py pins both halves of this
contract on hypothesis-generated input.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"


def seeded_hash64(dialect: str, expr: str, seed: int | str = "") -> str:
    """Deterministic 60-bit positive integer hash of a string expression,
    identical across engines. ``seed`` namespaces independent hash
    functions (minhash permutations)."""
    salted = f"concat('{seed}:', {expr})" if dialect == SPARK else f"('{seed}:' || {expr})"
    if dialect == SPARK:
        return f"CAST(CONV(SUBSTRING(md5({salted}), 1, 15), 16, 10) AS BIGINT)"
    return f"('0x' || substr(md5({salted}), 1, 15))::BIGINT"


def chunk_of(dialect: str, id_expr: str, nch_expr: str, seed: str = "chunk") -> str:
    """Residue cell of an id under the mod-chunk pair-work cap:
    ``seeded_hash64(id) % nch`` — identical in both engines (the hash is
    positive, both engines use truncated modulo, so the residue is
    always in [0, nch)).

    HASHED, not raw ``id % nch`` (r10, ADVICE fix): the O(N·CHUNK)
    bound of raw-id chunking is statistical and collapses when block
    ids share arithmetic structure with nch (e.g. synth replicas shift
    ids by powers of 10); hashing makes cell balance independent of id
    layout.  The recall trade is identical either way — once nch > 1 a
    true pair survives only if both ids land in the same residue cell
    (probability 1/nch under the hash) — see tools/chunk_recall.py and
    the APPROX_PAST_CAP annotations in tools/scaling_check.py."""
    cast = "STRING" if dialect == SPARK else "VARCHAR"
    return f"({seeded_hash64(dialect, f'CAST({id_expr} AS {cast})', seed)} % {nch_expr})"


def floor_scaled_div(dialect: str, num: str, den: str, k: int) -> str:
    """``floor(num * k / den)`` in pure BIGINT WITHOUT materializing
    ``num * k`` — the overflow-safe quantization for corpus-scale sums
    (r11 review fix): a segment revenue sum already near 2^63 would wrap
    under ``sum * 10000`` in Spark while DuckDB promotes to HUGEINT, so
    the engines silently diverge exactly at the scale the queries are
    designed for.  Decomposition (exact for num >= 0, den > 0, PROVIDED
    the RESULT floor(num*k/den) fits in BIGINT — a scaled MEAN is
    row-magnitude; what the decomposition removes is the intermediate
    ``sum * k``, which is corpus-magnitude):
    ``(num div den) * k + ((num mod den) * k) div den`` — the residue is
    < den, so the residue product is bounded by den * k.  Identical
    truncated div/mod in both engines."""
    d = "//" if dialect == DUCK else "div"
    # k as an explicit BIGINT literal: DuckDB int literals are INT32 and
    # Spark's are INT — either would overflow the residue product first
    kb = f"{k}::BIGINT" if dialect == DUCK else f"CAST({k} AS BIGINT)"
    return (
        f"((({num}) {d} ({den})) * {kb} "
        f"+ ((({num}) % ({den})) * {kb}) {d} ({den}))"
    )


DAY_US = 86_400_000_000


def epoch_day(dialect: str, col: str) -> str:
    """Epoch-day index of a (possibly NTZ) timestamp column — the shared
    dual-dialect day-bucketing idiom (UTC session TZ makes the Spark cast
    an identity, and `div` ≡ `//` for the post-1970 data domain)."""
    if dialect == SPARK:
        return f"(unix_micros(CAST({col} AS TIMESTAMP)) div {DAY_US})"
    return f"(epoch_us({col}) // {DAY_US})"


def tokens(dialect: str, text_expr: str) -> str:
    """Lower-cased whitespace tokens (the reference-style normalization).

    The empty-string filter matters: splitting an empty/whitespace-only
    document yields [''] (size 1) on BOTH engines, which silently
    inflates every token count and makes an n_tokens = 0 gate
    unreachable — filtered, an empty document tokenizes to []."""
    if dialect == SPARK:
        return f"filter(split(trim(lower({text_expr})), '\\\\s+'), _t -> _t <> '')"
    return (
        f"list_filter(string_split_regex(trim(lower({text_expr})), '\\s+'),"
        f" _t -> _t <> '')"
    )


def word_shingles(dialect: str, toks_expr: str, k: int = 3) -> str:
    """Distinct word k-shingles ('a b c' strings) of a token array.

    Guarded so fewer-than-k tokens yields an empty list (``sequence`` /
    ``generate_series`` misbehave on negative ranges)."""
    if dialect == SPARK:
        joined = " , ".join(f"{toks_expr}[i + {j}]" for j in range(k))
        body = (
            f"transform(sequence(0, size({toks_expr}) - {k}), "
            f"i -> concat_ws(' ', {joined}))"
        )
        return (
            f"CASE WHEN size({toks_expr}) >= {k} THEN array_distinct({body}) "
            f"ELSE array() END"
        )
    joined = " || ' ' || ".join(f"{toks_expr}[i + {j}]" for j in range(1, k + 1))
    body = (
        f"list_transform(generate_series(0, len({toks_expr}) - {k}), "
        f"i -> {joined})"
    )
    return (
        f"CASE WHEN len({toks_expr}) >= {k} THEN list_distinct({body}) "
        f"ELSE [] END"
    )


def word_shingles_spark_fast(toks_col: str, k: int = 3) -> str:
    """Spark-only fast shingle formulation over a *materialized* token
    column: k aligned slices zipped with concat.

    Rationale: Spark evaluates higher-order-function lambdas interpreted,
    re-evaluating any non-column subexpression PER ELEMENT — indexing the
    token array inside a transform() lambda (the naive formulation) costs
    O(tokens × k) re-evaluations of whatever expression produced the
    array. zip_with over pre-sliced arrays touches the array expression
    only k+1 times per ROW. Semantics identical to word_shingles().
    All k slices have exactly size-k+1 elements, so zip_with never
    null-pads."""
    m = f"greatest(size({toks_col}) - {k - 1}, 0)"
    acc = f"slice({toks_col}, 1, {m})"
    for j in range(1, k):
        acc = f"zip_with({acc}, slice({toks_col}, {1 + j}, {m}), (a, b) -> concat(a, ' ', b))"
    return f"array_distinct({acc})"


def char_ngrams(dialect: str, text_expr: str, n: int = 3) -> str:
    """Distinct character n-grams of a string."""
    if dialect == SPARK:
        body = (
            f"transform(sequence(1, length({text_expr}) - {n - 1}), "
            f"i -> substring({text_expr}, i, {n}))"
        )
        return (
            f"CASE WHEN length({text_expr}) >= {n} THEN array_distinct({body}) "
            f"ELSE array() END"
        )
    body = (
        f"list_transform(generate_series(1, length({text_expr}) - {n - 1}), "
        f"i -> substr({text_expr}, i, {n}))"
    )
    return (
        f"CASE WHEN length({text_expr}) >= {n} THEN list_distinct({body}) "
        f"ELSE [] END"
    )


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (a_i, b_i) for the
    classic minhash family h_i(x) = (a_i·x + b_i) mod p. Generated by a
    fixed LCG so both dialects embed identical literals; a_i ∈ [1, p)."""
    out = []
    state = 88172645463325252
    for _ in range(n_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (MINHASH_PRIME - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_PRIME
        out.append((a, b))
    return out


def base_hash_array(dialect: str, shingles_expr: str) -> str:
    """Hash each shingle ONCE to an integer in [0, p): one md5 per
    shingle; the n permutations are then cheap integer math. (Evaluating
    n md5s per shingle is the naive formulation — 16× the CPU.)"""
    if dialect == SPARK:
        h = seeded_hash64(SPARK, "s", "mh")
        return f"transform({shingles_expr}, s -> {h} % {MINHASH_PRIME})"
    h = seeded_hash64(DUCK, "s", "mh")
    return f"list_transform({shingles_expr}, s -> {h} % {MINHASH_PRIME})"


def minhash_from_base(dialect: str, base_expr: str, n_hashes: int) -> list[str]:
    """One min-hash per permutation over a precomputed base-hash array:
    min_i ((a_i·h + b_i) mod p). No overflow: a_i, h < 2^31 so the product
    < 2^62 fits BIGINT on both engines (DuckDB raises on real overflow,
    Spark wraps — staying under 2^63 keeps them identical)."""
    out = []
    for a, b in minhash_params(n_hashes):
        if dialect == SPARK:
            out.append(
                f"array_min(transform({base_expr}, h -> ({a}L * h + {b}L) % {MINHASH_PRIME}))"
            )
        else:
            out.append(
                f"list_min(list_transform({base_expr}, h -> ({a}::BIGINT * h + {b}::BIGINT) % {MINHASH_PRIME}))"
            )
    return out


def band_key(dialect: str, sig_cols: list[str], band: int, rows_per_band: int) -> str:
    """LSH band key: hash of the band's signature slice."""
    sl = sig_cols[band * rows_per_band : (band + 1) * rows_per_band]
    if dialect == SPARK:
        parts = ", ".join(f"CAST({c} AS STRING)" for c in sl)
        return seeded_hash64(SPARK, f"concat_ws(',', {parts})", f"band{band}")
    parts = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in sl)
    return seeded_hash64(DUCK, f"({parts})", f"band{band}")


def simhash_bitsums(dialect: str, toks_expr: str) -> str:
    """The 32-element bit-sum array for SimHash (fold over distinct tokens)."""
    h = seeded_hash64(dialect, "t", "simhash")
    if dialect == SPARK:
        # hash hoisted into the outer transform: ONE md5 per token, the
        # per-bit lambda then touches only the bound value `th` (lambda
        # bodies are interpreted per element — an md5 inside the 32-bit
        # loop would cost 32 digests per token)
        bits = (
            "transform(sequence(0, 31), b -> "
            "CASE WHEN (shiftright(th, b) & 1) = 1 THEN 1 ELSE -1 END)"
        )
        return (
            f"aggregate(transform(array_distinct({toks_expr}), t -> {h}), "
            f"array_repeat(0, 32), "
            f"(acc, th) -> zip_with(acc, {bits}, (a, x) -> a + x))"
        )
    bits = (
        f"list_transform(generate_series(0, 31), b -> "
        f"CASE WHEN (({h} >> b) & 1) = 1 THEN 1 ELSE -1 END)"
    )
    return (
        f"list_reduce(list_prepend([0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,"
        f"0,0,0,0,0,0,0,0,0,0,0,0,0,0,0,0], "
        f"list_transform(list_distinct({toks_expr}), t -> {bits})), "
        f"(acc, x) -> list_transform(generate_series(1, 32), i -> acc[i] + x[i]))"
    )


def simhash_from_bitsums(dialect: str, bitsums_expr: str) -> str:
    """Collapse the 32 bit-sums into the SimHash integer."""
    if dialect == SPARK:
        terms = " + ".join(
            f"(CASE WHEN {bitsums_expr}[{b}] > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for b in range(32)
        )
    else:
        terms = " + ".join(
            f"(CASE WHEN {bitsums_expr}[{b + 1}] > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
            for b in range(32)
        )
    return f"({terms})"
