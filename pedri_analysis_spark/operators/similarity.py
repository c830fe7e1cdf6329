"""Similarity search over an embedding column (``array<float>``).

Two paths:
- **Brute-force cosine top-k** — the exact baseline: an Arrow-vectorized
  cosine (``cosine_fast``) scores every vector, TakeOrderedAndProject
  takes the top-k.
- **IVF (inverted-file) top-k** — the scale path: vectors are bucketed by
  nearest centroid once (a broadcast argmin join); a query probes only the
  ``nprobe`` nearest centroid buckets. At 100 TB the bucketed table is
  written partitioned by ``cluster`` so a probe is a partition-pruned scan,
  and centroids come from a sampled k-means; here centroids are a
  deterministic subset (first C vectors) so the operator stays
  oracle-checkable.

Similarity values are floor-rounded to 6 dp at the output boundary: the
fold order of the dot product is engine-internal, so the last few ulps are
not portable — sub-microrounding differences collapse at 6 dp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def round6(c: Column) -> Column:
    """Floor-based 6-dp rounding — identical arithmetic on both engines
    (unlike round(), which the engines implement differently)."""
    return F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000


def round6_sql(e: str) -> str:
    """``round6`` as SQL text over the expression ``e``; the same text
    parses in Spark SQL and DuckDB, so oracles and ``F.expr`` share it."""
    return f"floor(({e}) * 1000000 + 0.5) / 1000000"


def _cosine_pandas():
    """Arrow-vectorized cosine: numpy dot over stacked batches.

    Catalyst higher-order-function lambdas execute interpreted per
    element (~300 lambda invocations per 64-dim cosine), which dominates
    wall-clock for pair-scoring workloads; one Arrow batch transfer + a
    numpy einsum is ~10× faster. Values differ from the oracle's
    ``list_cosine_similarity`` only in the last ulps — collapsed by
    round6 at every output/comparison boundary."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.values).astype(np.float64)
        mb = np.stack(b.values).astype(np.float64)
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        # zero-norm guard: NaN would silently rank #1 (NaN sorts above
        # every double in Spark/DuckDB) and pass >= thresholds, so a
        # zero-norm pair scores 0.0
        safe = np.where(den > 0, den, 1.0)
        return pd.Series(np.where(den > 0, num / safe, 0.0))

    return _cos


def cosine_fast(a: str, b: str) -> Column:
    """Vectorized cosine similarity of two array columns (see
    _cosine_pandas for why this beats the pure-Column fold)."""
    return _cosine_pandas()(F.col(a), F.col(b))


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query DataFrame.

    The query side is broadcast (1 row); scoring is a narrow map over the
    corpus; top-k plans as TakeOrderedAndProject (per-partition heaps, no
    global sort) — the right shape at any corpus size."""
    q = F.broadcast(query.select(F.col(vec_col).alias("_qvec")))
    scored = (
        embeddings.crossJoin(q)
        .withColumn("sim", round6(cosine_fast(vec_col, "_qvec")))
        .select(id_col, "sim")
    )
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, ties to the
    lowest centroid id). Broadcast the centroids; argmin via max_by."""
    c = F.broadcast(
        centroids.select(F.col(centroid_id), F.col(vec_col).alias("_cvec"))
    )
    scored = embeddings.crossJoin(c).withColumn(
        "_csim", round6(cosine_fast(vec_col, "_cvec"))
    )
    # ONE shuffle: carry the full row through the argmax instead of a
    # second corpus-wide join back on the id (the aggregation buffer is
    # one row per vector either way; the join formulation re-shuffled
    # the whole embeddings frame a second time).
    row_cols = [F.col(c_) for c_ in embeddings.columns]
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(*row_cols, F.col(centroid_id).alias("cluster")),
            F.struct(F.col("_csim"), -F.col(centroid_id)),
        ).alias("_row")
    )
    return best.select("_row.*")


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
) -> DataFrame:
    """Approximate top-k: probe only the nprobe centroid buckets nearest
    the query, then exact cosine within the candidates."""
    q = query.select(F.col(vec_col).alias("_qvec"))
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .withColumn("_csim", round6(cosine_fast(vec_col, "_qvec")))
        .orderBy(F.desc("_csim"), F.asc(centroid_id))
        .limit(nprobe)
        .select(F.col(centroid_id).alias("cluster"))
    )
    candidates = assigned.join(F.broadcast(probe), "cluster")
    return cosine_topk(candidates, query, k, id_col, vec_col)


def write_ivf_index(
    assigned: DataFrame, path: str, cluster_col: str = "cluster"
) -> None:
    """Materialize the IVF index as a CLUSTER-PARTITIONED parquet layout:
    one directory per centroid bucket.  A probe then reads only the
    ``nprobe`` matching directories — partition pruning at the file-listing
    level, so probe I/O is |bucket| × nprobe instead of |corpus|.  This is
    the 100 TB shape ivf_topk's docstring promises; see
    tests/test_plans.py::test_ivf_partitioned_probe_prunes for the
    plan-level proof."""
    assigned.write.partitionBy(cluster_col).mode("overwrite").parquet(path)


def read_ivf_candidates(
    spark, path: str, clusters: list[int], cluster_col: str = "cluster"
) -> DataFrame:
    """Scan only the probed centroid buckets of a written IVF index.
    The ``isin`` filter lands in the scan's PartitionFilters — Spark never
    lists, opens, or decodes any other bucket's files."""
    return spark.read.parquet(path).filter(F.col(cluster_col).isin(clusters))


# ---------------------------------------------------------------------------
# Int8 scalar quantization (the 4x-cheaper index representation)
# ---------------------------------------------------------------------------


def maxabs_scale(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-row DataFrame with the corpus max-|x| quantization scale.
    max() is order-independent, so the scale is deterministic under any
    partitioning; it stays a DataFrame (broadcast into the quantizer)
    rather than a collect()ed driver scalar."""
    return embeddings.agg(
        F.max(
            F.expr(
                f"array_max(transform({vec_col}, x -> abs(CAST(x AS DOUBLE))))"
            )
        ).alias("_sqscale")
    )


def scalar_quantize(
    embeddings: DataFrame,
    scale: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "qvec",
) -> DataFrame:
    """Symmetric int8 quantization: q_i = clamp(floor(x_i/s*127 + .5)).
    floor(x + 0.5) rounding is engine-portable (unlike round()); the
    output is an array<bigint> holding int8-range values — at rest it
    would be written as a 1-byte-per-dim column, 4x smaller than fp32,
    and scoring becomes exact integer math (no float-fold ulps at all)."""
    q = (
        f"transform({vec_col}, x -> CAST(greatest(-127.0D, least(127.0D, "
        f"floor(CAST(x AS DOUBLE) / _sqscale * 127.0D + 0.5D))) AS BIGINT))"
    )
    return embeddings.crossJoin(F.broadcast(scale)).withColumn(
        out_col, F.expr(q)
    ).drop("_sqscale")


def int_dot(a: str, b: str) -> Column:
    """Exact integer dot product of two quantized arrays (bit-identical on
    every engine — integer adds have no fold-order sensitivity)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def dot_fast(a: str, b: str) -> Column:
    """Arrow-vectorized double dot product (same rationale as
    cosine_fast: Catalyst HOF lambdas are interpreted per element; one
    einsum per batch is ~10x faster; last-ulp fold differences are
    collapsed by round6 at every comparison boundary)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
        mx = np.stack(x.values).astype(np.float64)
        my = np.stack(y.values).astype(np.float64)
        return pd.Series(np.einsum("ij,ij->i", mx, my))

    return _dot(F.col(a), F.col(b))
