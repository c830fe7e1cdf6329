"""Multimodal-pipeline queries: frame-sampling manifests, the
mapInPandas decode/feature plumbing, and thumbnail/resize planning — all
oracle-checked (the deterministic stub kernels are integer/byte
arithmetic the DuckDB oracle mirrors exactly, so even the Python
mapInPandas paths get full hash checks).

Media metadata is derived deterministically from the ``documents`` table
(media_id = doc_id, payload = utf-8 text bytes) so the family runs at
every sf without a separate fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


FRAME_STRIDE = 7
FRAME_FPS = 24
# every 3rd document doubles as a synthetic video asset; duration 5..30 s
_VIDEO_MOD = 3


def _video_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.filter(F.col("doc_id") % _VIDEO_MOD == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video/mp4").alias("mime"),
        (F.lit(5) + F.col("doc_id") % 26).cast("int").alias("duration_s"),
        F.lit(FRAME_FPS).alias("fps"),
    )


@_register(
    "frame_sample_manifest",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, (5 + doc_id % 26) * {FRAME_FPS} AS n_frames
      FROM documents WHERE doc_id % {_VIDEO_MOD} = 0
    ),
    frames AS (
      SELECT media_id, n_frames, f AS frame_idx
      FROM media, unnest(generate_series(0, n_frames - 1, {FRAME_STRIDE})) AS u(f)
    )
    SELECT media_id,
           max(n_frames)::BIGINT AS n_frames,
           count(*)::BIGINT AS n_sampled,
           min(frame_idx)::BIGINT AS first_idx,
           max(frame_idx)::BIGINT AS last_idx
    FROM frames GROUP BY media_id
    """,
)
def q_frame_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling manifest (every 7th frame of each asset's
    duration x fps): per asset, total frames, sampled count, first/last
    sampled index — the work list a multimodal decode stage fans out
    over (operators.multimodal.frame_sample_plan builds the exploded
    per-frame rows the decode UDF consumes).

    Scale: pure generate+explode of ids and indices — no shuffle before
    the per-asset aggregate, payload bytes never travel."""
    from pedri_analysis_spark.operators.multimodal import frame_sample_plan

    frames = frame_sample_plan(_video_media(spark, sf_dir), FRAME_STRIDE)
    return frames.groupBy("media_id").agg(
        F.max("n_frames").cast("bigint").alias("n_frames"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("frame_idx").cast("bigint").alias("first_idx"),
        F.max("frame_idx").cast("bigint").alias("last_idx"),
    )


@_register(
    "multimodal_feature_stub",
    """
    SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END
               AS mime,
           count(*)::BIGINT AS n_assets,
           sum(octet_length(encode(text)))::BIGINT AS total_bytes,
           -- first UTF-8 BYTE of the payload (hex pair -> int), NOT
           -- ord(): the first codepoint diverges from the byte the stub
           -- sees whenever a document ever starts multi-byte
           -- empty payload: hex('') = '' would make the cast throw; the
           -- stub kernel zero-pads (np.resize) so its f0 byte is 0
           sum(coalesce(try_cast('0x' || substr(hex(encode(text)), 1, 2) AS BIGINT), 0))::BIGINT
               AS sum_f0_byte
    FROM documents GROUP BY 1
    """,
)
def q_multimodal_feature_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode/feature path over real table bytes
    (payload = utf-8 document text; the codec kernel is the documented
    deterministic stub): per-mime feature accounting.

    The stub decode is deterministic arithmetic over the payload bytes
    (feature[0] = first_byte / 255 in float32, since every document is
    ≥ 8 bytes), so the aggregate IS oracle-expressible: recovering the
    byte via round(feature[0] * 255) makes every output column exact
    integer math the DuckDB oracle mirrors byte-for-byte — the one
    mapInPandas operator in the registry with a full hash check.
    tests/test_multimodal.py additionally pins the kernel semantics."""
    from pedri_analysis_spark.operators.multimodal import extract_features

    d = load_table(spark, "documents", sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image/png")
        .otherwise("audio/wav")
        .alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(48).alias("height"),
    )
    feats = extract_features(media, dim=8, decode_stub=True)
    # feature[0] = float32(first_byte / 255); ×255 + round recovers the
    # exact byte (float32 relative error ≪ 1/510), keeping the aggregate
    # in exact integer space for cross-engine determinism.
    first_byte = F.round(F.element_at("feature", 1) * 255).cast("bigint")
    return feats.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.sum(first_byte).alias("sum_f0_byte"),
    )


THUMB_TARGET = 128


@_register(
    "thumbnail_manifest",
    f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS mime,
             (16 + doc_id % 937)::BIGINT AS w,
             (16 + (doc_id * 7) % 613)::BIGINT AS h
      FROM documents
    ),
    r AS (
      SELECT media_id, mime, w, h, greatest(w, h) AS long_e,
             CASE WHEN greatest(w, h) <= {THUMB_TARGET} THEN w
                  WHEN w = greatest(w, h) THEN {THUMB_TARGET}
                  ELSE greatest(1, (w * {THUMB_TARGET}) // greatest(w, h)) END AS out_w,
             CASE WHEN greatest(w, h) <= {THUMB_TARGET} THEN h
                  WHEN h = greatest(w, h) THEN {THUMB_TARGET}
                  ELSE greatest(1, (h * {THUMB_TARGET}) // greatest(w, h)) END AS out_h
      FROM m
    )
    SELECT mime,
           count(*)::BIGINT AS n_assets,
           sum(w * h)::BIGINT AS in_pixels,
           sum(out_w * out_h * 3)::BIGINT AS out_bytes,
           count(*) FILTER (long_e <= {THUMB_TARGET})::BIGINT AS n_unscaled
    FROM r GROUP BY mime
    """,
)
def q_thumbnail_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail/resize planning over the synthetic media table
    (dimensions derived deterministically from doc_id): the aspect-fit
    output geometry runs through the mapInPandas resize stub
    (operators.multimodal.resize_plan — the same Arrow-batch plumbing the
    real PIL/ffmpeg resampler plugs into), then rolls up per mime the
    input pixels, output RGB24 bytes, and how many assets were already
    within the 128-px box (never upscaled). The stub's integer fit rule
    is mirrored exactly by the SQL oracle, so the Python path is
    hash-checked end-to-end."""
    from pedri_analysis_spark.operators.multimodal import resize_plan

    d = load_table(spark, "documents", sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image/png")
        .otherwise("audio/wav")
        .alias("mime"),
        (16 + F.col("doc_id") % 937).cast("int").alias("width"),
        (16 + (F.col("doc_id") * 7) % 613).cast("int").alias("height"),
    )
    thumbs = resize_plan(media, target=THUMB_TARGET, decode_stub=True)
    # input geometry rides through the stub (THUMB_SCHEMA in_w/in_h), so
    # the rollup is one scan + one shuffle — no join back to the media
    # table just to recover the dimensions it already carried
    return thumbs.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.col("in_w").cast("bigint") * F.col("in_h"))
        .cast("bigint")
        .alias("in_pixels"),
        F.sum("out_bytes").cast("bigint").alias("out_bytes"),
        F.count_if(F.greatest("in_w", "in_h") <= THUMB_TARGET)
        .cast("bigint")
        .alias("n_unscaled"),
    )


# ---------------------------------------------------------------------------
# Assembled training-sample manifest (documents ⋈ embeddings, 1:1)
# ---------------------------------------------------------------------------

MANIFEST_SHARDS = 8
MANIFEST_MIN_CHARS = 120


def _manifest_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "d.text")
    h = tx.seeded_hash64(tx.DUCK, "CAST(d.doc_id AS VARCHAR)", "manifest")
    return f"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           len({toks})::BIGINT AS n_tokens,
           floor(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))
                 * 1000000 + 0.5) / 1000000 AS emb_norm,
           ({h} % {MANIFEST_SHARDS})::BIGINT AS shard
    FROM documents d
    JOIN embeddings e ON e.vec_id = d.doc_id
    WHERE d.n_chars >= {MANIFEST_MIN_CHARS}
    """


@_register("training_sample_manifest", _manifest_oracle())
def q_training_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled multimodal training manifest: text metadata joined
    1:1 with the embedding table (doc_id = vec_id), carrying token
    count, the embedding's L2 norm (a cheap sanity feature — zero or
    exploding norms flag bad embeddings before training), and a
    deterministic hash shard assignment, for documents passing a length
    gate.  Norms fold the array in ORDER (a left fold on both engines,
    so the float sum is bit-identical) and round to 6 dp — the repo's
    embedding-similarity discipline.  Plan: one equi join on the shared
    id (bucket both tables by id at 100 TB for an Exchange-free join),
    everything else row-local column math; the manifest is what a
    training job's data loader reads, sharded for reproducible
    round-robin consumption."""
    d = load_table(spark, "documents", sf_dir)
    e = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    toks_n = F.expr(f"size({tx.tokens(tx.SPARK, 'text')})").cast("bigint")
    norm = F.expr(
        "floor(sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
        " * 1000000 + 0.5) / 1000000"
    )
    shard = (
        F.expr(tx.seeded_hash64(tx.SPARK, "CAST(doc_id AS STRING)", "manifest"))
        % MANIFEST_SHARDS
    ).cast("bigint")
    return (
        d.filter(F.col("n_chars") >= MANIFEST_MIN_CHARS)
        .join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            toks_n.alias("n_tokens"),
            norm.alias("emb_norm"),
            shard.alias("shard"),
        )
    )


WAV_N = 64


@_register(
    "wav_roundtrip_stats",
    f"""
    SELECT doc_id AS media_id,
           (64 + doc_id % 32)::BIGINT AS n_samples,
           list_sum(list_transform(generate_series(0, 64 + doc_id % 32 - 1),
                    j -> (doc_id * 7 + j * 13) % 256))::BIGINT AS sum_samples,
           list_min(list_transform(generate_series(0, 64 + doc_id % 32 - 1),
                    j -> (doc_id * 7 + j * 13) % 256))::BIGINT AS min_sample,
           list_max(list_transform(generate_series(0, 64 + doc_id % 32 - 1),
                    j -> (doc_id * 7 + j * 13) % 256))::BIGINT AS max_sample
    FROM documents WHERE doc_id < {WAV_N}
    ORDER BY media_id
    """,
)
def q_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec round trip under full oracle check: per media id
    a deterministic 8-bit PCM pattern is written through stdlib ``wave``
    into actual RIFF bytes and decoded back by the same real reader
    inside an Arrow-batched mapInPandas kernel; the oracle predicts the
    decoded sample statistics analytically from the generator formula.
    This hash-checks the REAL decode path (unlike the byte-arithmetic
    stub kernels, which mirror a fake) — any header/sample-width/
    truncation bug in the codec plumbing breaks the match.

    Scale: one narrow mapInPandas pass over a fixed {WAV_N}-id sample
    (codec audits run on samples, not the corpus); payload bytes never
    leave the executor — only the 5-integer stat row travels; no
    shuffle before the final bounded sort."""
    from pedri_analysis_spark.operators import multimodal as mm, spread

    ids = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") < WAV_N)
        .select(F.col("doc_id").alias("media_id"))
    )
    return mm.wav_roundtrip_stats(spread(ids)).orderBy("media_id")
