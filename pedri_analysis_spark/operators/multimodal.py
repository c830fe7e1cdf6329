"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for a 100 TB media corpus: media lives in parquet as an opaque
``binary`` column (or an object-store URI for large blobs) next to typed
metadata (mime, width/height, duration, sample rate). Decode / feature
extraction runs as ``mapInPandas`` — per-partition Arrow batches into a
Python worker holding the codec, so the expensive decoder initializes once
per partition, not once per row, and batches amortize the transfer.

Two kernels per operator, selected by ``decode_stub``:

- ``decode_stub=True`` (the oracle-checked default): deterministic fake
  features derived from the payload bytes — exercises the full Spark-side
  plumbing (schema, Arrow batching, partitioning) with zero codec deps.
- ``decode_stub=False``: REAL decode. WAV audio decodes via the stdlib
  ``wave`` module (always available); image decode/resample requires
  Pillow and is import-gated exactly like ``viz._matplotlib`` — absent
  codec raises a pointed ImportError naming the stub fallback, present
  codec decodes for real. The Spark-side plumbing is identical either way.
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table (payload = repeated id bytes) for
    exercising the plumbing without codec libraries."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.when(F.col("id") % 2 == 0, "image/png").otherwise("audio/wav").alias("mime"),
        F.encode(
            F.concat(F.lit("payload-"), F.col("id").cast("string")), "utf-8"
        ).alias("payload"),
        F.lit(64).alias("width"),
        F.lit(48).alias("height"),
    )


def _pil_image():
    """Import gate for Pillow, same idiom as ``viz._matplotlib``."""
    try:
        from PIL import Image

        return Image
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise ImportError(
            "Pillow is not installed in this environment; real image decode "
            "is unavailable — run with decode_stub=True (the deterministic "
            "byte-derived stub) or install Pillow"
        ) from e


def _image_features(payload: bytes, dim: int, image_mod) -> "np.ndarray":
    """Real image feature: grayscale intensity histogram, ``dim`` equal
    bins over [0, 256), normalized by pixel count (sums to 1)."""
    import numpy as np

    img = image_mod.open(io.BytesIO(bytes(payload))).convert("L")
    px = np.asarray(img, dtype=np.uint8).ravel()
    hist, _ = np.histogram(px, bins=dim, range=(0, 256))
    return (hist / max(px.size, 1)).astype(np.float32)


def _wav_features(payload: bytes, dim: int) -> "np.ndarray":
    """Real audio feature: per-chunk RMS energy, ``dim`` equal time chunks,
    normalized to [0, 1] by full scale. Pure stdlib ``wave`` + numpy — no
    external codec needed for RIFF/WAV."""
    import numpy as np

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if sw == 1:  # unsigned 8-bit PCM
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
        scale = 128.0
    elif sw == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        scale = 32768.0
    elif sw == 4:
        samples = np.frombuffer(raw, dtype="<i4").astype(np.float64)
        scale = 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width: {sw} bytes")
    if samples.size == 0:
        return np.zeros(dim, dtype=np.float32)
    rms = np.array(
        [np.sqrt(np.mean(c * c)) if c.size else 0.0 for c in np.array_split(samples, dim)]
    )
    return (rms / scale).astype(np.float32)


def extract_features(
    media: DataFrame, dim: int = 8, decode_stub: bool = True
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batch iterator).

    Real kernel (``decode_stub=False``): ``image/*`` → Pillow grayscale
    histogram (import-gated, see :func:`_pil_image`); ``audio/wav`` →
    stdlib-``wave`` RMS energy profile; any other mime raises ValueError
    (decode policy must be explicit, not silently stubbed).

    Scale: one Python worker per partition; the decoder (or model) loads
    once per partition in the closure; batches stream through Arrow. The
    output schema is fixed (FEATURE_SCHEMA) so downstream similarity /
    dedup operators compose directly."""
    import numpy as np
    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition init happens HERE — once, not per row; the image
        # codec import is deferred to the first image row so audio-only
        # partitions never require Pillow at all
        image_mod = None
        for pdf in it:
            feats = []
            for mime, payload in zip(pdf["mime"], pdf["payload"]):
                if decode_stub:
                    b = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
                    # deterministic fake embedding: resampled byte histogram
                    feats.append(np.resize(b, dim) / 255.0)
                elif mime.startswith("image/"):
                    if image_mod is None:
                        image_mod = _pil_image()
                    feats.append(_image_features(payload, dim, image_mod))
                elif mime in ("audio/wav", "audio/x-wav"):
                    feats.append(_wav_features(payload, dim))
                else:
                    raise ValueError(
                        f"no real decoder for mime {mime!r} (supported: "
                        "image/* via Pillow, audio/wav via stdlib wave) — "
                        "run with decode_stub=True for plumbing tests"
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def frame_sample_plan(
    media: DataFrame,
    stride: int = 10,
    duration_col: str = "duration_s",
    fps_col: str = "fps",
) -> DataFrame:
    """Metadata-driven video frame sampling: one row per sampled frame
    index (0, stride, 2*stride, ... < duration*fps), exploded Spark-side
    so the decode UDF receives (media, frame_idx) pairs — the decode
    itself is stubbed (see extract_features).

    Scale: the explode multiplies rows by duration*fps/stride but carries
    only ids + indices (payload bytes are joined back per-batch inside the
    decode stage, or fetched by URI), so the frame manifest is a narrow
    shuffle-free projection."""
    n_frames = (F.col(duration_col) * F.col(fps_col)).cast("bigint")
    return (
        media.filter(F.col("mime").startswith("video/"))
        .withColumn("n_frames", n_frames)
        # zero-length assets have no frames to sample; Spark's sequence()
        # raises on (0, -1) boundaries where the SQL generate_series would
        # return empty, so they are filtered, not exploded
        .filter(F.col("n_frames") > 0)
        .select(
            "media_id",
            "n_frames",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(stride))
            ).alias("frame_idx"),
        )
    )


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("in_w", T.IntegerType()),
        T.StructField("in_h", T.IntegerType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("out_bytes", T.LongType()),
    ]
)


def _fit(w: int, h: int, target: int) -> tuple[int, int]:
    """The aspect-fit rule as scalar integer arithmetic (shared by the
    real kernel; the stub applies the same formula vectorized)."""
    long_e = max(w, h)
    if long_e <= target:
        return w, h
    return (
        target if w == long_e else max(w * target // long_e, 1),
        target if h == long_e else max(h * target // long_e, 1),
    )


def resize_plan(
    media: DataFrame, target: int = 128, decode_stub: bool = True
) -> DataFrame:
    """Aspect-fit thumbnail resize via mapInPandas (same per-partition
    codec plumbing as extract_features). The stub computes the EXACT
    output geometry from the metadata columns; the real kernel
    (``decode_stub=False``, Pillow import-gated) decodes each payload,
    applies the same fit rule to the DECODED dimensions, performs the
    actual pixel resample, and reports the true RGB24 buffer size.

    Fit rule (pure integer arithmetic, oracle-mirrorable): never
    upscale; otherwise the longer edge becomes ``target`` and the short
    edge scales as ``floor(short * target / long)`` (≥ 1). ``out_bytes``
    is the RGB24 buffer size out_w*out_h*3 — the number a downstream
    storage planner budgets with.

    Scale: in stub mode only (media_id, mime, width, height) travel —
    payload bytes stay at rest until the real decode stage; batches
    amortize Arrow transfer and the codec init happens once per
    partition."""
    import pandas as pd

    def real_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        image_mod = _pil_image()  # once per partition
        for pdf in it:
            rows = {k: [] for k in ("in_w", "in_h", "out_w", "out_h", "out_bytes")}
            for payload in pdf["payload"]:
                img = image_mod.open(io.BytesIO(bytes(payload))).convert("RGB")
                w, h = img.size
                ow, oh = _fit(w, h, target)
                thumb = img.resize((ow, oh))
                rows["in_w"].append(w)
                rows["in_h"].append(h)
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
                rows["out_bytes"].append(len(thumb.tobytes()))  # == ow*oh*3
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "in_w": pd.Series(rows["in_w"], dtype="int32"),
                    "in_h": pd.Series(rows["in_h"], dtype="int32"),
                    "out_w": pd.Series(rows["out_w"], dtype="int32"),
                    "out_h": pd.Series(rows["out_h"], dtype="int32"),
                    "out_bytes": pd.Series(rows["out_bytes"], dtype="int64"),
                }
            )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            long_e = w.where(w >= h, h)
            needs = long_e > target
            out_w = w.where(
                ~needs,
                (w * target // long_e).where(w < long_e, target).clip(lower=1),
            )
            out_h = h.where(
                ~needs,
                (h * target // long_e).where(h < long_e, target).clip(lower=1),
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    # input geometry rides along so downstream accounting
                    # needs no second scan/join back to the media table
                    "in_w": w.astype("int32"),
                    "in_h": h.astype("int32"),
                    "out_w": out_w.astype("int32"),
                    "out_h": out_h.astype("int32"),
                    "out_bytes": (out_w * out_h * 3).astype("int64"),
                }
            )

    return media.mapInPandas(batches if decode_stub else real_batches, THUMB_SCHEMA)


WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_samples", T.LongType()),
        T.StructField("min_sample", T.LongType()),
        T.StructField("max_sample", T.LongType()),
    ]
)


def wav_roundtrip_stats(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """REAL-codec round-trip proof: per id, synthesize a deterministic
    8-bit PCM pattern (sample j = (id*7 + j*13) mod 256, length
    64 + id mod 32), write it through stdlib ``wave`` into actual RIFF
    bytes, decode those bytes back with the same real reader, and emit
    integer sample statistics.

    Because the pattern is pure integer arithmetic, an analytic SQL
    mirror can predict the decoded stats exactly — so the REAL encode →
    decode path (not the stub) gets a full hash-checked oracle. An
    encoder/decoder bug of any kind (header math, sample width,
    truncation) breaks the match.

    Scale: Arrow-batched mapInPandas, one pass, no shuffle; per-row
    payloads never leave the executor — only the 5-integer stat row
    travels."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in it:
            out = []
            for mid in pdf[id_col].astype("int64"):
                mid = int(mid)
                n = 64 + mid % 32
                pcm = bytes((mid * 7 + j * 13) % 256 for j in range(n))
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(1)
                    w.setframerate(8000)
                    w.writeframes(pcm)
                with wave.open(io.BytesIO(buf.getvalue()), "rb") as r:
                    raw = r.readframes(r.getnframes())
                arr = np.frombuffer(raw, dtype=np.uint8)
                out.append(
                    (mid, int(arr.size), int(arr.sum()), int(arr.min()),
                     int(arr.max()))
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in WAV_STATS_SCHEMA.fields]
            )

    return ids.select(F.col(id_col)).mapInPandas(batches, WAV_STATS_SCHEMA)
