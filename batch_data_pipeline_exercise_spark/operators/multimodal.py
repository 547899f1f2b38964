"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow-batched ``mapInPandas``
transforms, partitioning discipline. The codec step is dual: a real PIL
decoder behind an optional-import gate (``codec="pil"``/``"auto"``)
and a deterministic fake (``codec="stub"``, the default) so
oracle-checked results never depend on which codec libraries a cluster
image ships. The UDF signature, batch shape, and output schema are
identical either way.

Scale notes: media blobs make rows wide — transforms here preserve
partitioning (no shuffle), and callers should keep blob tables
partitioned by a content-hash prefix so skewed media sizes spread evenly.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Optional real codec: import when present, keep the deterministic stub
# as the oracle-checked default otherwise.
try:
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # container ships no PIL; stub stays the default
    _PILImage = None
    HAS_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("phash", T.StringType()),
    ]
)


def attach_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap metadata derivable without decoding: byte length + content
    hash (dedup key for media blobs) — JVM-side, no UDF. sha256 rather
    than sha1: same hex in every engine this repo oracles against."""
    return df.withColumn("n_bytes", F.length(F.col(content_col)).cast("int")).withColumn(
        "content_sha256", F.sha2(F.col(content_col), 256)
    )


def _decode_image_stub(content: bytes) -> tuple[int, int, float, str]:
    """Deterministic fake decoder: stable pseudo-dimensions/luma/phash
    from the content digest. Raises on None to mirror codec failure
    behavior. Stays the default so oracle-checked results never depend
    on which codec libraries a given cluster image happens to ship."""
    if content is None:
        raise ValueError("cannot decode NULL image content")
    d = hashlib.sha256(content).digest()
    width = 64 + d[0] % 192
    height = 64 + d[1] % 192
    mean_luma = d[2] / 255.0
    phash = d[3:11].hex()
    return width, height, mean_luma, phash


def _decode_image_pil(content: bytes) -> tuple[int, int, float, str]:
    """Real decoder, reachable only when PIL imports: grayscale decode,
    mean luma in [0,1], and the classic 8x8 average-hash (aHash) as a
    64-bit hex phash — resize to 8x8, threshold each pixel against the
    block mean, pack row-major."""
    if content is None:
        raise ValueError("cannot decode NULL image content")
    if not HAS_PIL:
        raise NotImplementedError("real image decoding requires PIL (pip install pillow)")
    img = _PILImage.open(io.BytesIO(content)).convert("L")
    width, height = img.size
    px = list(img.getdata())
    mean_luma = (sum(px) / len(px)) / 255.0 if px else 0.0
    small = list(img.resize((8, 8), _PILImage.Resampling.BILINEAR).getdata())
    avg = sum(small) / 64.0
    bits = 0
    for p in small:
        bits = (bits << 1) | (1 if p >= avg else 0)
    return width, height, mean_luma, f"{bits:016x}"


def extract_image_features(
    df: DataFrame, id_col: str = "media_id", content_col: str = "content", codec: str = "stub"
) -> DataFrame:
    """Arrow-batched feature extraction over ``mapInPandas`` — the
    canonical shape for codec work: per-batch Python cost amortized over
    thousands of rows, schema declared up front, partitioning preserved.

    ``codec``: ``"stub"`` (default — deterministic, oracle-checked),
    ``"pil"`` (real decode; raises NotImplementedError only when PIL is
    genuinely absent), or ``"auto"`` (pil when importable, else stub).
    """
    if codec == "auto":
        codec = "pil" if HAS_PIL else "stub"
    if codec not in ("stub", "pil"):
        raise ValueError(f"unknown codec {codec!r}: expected stub | pil | auto")
    decode = _decode_image_pil if codec == "pil" else _decode_image_stub
    if codec == "pil" and not HAS_PIL:
        raise NotImplementedError("real image decoding requires PIL (pip install pillow)")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                w, h, luma, ph = decode(bytes(content))
                rows.append((mid, w, h, len(content), luma, ph))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_bytes", "mean_luma", "phash"]
            )

    return df.select(id_col, content_col).mapInPandas(batches, schema=IMAGE_FEATURES_SCHEMA)


def sample_video_frames(df: DataFrame, every_ms: int, id_col: str = "media_id") -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled timestamp,
    generated JVM-side with sequence/explode; frame decode itself is the
    stubbed step. Input needs ``duration_ms``."""
    return df.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))).alias("frame_ts_ms"),
    )
