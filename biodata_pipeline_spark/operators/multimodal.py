"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media as ``binary`` columns with a
typed metadata struct; decode/resize/frame-sample run as Arrow-batched
``mapInPandas`` so bytes never round-trip through Python row-at-a-time.

Decoders plug in through the ``ImageCodec`` seam: ``FakeImageCodec``
(default here) derives deterministic metadata from the bytes with no
codec dependency; ``PilImageCodec`` is the real integration path (usable
as-is wherever Pillow is installed — constructing it import-checks PIL so
missing deps fail at plan build, not mid-job). The Spark-side plumbing
(schema, Arrow batching, partitioning) is identical for every codec and
is what the tests exercise.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biodata_pipeline_spark.operators import vector_kernels as vk

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for tests: wrap the documents table's text bytes as fake
    image payloads so the binary-column plumbing can be exercised without
    real media files."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, checksum string, "
    "width int, height int, n_frames int"
)


class ImageCodec:
    """The codec seam: a real decoder plugs in by implementing these two
    methods — nothing on the Spark side (schema, batching, partitioning)
    changes. Instances are pickled into the Arrow workers, so implementors
    must import their heavy libraries inside the methods, not __init__."""

    def decode(self, payload: bytes) -> tuple[int, int, int]:
        """payload → (width, height, n_frames)."""
        raise NotImplementedError

    def resize(self, payload: bytes, target_w: int, target_h: int) -> bytes:
        """payload → resampled payload at (target_w, target_h)."""
        raise NotImplementedError


class FakeImageCodec(ImageCodec):
    """Deterministic stand-in (no codec dependency): geometry is a stable
    function of the byte length, resize truncates/pads to a byte budget."""

    def decode(self, payload: bytes) -> tuple[int, int, int]:
        n = len(payload)
        return n % 640 + 1, n % 480 + 1, n % 24 + 1

    def resize(self, payload: bytes, target_w: int, target_h: int) -> bytes:
        budget = target_w * target_h // 64
        return payload.ljust(budget, b"\0")[:budget]


class PilImageCodec(ImageCodec):
    """The real-codec integration path. Constructing it verifies PIL is
    importable (clear error where the dependency bites, not mid-job on an
    executor); the import inside each method keeps the instance picklable.
    Interface-tested in tests/test_grid_multimodal.py — in an environment
    with Pillow installed no further code change is needed."""

    def __init__(self) -> None:
        import importlib.util

        if importlib.util.find_spec("PIL") is None:
            raise ImportError(
                "PilImageCodec requires Pillow; use FakeImageCodec (or any "
                "ImageCodec implementation) in codec-free environments"
            )

    def decode(self, payload: bytes) -> tuple[int, int, int]:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height, getattr(im, "n_frames", 1)

    def resize(self, payload: bytes, target_w: int, target_h: int) -> bytes:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            out = io.BytesIO()
            im.resize((target_w, target_h)).save(out, format=im.format or "PNG")
            return out.getvalue()


def default_image_codec() -> ImageCodec:
    """PIL when available, deterministic fake otherwise."""
    try:
        return PilImageCodec()
    except ImportError:
        return FakeImageCodec()


def decode_image_meta(
    df: DataFrame, fake: bool = True, codec: ImageCodec | None = None
) -> DataFrame:
    """Decode pass: payload bytes → (dimensions, frame count, checksum).

    ``codec`` picks the decoder implementation (any ImageCodec); the
    legacy ``fake`` flag maps to FakeImageCodec (True) or the environment
    default (False — PilImageCodec where Pillow exists, raising a clear
    ImportError where it doesn't)."""
    chosen = codec or (FakeImageCodec() if fake else default_image_codec())

    def mapper(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        # null-in → null-out (null probe, round 6): a NULL payload is
        # a missing asset — the row stays (downstream routes it to a
        # dead-letter), its metadata is NULL. Coercing to b"" here
        # minted a fake 1x1x1 zero-byte image with a real checksum.
        geom = pdf["payload"].map(
            lambda b: chosen.decode(b) if b is not None else (None,) * 3
        )
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(
                    lambda b: len(b) if b is not None else None
                ).astype("Int64"),
                "checksum": pdf["payload"].map(
                    lambda b: hashlib.md5(b).hexdigest()[:16]
                    if b is not None
                    else None
                ),
                "width": geom.map(lambda g: g[0]).astype("Int32"),
                "height": geom.map(lambda g: g[1]).astype("Int32"),
                "n_frames": geom.map(lambda g: g[2]).astype("Int32"),
            }
        )

    return vk.arrow_map(df, mapper, DECODED_SCHEMA)


def frame_sample(decoded: DataFrame, every_nth: int = 8) -> DataFrame:
    """Frame-sampling plan: one row per sampled frame index — pure Catalyst
    (sequence + explode), no Python; the per-frame pixel decode would slot
    into a downstream mapInPandas exactly like decode_image_meta."""
    return decoded.select(
        "media_id",
        "kind",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))
        ).alias("frame_idx"),
    )


RESIZED_SCHEMA = "media_id long, width int, height int, payload binary"


def resize_images(
    df: DataFrame,
    target_w: int = 224,
    target_h: int = 224,
    fake: bool = True,
    codec: ImageCodec | None = None,
) -> DataFrame:
    """Resize pass over decoded media: (payload, geometry) → fixed-size
    payload through the same codec seam as decode_image_meta (plumbing is
    real either way: Arrow batches in, binary column out)."""
    chosen = codec or (FakeImageCodec() if fake else default_image_codec())

    def mapper(pdf: pd.DataFrame) -> pd.DataFrame:
        payloads = pdf["payload"].map(
            lambda b: chosen.resize(b or b"", target_w, target_h)
        )
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "width": target_w,
                "height": target_h,
                "payload": payloads,
            }
        )

    return vk.arrow_map(df.select("media_id", "payload"), mapper, RESIZED_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_bytes long, rms double, zero_crossings long"
)


def audio_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """Feature-extract pass for audio payloads: byte stream → (RMS energy,
    zero-crossing count). ``fake=True`` computes both over the raw bytes as
    int8 samples via NumPy (deterministic, codec-free); ``fake=False``
    marks where librosa/ffmpeg decode would plug in."""

    def mapper(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if not fake:
            raise NotImplementedError(
                "real audio decode requires librosa/ffmpeg — not available"
            )
        out = {"media_id": [], "n_bytes": [], "rms": [], "zero_crossings": []}
        for mid, b in zip(pdf["media_id"], pdf["payload"]):
            samples = np.frombuffer(b or b"\0", dtype=np.int8).astype(np.float64)
            out["media_id"].append(mid)
            out["n_bytes"].append(len(b or b""))
            out["rms"].append(float(np.sqrt(np.mean(samples**2))))
            out["zero_crossings"].append(
                int(np.count_nonzero(np.diff(np.sign(samples))))
            )
        return pd.DataFrame(out)

    return vk.arrow_map(
        df.select("media_id", "payload"), mapper, AUDIO_FEATURES_SCHEMA
    )
