"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at scale: the payload is a
``binary`` column (or a reference into object storage), metadata is a
typed struct, and decode/feature steps are Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python row
objects.

The image/audio codec libraries are not in this container, so the
decode kernels are STUBBED behind ``NotImplementedError`` with a
deterministic fake used for tests/oracle checks — the Spark-side
plumbing (schema, batching, partition flow) is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("format", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def attach_payload(
    df: DataFrame, id_col: str, content_col: str, fmt: str = "fake/jpeg"
) -> DataFrame:
    """Wrap any string column as an opaque media payload (test stand-in
    for reading real image bytes; real ingestion: ``spark.read.format(
    'binaryFile')`` which yields the same (path, content binary) shape)."""
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.col(content_col).cast("binary").alias("payload"),
        F.lit(fmt).alias("format"),
        F.octet_length(F.col(content_col)).cast("long").alias("n_bytes"),
    )


def decode_image(payload: bytes) -> dict:
    """Real image decode, import-guarded: uses Pillow when installed
    (returns the same dict shape as :func:`fake_decode` — width/height
    from the codec, n_frames for multi-frame formats like GIF/TIFF),
    raises ``NotImplementedError`` otherwise. This container ships no
    image libs, so the engine's oracle checks run on ``fake_decode``;
    deployments with Pillow pass ``decoder=decode_image`` to
    :func:`decode_media` unchanged — the plumbing is identical.
    Reference parity: real-JPEG handling in spec/image_processing_spec.rb.
    """
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires a codec library (pip install Pillow); "
            "use fake_decode for deterministic tests"
        ) from e
    with Image.open(io.BytesIO(payload)) as im:
        return {
            "width": int(im.width),
            "height": int(im.height),
            "n_frames": int(getattr(im, "n_frames", 1)),
        }


def parse_image_dims(payload: bytes) -> dict | None:
    """Image dimensions from container HEADERS — no codec needed.

    PNG (IHDR), JPEG (SOFn frame header), and GIF (logical screen
    descriptor) all carry width/height in their first bytes; parsing
    them is pure byte arithmetic, so this runs in any environment
    (the metadata pass a 100 TB multimodal ingest performs to build
    typed columns BEFORE any expensive pixel decode — most corpus
    filters only need dims/aspect/byte-size). Returns None when the
    payload is not a recognized container (caller falls back).
    Pixel DECODE still requires a codec (:func:`decode_image`,
    Pillow-guarded); this parses headers only.
    """
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        return {
            "width": int.from_bytes(payload[16:20], "big"),
            "height": int.from_bytes(payload[20:24], "big"),
            "n_frames": 1,
        }
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return {
            "width": int.from_bytes(payload[6:8], "little"),
            "height": int.from_bytes(payload[8:10], "little"),
            # frame count needs a full block walk; header alone says 1+
            "n_frames": 1,
        }
    if payload[:2] == b"\xff\xd8":  # JPEG SOI; walk segments to SOFn
        i, n = 2, len(payload)
        while i + 4 <= n and payload[i] == 0xFF:
            marker = payload[i + 1]
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            # SOF0-15 except DHT(C4)/JPG(C8)/DAC(CC) carry dimensions
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= n:
                    return {
                        "height": int.from_bytes(payload[i + 5 : i + 7], "big"),
                        "width": int.from_bytes(payload[i + 7 : i + 9], "big"),
                        "n_frames": 1,
                    }
                return None
            i += 2 + seg_len
        return None
    return None


def header_decode(payload: bytes) -> dict:
    """Header-parse real containers, deterministic fake otherwise —
    the default a mixed corpus wants: genuine dims for PNG/JPEG/GIF
    payloads, stable synthetic metadata for anything else."""
    return parse_image_dims(payload) or fake_decode(payload)


def fake_decode(payload: bytes) -> dict:
    """Deterministic fake decode: pure arithmetic on payload length,
    so oracle SQL can replicate it exactly."""
    n = len(payload)
    return {
        "width": n % 640 + 16,
        "height": (n * 7) % 480 + 16,
        "n_frames": n % 16 + 1,
    }


def decode_media(
    media: DataFrame, decoder: Callable[[bytes], dict] = fake_decode
) -> DataFrame:
    """Arrow-batched decode via mapInPandas: one Python hop per batch,
    bytes stay in Arrow buffers until the decoder touches them."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload = undecodable: the row survives with null
            # metadata (identity preserved for joins/audits) instead
            # of crashing the worker (null-input sweep)
            meta = [None if p is None else decoder(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "format": pdf["format"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [m["width"] if m else None for m in meta],
                    "height": [m["height"] if m else None for m in meta],
                    "n_frames": [m["n_frames"] if m else None for m in meta],
                }
            )
            yield out

    return media.mapInPandas(decode_batches, DECODED_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("payload", BinaryType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Real image resize, import-guarded: Pillow decode -> LANCZOS
    scale -> re-encode in the SOURCE container format (so a JPEG stays
    a JPEG and :func:`parse_image_dims` reads the new dims off the
    output header). Same deployment contract as :func:`decode_image`:
    environments with Pillow pass ``resizer=resize_image`` to
    :func:`resize_media` unchanged — identical Arrow plumbing, real
    pixels. Raises ``NotImplementedError`` when no codec library is
    installed (this container), keeping :func:`fake_resize` as the
    deterministic oracle path.
    Reference parity: real-JPEG processing in spec/image_processing_spec.rb:29-40.
    """
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as e:
        raise NotImplementedError(
            "image resize requires a codec library (pip install Pillow); "
            "use fake_resize for deterministic tests"
        ) from e
    with Image.open(io.BytesIO(payload)) as im:
        fmt = im.format or "PNG"
        out = im.resize((width, height), Image.LANCZOS)
        buf = io.BytesIO()
        # JPEG cannot encode alpha; drop it the way a transcode stage would
        if fmt == "JPEG" and out.mode not in ("RGB", "L"):
            out = out.convert("RGB")
        out.save(buf, format=fmt)
        return buf.getvalue()


def image_frames(payload: bytes) -> list[bytes]:
    """Real multi-frame demux (GIF/TIFF), import-guarded: each frame
    re-encoded PNG so downstream per-frame decoders see a standalone
    container. Single-frame formats yield one frame — same contract as
    :func:`fake_frames`, real codec. ``NotImplementedError`` without
    Pillow (this container)."""
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError as e:
        raise NotImplementedError(
            "frame demux requires a codec library (pip install Pillow); "
            "use fake_frames for deterministic tests"
        ) from e
    frames: list[bytes] = []
    with Image.open(io.BytesIO(payload)) as im:
        for idx in range(int(getattr(im, "n_frames", 1))):
            im.seek(idx)
            buf = io.BytesIO()
            im.convert("RGBA").save(buf, format="PNG")
            frames.append(buf.getvalue())
    return frames


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resize: truncate/cycle payload to w*h bytes
    (a real kernel decodes, scales, re-encodes — codec library needed)."""
    target = width * height
    if not payload:
        return b"\x00" * target
    reps = target // len(payload) + 1
    return (payload * reps)[:target]


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] = fake_resize,
) -> DataFrame:
    """1:1 payload transform stage (the resize/transcode shape).

    Partition flow: bytes in, bytes out, one Arrow hop — no shuffle; at
    100 TB this pipelines with the scan and any downstream inference."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [resizer(p, width, height) for p in pdf["payload"]],
                    "format": pdf["format"],
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def fake_frames(payload: bytes) -> list[bytes]:
    """Deterministic fake framing: n_frames slices of the payload (the
    real kernel demuxes a video container — codec library needed)."""
    n = fake_decode(payload)["n_frames"]
    if not payload:
        return [b""] * n
    step = max(1, len(payload) // n)
    return [payload[i * step : (i + 1) * step] for i in range(n)]


def sample_frames(
    media: DataFrame,
    every_n: int = 1,
    framer: Callable[[bytes], list[bytes]] = fake_frames,
) -> DataFrame:
    """1:N fan-out stage (video -> sampled frames), the batch shape a
    frame sampler needs: each input row yields multiple output rows
    inside the same Arrow batch, no explode of materialized arrays."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # undecodable -> zero frames
                    continue
                for i, fr in enumerate(framer(payload)):
                    if i % every_n == 0:
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(fr)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(run, FRAME_SCHEMA)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Payload -> embedding stage (the CLIP/audio-embedding shape).

    Deterministic fake featurizer: a rolling byte histogram projected to
    ``dim`` floats in [-1, 1] — real models are inference services or
    local weights (stubbed; not in this container). Output feeds the
    similarity operators directly (array<float> embedding column)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                a = np.frombuffer(payload or b"\x00", dtype=np.uint8)
                hist = np.bincount(a % dim, weights=a.astype(np.float64), minlength=dim)
                denom = max(float(np.abs(hist).max()), 1.0)
                feats.append((hist[:dim] / denom).astype(np.float32))
            yield pd.DataFrame({"media_id": pdf["media_id"], "embedding": feats})

    return media.mapInPandas(run, "media_id string, embedding array<float>")
