"""Sessionization and event-time window boundary cases + multimodal decode plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_batch_processor_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    decode_media,
    fake_decode,
)
from llm_batch_processor_spark.operators.sessionize import (
    session_aggregate,
    sessionize,
    tumbling_window,
)
from tests.conftest import SF_SMOKE
from tests.conftest import run_query as _run


def _events(spark):
    rows = [
        # user 1: two sessions (gap 3000 > 1800 between e3 and e4)
        (1, 1, 1000), (2, 1, 1500), (3, 1, 2000), (4, 1, 5000), (5, 1, 5100),
        # user 2: single event
        (6, 2, 1000),
        # user 2... boundary: gap exactly 1800 stays in-session
        (7, 2, 2800),
    ]
    return spark.createDataFrame(rows, "event_id LONG, user_id LONG, epoch_s LONG")


def test_sessionize_gap_semantics(spark):
    sess = sessionize(_events(spark), gap_seconds=1800)
    got = {r["event_id"]: r["session_seq"] for r in sess.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 2
    assert got[6] == 1
    assert got[7] == 1  # gap == 1800 is NOT a new session (strict >)


def test_session_aggregate(spark):
    agg = session_aggregate(sessionize(_events(spark), gap_seconds=1800))
    rows = {(r["user_id"], r["session_seq"]): r for r in agg.collect()}
    assert rows[(1, 1)]["n_events"] == 3
    assert rows[(1, 1)]["sess_start"] == 1000 and rows[(1, 1)]["sess_end"] == 2000
    assert rows[(1, 2)]["n_events"] == 2
    assert rows[(2, 1)]["n_events"] == 2


def test_tumbling_window_alignment(spark):
    df = spark.createDataFrame(
        [(1, 1, 0, 1.0), (2, 1, 599, 1.0), (3, 2, 600, 2.5), (4, 2, 1310, 0.5)],
        "event_id LONG, user_id LONG, epoch_s LONG, value DOUBLE",
    )
    got = {r["bucket_start"]: r for r in tumbling_window(df, 600).collect()}
    assert got[0]["n_events"] == 2 and got[0]["sum_value"] == 2.0
    assert got[600]["n_events"] == 1
    assert got[1200]["n_events"] == 1 and got[1200]["n_users"] == 1


def test_multimodal_decode_roundtrip(spark):
    df = spark.createDataFrame([("m1", "abcdef"), ("m2", "xy")], "id STRING, content STRING")
    media = attach_payload(df, "id", "content")
    out = {r["media_id"]: r for r in decode_media(media).collect()}
    assert out["m1"]["n_bytes"] == 6
    assert out["m1"]["width"] == 6 % 640 + 16
    assert out["m1"]["height"] == (6 * 7) % 480 + 16
    assert out["m2"]["n_frames"] == 2 % 16 + 1
    assert out["m1"]["format"] == "fake/jpeg"


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_pil_available(), reason="Pillow installed: stub path not reachable")
def test_real_decoder_is_explicit_stub_without_pil():
    with pytest.raises(NotImplementedError, match="codec"):
        decode_image(b"\xff\xd8\xff")


@pytest.mark.skipif(not _pil_available(), reason="Pillow not installed (container has no image libs)")
def test_real_decoder_decodes_actual_image(spark):
    # conditional tier: with Pillow present, decode_image plugs into the
    # SAME decode_media plumbing and reads real dimensions
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (7, 5)).save(buf, format="PNG")
    meta = decode_image(buf.getvalue())
    assert (meta["width"], meta["height"], meta["n_frames"]) == (7, 5, 1)

    from llm_batch_processor_spark.operators.multimodal import decode_media

    df = spark.createDataFrame([("m1", bytearray(buf.getvalue()))], "id STRING, content BINARY")
    media = df.select(
        F.col("id").alias("media_id"),
        F.col("content").alias("payload"),
        F.lit("image/png").alias("format"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    out = decode_media(media, decoder=decode_image).collect()
    assert out[0]["width"] == 7 and out[0]["height"] == 5


def test_fake_decode_is_pure():
    assert fake_decode(b"abc") == fake_decode(b"abc")
    assert fake_decode(b"abc")["width"] == 3 % 640 + 16


def test_resize_and_frame_sample_and_features(spark):
    from llm_batch_processor_spark.operators.multimodal import (
        extract_features,
        fake_frames,
        resize_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        [("m1", "abcdefghij"), ("m2", "xy")], "id STRING, content STRING"
    )
    media = attach_payload(df, "id", "content")

    # 1:1 transform: payload re-shaped to exactly width*height bytes
    resized = {r["media_id"]: r for r in resize_media(media, 4, 3).collect()}
    assert len(resized["m1"]["payload"]) == 12
    assert resized["m2"]["width"] == 4 and resized["m2"]["height"] == 3

    # 1:N fan-out: one row per sampled frame, deterministic frame count
    frames = sample_frames(media, every_n=2).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    n1 = len(fake_frames(b"abcdefghij"))
    assert sorted(by_id["m1"]) == list(range(0, n1, 2))

    # featurizer: fixed-dim embedding, deterministic, similarity-ready
    feats = {r["media_id"]: r["embedding"] for r in extract_features(media, dim=8).collect()}
    assert len(feats["m1"]) == 8
    again = {r["media_id"]: r["embedding"] for r in extract_features(media, dim=8).collect()}
    assert feats["m1"] == again["m1"]  # deterministic
    assert all(abs(x) <= 1.0 for x in feats["m1"])


def test_header_dims_png_from_shipped_example():
    import base64
    import json
    from pathlib import Path

    from llm_batch_processor_spark.operators.multimodal import (
        header_decode,
        parse_image_dims,
    )

    line = json.loads(
        Path(__file__).resolve().parent.parent.joinpath(
            "examples/input_images.jsonl"
        ).read_text().splitlines()[0]
    )
    png = base64.b64decode(line["images"][0])
    assert parse_image_dims(png) == {"width": 1, "height": 1, "n_frames": 1}
    assert header_decode(png)["width"] == 1


def test_header_dims_jpeg_and_gif_and_fallback():
    from llm_batch_processor_spark.operators.multimodal import (
        fake_decode,
        header_decode,
        parse_image_dims,
    )

    # minimal JPEG: SOI + APP0 stub + SOF0 with h=480 w=640
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (4).to_bytes(2, "big") + b"\x00\x00"
        + b"\xff\xc0" + (11).to_bytes(2, "big") + b"\x08"
        + (480).to_bytes(2, "big") + (640).to_bytes(2, "big") + b"\x01\x11\x00"
    )
    assert parse_image_dims(jpeg) == {"width": 640, "height": 480, "n_frames": 1}

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 4
    assert parse_image_dims(gif) == {"width": 320, "height": 200, "n_frames": 1}

    junk = b"not-an-image-payload"
    assert parse_image_dims(junk) is None
    assert header_decode(junk) == fake_decode(junk)


def test_decode_media_with_header_decoder(spark):
    import base64

    from llm_batch_processor_spark.operators.multimodal import (
        decode_media,
        header_decode,
    )
    from pyspark.sql import functions as F

    png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAIAAACQd1PeAAAADElEQVQI12P4z8AAAAMBAQAY3Y2wAAAAAElFTkSuQmCC"
    )
    media = spark.createDataFrame(
        [("m1", png, "image/png", len(png)), ("m2", b"xyz", "fake/jpeg", 3)],
        "media_id string, payload binary, format string, n_bytes long",
    )
    rows = {
        r["media_id"]: r
        for r in decode_media(media, decoder=header_decode).collect()
    }
    assert rows["m1"]["width"] == 1 and rows["m1"]["height"] == 1
    assert rows["m2"]["width"] == 3 % 640 + 16  # fake fallback


APPLE_JPG = "/root/reference/spec/apple.jpg"


@pytest.mark.skipif(not __import__("os").path.exists(APPLE_JPG), reason="reference fixture absent")
def test_header_dims_on_reference_real_jpeg():
    # the reference ships a real camera JPEG (spec/apple.jpg, used by
    # spec/image_processing_spec.rb); the codec-free header parser must
    # read its true dimensions
    from pathlib import Path

    from llm_batch_processor_spark.operators.multimodal import parse_image_dims

    dims = parse_image_dims(Path(APPLE_JPG).read_bytes())
    assert dims is not None
    assert dims["width"] > 100 and dims["height"] > 100


@pytest.mark.skipif(
    not _pil_available() or not __import__("os").path.exists(APPLE_JPG),
    reason="Pillow or reference fixture absent",
)
def test_decode_image_agrees_with_header_parse_on_reference_fixture():
    # closes the mocked-vs-real gap: the full pixel decode and the
    # header-only parse must report identical dimensions on the shipped
    # real-world fixture
    from pathlib import Path

    from llm_batch_processor_spark.operators.multimodal import parse_image_dims

    payload = Path(APPLE_JPG).read_bytes()
    dims = parse_image_dims(payload)
    meta = decode_image(payload)
    assert (meta["width"], meta["height"]) == (dims["width"], dims["height"])


@pytest.mark.skipif(_pil_available(), reason="Pillow installed: stub path not reachable")
def test_real_resize_and_frames_are_explicit_stubs_without_pil():
    from llm_batch_processor_spark.operators.multimodal import (
        image_frames,
        resize_image,
    )

    with pytest.raises(NotImplementedError, match="codec"):
        resize_image(b"\xff\xd8\xff", 8, 8)
    with pytest.raises(NotImplementedError, match="codec"):
        image_frames(b"GIF89a")


@pytest.mark.skipif(
    not _pil_available() or not __import__("os").path.exists(APPLE_JPG),
    reason="Pillow or reference fixture absent",
)
def test_real_resize_roundtrips_reference_jpeg(spark):
    # conditional tier (reference parity: spec/image_processing_spec.rb
    # resizes the same real JPEG): resize_image plugs into the SAME
    # resize_media Arrow plumbing as fake_resize, the output stays a
    # JPEG, and the codec-free header parser reads the NEW dims off it
    from pathlib import Path

    from llm_batch_processor_spark.operators.multimodal import (
        parse_image_dims,
        resize_image,
        resize_media,
    )

    payload = Path(APPLE_JPG).read_bytes()
    small = resize_image(payload, 32, 24)
    assert parse_image_dims(small) == {"width": 32, "height": 24, "n_frames": 1}

    df = spark.createDataFrame(
        [("apple", bytearray(payload))], "id STRING, content BINARY"
    )
    media = df.select(
        F.col("id").alias("media_id"),
        F.col("content").alias("payload"),
        F.lit("image/jpeg").alias("format"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    out = resize_media(media, 32, 24, resizer=resize_image).collect()
    assert parse_image_dims(bytes(out[0]["payload"]))["width"] == 32


@pytest.mark.skipif(not _pil_available(), reason="Pillow not installed (container has no image libs)")
def test_real_frames_demux_plugs_into_sample_frames(spark):
    # conditional tier: a 3-frame GIF demuxes through the SAME
    # sample_frames 1:N fan-out as fake_frames, each frame a standalone
    # PNG whose header parses
    import io

    from PIL import Image

    from llm_batch_processor_spark.operators.multimodal import (
        image_frames,
        parse_image_dims,
        sample_frames,
    )

    frames = [Image.new("P", (4, 4), color=i) for i in range(3)]
    buf = io.BytesIO()
    frames[0].save(buf, format="GIF", save_all=True, append_images=frames[1:])
    payload = buf.getvalue()
    assert len(image_frames(payload)) == 3

    df = spark.createDataFrame(
        [("g1", bytearray(payload))], "id STRING, content BINARY"
    )
    media = df.select(
        F.col("id").alias("media_id"),
        F.col("content").alias("payload"),
        F.lit("image/gif").alias("format"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )
    out = sample_frames(media, every_n=1, framer=image_frames).collect()
    assert len(out) == 3
    assert all(
        parse_image_dims(bytes(r["frame"])) == {"width": 4, "height": 4, "n_frames": 1}
        for r in out
    )


def test_sliding_distinct_matches_bruteforce_window(spark):
    # contribute-then-count must equal the naive "distinct users in
    # [d-6, d]" definition computed by an explicit self-join
    got = {
        r["day_end"]: r["u7"]
        for r in _run(spark, "sliding_distinct_users").collect()
    }
    from llm_batch_processor_spark.tables import load

    ud = (
        load(spark, SF_SMOKE, "events")
        .select("user_id", F.expr("ts_ns DIV 1000000000 DIV 86400").alias("d"))
        .distinct()
    )
    days = ud.select(F.col("d").alias("w")).distinct()
    brute = {
        r["w"]: r["u"]
        for r in days.join(
            ud, (ud.d <= days.w) & (ud.d >= days.w - 6)
        )
        .groupBy("w")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    # brute only covers window-ends that are themselves active days;
    # the fan-out also emits trailing ends — brute must be a sub-map
    assert brute and all(got[w] == u for w, u in brute.items())
