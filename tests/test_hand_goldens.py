"""Hand-computed fixtures (ADVICE r4): the expected_* goldens are
generated by the same oracle functions the engine UDFs execute, so the
driver-gate equality can only catch plumbing bugs. These tests break
that circle — payloads are built byte-by-byte HERE (stdlib struct/zlib
only, no oracle writers) and the expected statistics are hand-derived
literals, so a decode-math bug on either side fails loudly.

PNG case: 2×2 grayscale, pixels [[10, 20], [30, 40]]
  sum=100, n=4 → mean_pm = round(1000·100/(4·255)) = round(98.039) = 98
  spread = 40−10 = 30 → spread_pm = round(1000·30/255) = round(117.65) = 118
  features (floor(x·1000+0.5)): mean 98, spread 118, aspect 1000,
  quadrant means 10→39, 20→78, 30→118, 40→157, real-decode marker 1000.

MP4 rawg case: 2×2, 2 frames at 1 fps
  frame0 [0,51,102,153]: mean 76.5 → 1000·76.5/255 = 300; spread 153 → 600
  frame1 [255,204,153,102]: mean 178.5 → 700; spread 153 → 600
"""

import struct
import zlib


def _hand_png() -> bytes:
    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)  # 2×2 gray8
    raw = b"\x00" + bytes([10, 20]) + b"\x00" + bytes([30, 40])
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _hand_rawg_mp4() -> bytes:
    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    ftyp = box(b"ftyp", b"isom")
    frames = bytes([0, 51, 102, 153]) + bytes([255, 204, 153, 102])
    mdat = box(b"mdat", frames)
    offset = len(ftyp) + 8  # first frame byte
    mdhd = box(b"mdhd", b"\x00" * 12 + struct.pack(">II", 1, 2))
    stsd = box(
        b"stsd",
        b"\x00" * 4 + struct.pack(">I", 1)
        + struct.pack(">I", 12) + b"rawg" + struct.pack(">HH", 2, 2),
    )
    stsz = box(b"stsz", b"\x00" * 4 + struct.pack(">II", 4, 2))
    stco = box(b"stco", b"\x00" * 4 + struct.pack(">II", 1, offset))
    stbl = box(b"stbl", stsd + stsz + stco)
    mdia = box(b"mdia", mdhd + box(b"minf", stbl))
    return ftyp + mdat + box(b"moov", box(b"trak", mdia))


def test_image_stats_hand_literals():
    from typhoon_ocr_spark.oracle.images import image_stats_row

    assert image_stats_row(_hand_png()) == ("png", 2, 2, 4, 98, 118, "real")


def test_decode_features_hand_literals():
    import math

    from typhoon_ocr_spark.operators.multimodal import _decode_features

    got = [
        int(math.floor(x * 1000 + 0.5)) for x in _decode_features(_hand_png())
    ]
    assert got == [98, 118, 1000, 39, 78, 118, 157, 1000]


def test_frame_stats_hand_literals():
    from typhoon_ocr_spark.oracle.media import frame_stats_rows, sniff_media_kind

    payload = _hand_rawg_mp4()
    assert sniff_media_kind(payload) == "mp4"
    assert frame_stats_rows(payload) == [
        (0, 0, 2, 2, 300, 600),
        (1, 1, 2, 2, 700, 600),
    ]


def test_spark_surfaces_reproduce_hand_literals(spark):
    """The same literals through the Spark UDF surfaces (row_map
    plumbing included), not just the shared oracle functions."""
    from pyspark.sql import functions as F

    from typhoon_ocr_spark.operators.multimodal import (
        frame_pixel_stats,
        image_pixel_stats,
        page_image_features,
    )

    pages = spark.createDataFrame(
        [("u-hand", bytearray(_hand_png()))], "url string, html binary"
    )
    stats = image_pixel_stats(pages).collect()
    assert [tuple(r) for r in stats] == [("u-hand", "png", 2, 2, 4, 98, 118, "real")]

    feats = page_image_features(pages).select(
        F.transform(
            F.col("features"), lambda x: F.floor(x * 1000 + 0.5).cast("long")
        ).alias("pm")
    ).collect()
    assert [list(r["pm"]) for r in feats] == [[98, 118, 1000, 39, 78, 118, 157, 1000]]

    media = spark.createDataFrame(
        [(7, bytearray(_hand_rawg_mp4()))], "media_id long, payload binary"
    )
    frames = frame_pixel_stats(media).collect()
    assert sorted(tuple(r) for r in frames) == [
        (7, 0, 0, 2, 2, 300, 600),
        (7, 1, 1, 2, 2, 700, 600),
    ]
