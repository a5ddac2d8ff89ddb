"""Multimodal column operators: image/audio/video as opaque BINARY +
typed metadata.

Image DECODE is real for PNG/GIF/baseline-JPEG/WebP-lossless
(pure-stdlib codecs in oracle/images.py); audio metadata + PCM stats
are real for WAV and video duration metadata for MP4 (oracle/media.py,
see media_meta); lossy WebP, compressed-audio and video FRAME decode
remain clearly-marked stubs (VP8/AAC/H.264 are out of scope
in-sandbox) — the Spark-side plumbing around all of it is real and
tested: schemas,
the row_map batch shape (one mapInArrow pass per operator, ids kept
as Arrow takes), Arrow-safe binary handling, and the native
dimension/frame arithmetic (which follows the reference's resize rule,
/root/reference/packages/typhoon_ocr/typhoon_ocr/ocr_utils.py:467-494,
and render-resolution formula, ocr_utils.py:138).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import row_map, sniff_kind_col
from ..plans.spread import maybe_spread

FEATURE_DIM = 8


def resize_dims(width: Column, height: Column, max_size: int = 2048):
    """The reference's conditional resize arithmetic (ocr_utils.py:467-494):
    only when a side exceeds 300 px, scale the LONGEST side to max_size
    (note the reference's asymmetric int() truncation). Pure column
    expressions — runs in whole-stage codegen.
    Returns (new_width, new_height) columns."""
    needs = (width > 300) | (height > 300)
    wide = width >= height
    new_w = (
        F.when(~needs, width)
        .when(wide, F.lit(max_size))
        .otherwise((width * (F.lit(max_size) / height)).cast("long"))
    )
    new_h = (
        F.when(~needs, height)
        .when(wide, (height * (F.lit(max_size) / width)).cast("long"))
        .otherwise(F.lit(max_size))
    )
    return new_w, new_h


def render_dpi(width: Column, height: Column, target_longest: int = 2048) -> Column:
    """The reference's raster-resolution formula
    ``target * 72 / longest_dim`` (ocr_utils.py:138)."""
    return F.lit(target_longest) * 72.0 / F.greatest(width, height)


def frame_sample_indices(duration_ms: Column, fps: float = 1.0) -> Column:
    """Frame-sampling plan for video rows: one frame index per 1/fps
    seconds, computed natively (sequence), capped at 64 frames."""
    n = F.least((duration_ms / F.lit(1000.0 / fps)).cast("long"), F.lit(64))
    return F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<bigint>")
    )


def _fake_decode_features(payload: bytes) -> list:
    """DETERMINISTIC FAKE for payloads with no in-sandbox decoder
    (audio/video/lossy-WebP/plain bytes): FEATURE_DIM pseudo-statistics from
    sha256 of the payload. Swap for a real decoder (PIL/ffmpeg) by
    replacing this one function; the Spark plumbing is unchanged."""
    digest = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def _decode_features(payload: bytes) -> list:
    """REAL features when the payload decodes (PNG/GIF/baseline JPEG/
    WebP-lossless — oracle/images codecs): [mean, spread, aspect, 4 quadrant means,
    1.0-marker], all in [0, 1]. Undecodable payloads fall back to the
    clearly-marked sha-derived fake (last element 0-ish, marker absent)."""
    from ..oracle.images import ImageError, decode_image

    try:
        w, h, ch, px = decode_image(payload)
    except (ImageError, NotImplementedError):
        return _fake_decode_features(payload)
    n = len(px)
    if not n or not w or not h:
        return _fake_decode_features(payload)
    mean = sum(px) / n / 255.0
    spread = (max(px) - min(px)) / 255.0
    aspect = min(w, h) / max(w, h)
    quads = []
    for qy in (0, 1):
        for qx in (0, 1):
            x0, x1 = (w // 2, w) if qx else (0, w // 2)
            total = cnt = 0
            # row-slice sums: C-speed, not a per-pixel Python loop
            for y in range(qy * (h // 2), h if qy else h // 2):
                row = y * w * ch
                total += sum(px[row + x0 * ch : row + x1 * ch : ch])
                cnt += x1 - x0
            quads.append(total / cnt / 255.0 if cnt else 0.0)
    return [mean, spread, aspect, *quads, 1.0]


def decode_media(payload: bytes, fmt: str):
    """The real decode hook. PNG (stdlib zlib + row unfiltering), GIF
    (full LZW + palette), baseline JPEG (Huffman + dequant + IDCT) and
    lossless WebP (VP8L prefix codes + LZ77) decode for real —
    oracle/images. Lossy WebP needs a VP8 entropy codec (video) and
    raises ImageError from the decoder; audio/video formats stay a
    loud stub — swap in PIL/ffmpeg here on a real deployment, the
    Spark plumbing is unchanged."""
    from ..oracle.images import decode_image, sniff_image_kind

    kind = fmt if fmt in ("png", "jpeg", "gif", "webp") else sniff_image_kind(payload)
    if kind in ("png", "gif", "jpeg", "webp"):
        return decode_image(payload)
    raise NotImplementedError(
        f"decoding {kind or 'unknown'} requires PIL/ffmpeg; PNG/GIF/JPEG/"
        "WebP-lossless are the in-sandbox real-decode paths"
    )


def _raster_payloads(pages: DataFrame) -> DataFrame:
    """(url, html) of the raster rows of a pages corpus — single pruned
    scan, kind-routed natively, spread by the gated adaptive spread."""
    image_rows = pages.withColumn("kind", sniff_kind_col("html")).filter(
        F.col("kind") == "image"
    )
    return maybe_spread(image_rows.select("url", "html"), "url")


def _media_payloads(media: DataFrame) -> DataFrame:
    """(media_id, payload), spread by the gated adaptive spread."""
    return maybe_spread(media.select("media_id", "payload"), "media_id")


FEATURE_FIELDS = "payload_sha string, n_bytes long, features array<double>"


def _feature_rows(payload) -> list:
    payload = payload or b""
    return [
        (hashlib.sha256(payload).hexdigest(), len(payload), _decode_features(payload))
    ]


def extract_media_features(media: DataFrame) -> DataFrame:
    """Feature extraction over opaque media payloads, one row_map pass:
    only the needed columns enter it, output conforms to
    FEATURE_FIELDS. Feature values are REAL pixel statistics for
    payloads the stdlib codecs decode (PNG/GIF/baseline JPEG/
    WebP-lossless) and a marked sha-derived fake otherwise
    (audio/video/lossy-WebP need PIL/ffmpeg).
    Output: (media_id, payload_sha, n_bytes, features[8])."""
    return row_map(_media_payloads(media), _feature_rows, FEATURE_FIELDS)


def page_image_features(pages: DataFrame) -> DataFrame:
    """Feature extraction over the RASTER rows of a pages corpus — the
    real-decode twin of extract_media_features: every payload here is
    an actual PNG/GIF/JPEG/WebP, so the vectors are pixel statistics
    (mean, spread, aspect, quadrant means, 1.0 marker) from the stdlib
    codecs, not the sha fallback; only header-only WebP shells (lossy
    VP8) fall back, visibly (marker absent). Same row_map shape:
    only url+payload enter the pass.
    Output: (url, payload_sha, n_bytes, features[8])."""
    return row_map(_raster_payloads(pages), _feature_rows, FEATURE_FIELDS)


def image_pixel_stats(pages: DataFrame) -> DataFrame:
    """REAL decode over the raster rows of a pages corpus: PNG, GIF,
    baseline JPEG and lossless-WebP payloads decode to pixels (pure
    stdlib: zlib inflate+unfilter / LZW+palette / Huffman+IDCT / VP8L
    prefix codes) and report deterministic pixel statistics; lossy
    WebP reports header dimensions with decoded='header-only';
    payloads whose body won't decode become decoded='decode-error'
    rows (never task failures).
    Row semantics live in oracle/images.image_stats_row — the single
    function the fixture golden also runs. row_map streams Arrow
    batches — bounded memory at any corpus size; only url+payload enter
    the pass. n_samples is pixels*channels; mean_pm/spread_pm are
    per-mille of full scale; decoded is 'real' | 'header-only' |
    'decode-error'."""
    from ..oracle.images import image_stats_row

    def rows(payload):
        stats = image_stats_row(payload or b"")
        return [] if stats is None else [stats]

    return row_map(
        _raster_payloads(pages),
        rows,
        "img_kind string, width long, height long, n_samples long, "
        "mean_pm long, spread_pm long, decoded string",
    )


def resize_images(pages: DataFrame, max_size: int = 2048) -> DataFrame:
    """REAL pixel resize over the raster rows of a pages corpus — the
    reference's resize_if_needed (ocr_utils.py:467-494) with actual
    resampling: decode (PNG/GIF/baseline JPEG/WebP-lossless), nearest-neighbor scale
    of the longest side to ``max_size`` when a side exceeds 300 px,
    re-encode as PNG. Images under the threshold keep their original
    payload (resized_png NULL), undecodable payloads become error rows
    (error NULL on success; never task failures). row_map streams Arrow
    batches; only url+payload enter the pass and the resized bytes leave
    it — nothing else shuffles. Output: (url, width, height, new_width,
    new_height, resized_png, error)."""
    from ..oracle.images import (
        ImageError,
        image_dimensions,
        resize_image_payload,
    )

    def rows(payload):
        data = payload or b""
        try:
            return [(*resize_image_payload(data, max_size), None)]
        except (ImageError, NotImplementedError) as exc:
            try:
                w, h = image_dimensions(data)
            except ImageError:
                w = h = None
            return [(w, h, None, None, None, str(exc)[:200])]

    return row_map(
        _raster_payloads(pages),
        rows,
        "width long, height long, new_width long, new_height long, "
        "resized_png binary, error string",
    )


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents corpus
    (text bytes as the opaque payload) — exercises the multimodal
    plumbing without external data."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        (F.col("doc_id") % 1900 + 20).cast("long").alias("width"),
        (F.col("doc_id") % 1060 + 20).cast("long").alias("height"),
        (F.col("doc_id") % 60000 + 1000).cast("long").alias("duration_ms"),
        F.lit("synthetic").alias("format"),
    )


# single definition: the fields drive the output here AND the golden
# columns of fixtures.generate_media
MEDIA_META_FIELDS = (
    "media_kind string, sample_rate long, channels long, n_samples long, "
    "duration_ms long, mean_pm long, spread_pm long, decoded string"
)


def media_meta(frames: DataFrame) -> DataFrame:
    """REAL audio/video metadata over opaque payloads: WAV decodes
    fully (fmt header + PCM16 amplitude statistics), MP4 walks
    ftyp/moov/mvhd for its duration (frame decode is a video codec —
    out of scope, same contract as lossy WebP), malformed bodies
    become decode-error rows, unrecognized payloads are dropped. Row
    semantics live in oracle/media.media_meta_row — the single
    function the fixture golden also runs. row_map streams Arrow
    batches; only (media_id, payload) enter the pass.
    Input: (media_id, payload). Output: (media_id, MEDIA_META_FIELDS);
    media_kind is wav | mp4, mean_pm is |PCM| per-mille, decoded is
    real | header-only | decode-error."""
    from ..oracle.media import media_meta_row

    def rows(payload):
        row = media_meta_row(payload or b"")
        return [] if row is None else [row]

    return row_map(_media_payloads(frames), rows, MEDIA_META_FIELDS)


FRAME_STATS_FIELDS = (
    "frame_idx long, src_frame long, width long, height long, "
    "mean_pm long, spread_pm long"
)


def frame_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL video-frame extraction over raw-grayscale MP4 tracks: walk
    the ISO-BMFF sample tables (moov/trak/mdia/mdhd + stbl's
    stsd/stsz/stco — the same machinery any codec's frame extractor
    walks), slice each sample out of mdat, sample at 1 fps (the
    frame_plan contract, 64-frame cap) and report per-frame pixel
    statistics. Compressed codecs (H.264/VP9) would plug into the same
    sample-table walk and stay the documented out-of-scope stub; rows
    that aren't parseable rawg videos are dropped. Row semantics live
    in oracle/media.frame_stats_rows — the single function the fixture
    golden also runs. row_map streams Arrow batches; only
    (media_id, payload) enter the pass and only the small stats rows
    leave — frame pixels never shuffle.
    Input: (media_id, payload). Output: (media_id, FRAME_STATS_FIELDS);
    frame_idx is the 1-fps sample index, src_frame the source frame it
    maps to."""
    from ..oracle.media import frame_stats_rows

    return row_map(
        _media_payloads(media),
        lambda payload: frame_stats_rows(payload or b"") or [],
        FRAME_STATS_FIELDS,
    )


def frame_plan(meta: DataFrame, fps: float = 1.0) -> DataFrame:
    """Frame-sampling plan over video metadata rows (the stage between
    metadata probe and the — codec-stubbed — frame extractor): one
    frame index per 1/fps seconds, capped at 64, computed natively
    (sequence + explode; no Python). Input: media_meta() output.
    Output: (media_id, frame_idx); videos shorter than one period
    produce no rows."""
    rows = meta.filter(
        (F.col("media_kind") == "mp4") & F.col("duration_ms").isNotNull()
    )
    return rows.select(
        "media_id",
        F.explode(frame_sample_indices(F.col("duration_ms"), fps)).alias(
            "frame_idx"
        ),
    )
