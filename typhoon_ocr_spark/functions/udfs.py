"""Pandas UDFs + native expressions for the extraction pipeline.

Design rules (SURVEY.md §4.2):
- each UDF takes ONLY the columns it needs (column pruning through the
  opaque UDF boundary is manual);
- per-row Python exists only inside Series.map over the pure oracle
  functions — the Arrow batch is the vectorization unit;
- anything natively expressible (sniffing magic bytes, struct
  assembly, sort/agg) is a JVM column expression instead.

The oracle functions themselves live in typhoon_ocr_spark.oracle and
are identical bytes-in/bytes-out to what the fixture generator used,
which is what makes the byte-identical anti-join a real gate.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..oracle.htmlstrip import strip_html_boilerplate
from ..oracle.images import image_dimensions
from ..oracle.linearize import anchor_from_image_dims, linearize_page, truncation_rng
from ..oracle.mdflatten import markdown_to_plain_text
from ..oracle.pdfmini import parse_pdf
from ..oracle.prompts import render_prompt
from ..oracle.respparse import parse_response_text
from ..oracle.textops import is_base64_string

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

PAGE_STRUCT = StructType(
    [
        StructField("page", IntegerType()),
        StructField("text", StringType()),   # final page text / anchor
        StructField("success", BooleanType()),
        StructField("error", StringType()),
    ]
)


# ---------------------------------------------------------------------------
# Native expressions
# ---------------------------------------------------------------------------

def sniff_kind_col(html_col: str = "html") -> Column:
    """Payload routing as pure JVM expressions — no Python, no UDF
    (engine-side replacement for the extension dispatch at
    /root/reference/packages/typhoon_ocr/typhoon_ocr/ocr_utils.py:562;
    raster allowlist per routes/ocr.py:75-82).

    pdf:   first 5 bytes are the %PDF- magic (X'255044462D');
    image: PNG / JPEG / GIF / WebP magic bytes;
    html:  lossy-decoded 256-byte head, left-trimmed, starts with '<';
    junk:  everything else (incl. NULL/empty payloads).
    """
    col = F.col(html_col)
    is_pdf = F.substring(col, 1, 5) == F.lit(b"%PDF-")
    is_image = (
        (F.substring(col, 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"))
        | (F.substring(col, 1, 3) == F.lit(b"\xff\xd8\xff"))
        | (F.substring(col, 1, 6) == F.lit(b"GIF87a"))
        | (F.substring(col, 1, 6) == F.lit(b"GIF89a"))
        | (
            (F.substring(col, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(col, 9, 4) == F.lit(b"WEBP"))
        )
    )
    head = F.ltrim(F.substring(col, 1, 256).cast("string"))
    is_html = F.startswith(head, F.lit("<"))
    return (
        F.when(col.isNull() | (F.length(col) == 0), F.lit("junk"))
        .when(is_pdf, F.lit("pdf"))
        .when(is_image, F.lit("image"))
        .when(is_html, F.lit("html"))
        .otherwise(F.lit("junk"))
    )


# ---------------------------------------------------------------------------
# Pandas UDFs (Arrow-vectorized)
# ---------------------------------------------------------------------------

def _page_row(page: int, text=None, error=None) -> dict:
    return {"page": page, "text": text, "success": error is None, "error": error}


def _parse_pdf_rows(url: str, blob: bytes, budget: int) -> list:
    try:
        reports = parse_pdf(blob)
    except Exception as exc:
        return [_page_row(1, error=f"Error processing document: {exc}")]
    if not reports:
        return [_page_row(1, error="empty pdf")]
    # Linearize where parsed, whatever the page count: no layout IR
    # ever leaves this task, and the row carries the budget-capped anchor.
    return [
        _page_row(idx, text=linearize_page(report, budget, truncation_rng(url, idx)))
        for idx, report in enumerate(reports, start=1)
    ]


@pandas_udf(ArrayType(PAGE_STRUCT))
def stage_pages_udf(
    url: pd.Series,
    kind: pd.Series,
    payload: pd.Series,
    budget: pd.Series,
) -> pd.Series:
    """The whole per-document Python work, one pass over the raw payloads:
    pdf → per-page anchors, linearized where parsed (the content-stream
    interpreter stands in for the reference's pypdf visitor pass,
    ocr_utils.py:358-388);
    html → single page carrying the boilerplate-stripped text;
    image → single page carrying the whole-image anchor;
    junk → single failed page row.

    Routing happens INSIDE the batch so the source is scanned exactly
    once — filter-per-branch plans triple the 100 TB read (see
    operators/extract.py). Errors become error page rows, never task
    failures (/root/reference/backend/services/ocr_service.py:254-262).
    """

    def one(u: str, k: str, blob: Optional[bytes], b: int) -> list:
        if k == "pdf" and blob is not None:
            return _parse_pdf_rows(u, bytes(blob), int(b))
        if k == "html" and blob is not None:
            try:
                return [_page_row(1, text=strip_html_boilerplate(bytes(blob)))]
            except Exception as exc:
                return [_page_row(1, error=f"Error processing document: {exc}")]
        if k == "image" and blob is not None:
            # raster branch: whole-image anchor from header dims
            # (ocr_utils.py:502-506; dispatch 562-579)
            try:
                w, h = image_dimensions(bytes(blob))
                return [_page_row(1, text=anchor_from_image_dims(w, h))]
            except Exception as exc:
                return [_page_row(1, error=f"Error processing document: {exc}")]
        return [_page_row(1, error="unsupported payload")]

    return pd.Series(
        [one(*args) for args in zip(url, kind, payload, budget)],
        dtype="object",
    )


TABLE_PAGE_STRUCT = StructType(
    [
        StructField("page", IntegerType()),
        StructField("table_md", StringType()),
    ]
)

RENDER_PAGE_STRUCT = StructType(
    [
        StructField("page", IntegerType()),
        StructField("render_w", IntegerType()),
        StructField("render_h", IntegerType()),
        StructField("render_sha", StringType()),
    ]
)


@pandas_udf(ArrayType(RENDER_PAGE_STRUCT))
def page_renders_udf(payload: pd.Series) -> pd.Series:
    """BINARY pdf payload → per-page layout raster fingerprints: each
    page renders to a real grayscale PNG (oracle/render.py — the
    engine's render_pdf_to_base64png path, ocr_utils.py:119-146) and
    reports (dims, sha256 of the PNG bytes). The blob itself never
    leaves the task — downstream carries 64-byte fingerprints."""
    import hashlib

    from ..oracle.render import render_page_bitmap
    from ..oracle.images import encode_png_gray

    def one(blob: Optional[bytes]) -> list:
        if blob is None:
            return []
        try:
            reports = parse_pdf(bytes(blob))
        except Exception:
            return []
        out = []
        for idx, report in enumerate(reports, start=1):
            w, h, pixels = render_page_bitmap(report)
            png = encode_png_gray(w, h, pixels)
            out.append(
                {"page": idx, "render_w": w, "render_h": h,
                 "render_sha": hashlib.sha256(png).hexdigest()}
            )
        return out

    return payload.map(one)


MESSAGE_PAGE_STRUCT = StructType(
    [
        StructField("page", IntegerType()),
        StructField("message_sha", StringType()),
    ]
)


@pandas_udf(ArrayType(MESSAGE_PAGE_STRUCT))
def ocr_message_shas_udf(url: pd.Series, payload: pd.Series) -> pd.Series:
    """BINARY pdf payload → per-page sha256 of the COMPLETE LLM request
    envelope (prompt + base64 page render; prepare_ocr_messages,
    ocr_utils.py:582-619). The multi-KB envelope never leaves the task
    — only its 64-hex fingerprint does."""
    from ..oracle.render import page_ocr_message_sha

    def one(u, blob):
        if blob is None:
            return []
        try:
            reports = parse_pdf(bytes(blob))
        except Exception:
            return []
        return [
            {"page": idx, "message_sha": page_ocr_message_sha(u, report, idx)}
            for idx, report in enumerate(reports, start=1)
        ]

    return pd.Series([one(u, b) for u, b in zip(url, payload)], dtype="object")


@pandas_udf(ArrayType(TABLE_PAGE_STRUCT))
def page_tables_udf(payload: pd.Series) -> pd.Series:
    """BINARY pdf payload → per-page markdown tables via deterministic
    table-cell grouping (oracle/tables.py — the north star's
    "table-cell grouping into markdown tables"). Pages whose runs don't
    form a grid yield table_md NULL; parse failures yield no rows
    (error handling lives in the main pipeline)."""
    from ..oracle.tables import detect_table

    def one(blob: Optional[bytes]) -> list:
        if blob is None:
            return []
        try:
            reports = parse_pdf(bytes(blob))
        except Exception:
            return []
        return [
            {"page": idx, "table_md": detect_table(report.text_elements)}
            for idx, report in enumerate(reports, start=1)
        ]

    return payload.map(one)


@pandas_udf(StringType())
def parse_response_udf(raw: pd.Series) -> pd.Series:
    """Model-response → final text (ocr_service.py:156-190)."""
    return raw.map(parse_response_text)


@pandas_udf(StringType())
def markdown_flatten_udf(markdown: pd.Series) -> pd.Series:
    """Markdown → plaintext (frontend/utils/markdownText.ts:1-37)."""
    return markdown.map(lambda s: markdown_to_plain_text(s) if s is not None else None)


@pandas_udf(StringType())
def render_prompt_udf(task_type: pd.Series, anchor: pd.Series) -> pd.Series:
    """Prompt template application (ocr_utils.py:401-465)."""
    return pd.Series(
        [render_prompt(t, a if a is not None else "") for t, a in zip(task_type, anchor)],
        dtype="object",
    )


@pandas_udf(BooleanType())
def is_base64_udf(value: pd.Series) -> pd.Series:
    """Base64 round-trip validity (ocr_utils.py:627-632). Native
    unbase64 is too lenient for parity, hence the UDF (SURVEY.md §2 #17)."""
    return value.map(lambda s: is_base64_string(s) if s is not None else False)


def make_external_call_udf(
    fn, attempts: int = 5, error_value=None, sleep=None, max_in_flight: int = 1
):
    """Wrap an external per-row call (model endpoint, object store) as
    a Pandas UDF with per-element bounded retry — the engine-side
    rendering of the reference's API retry loop
    (/root/reference/backend/services/ocr_service.py:126-138). Elements
    that exhaust their attempts yield ``error_value`` (error-as-row,
    never a task failure). ``max_in_flight`` > 1 overlaps a batch's
    calls on a bounded thread pool per Python worker — pass 5 to mirror
    the reference's ``asyncio.Semaphore(5)`` fan-out
    (ocr_service.py:297) when ``fn`` is THREAD-SAFE (an endpoint is
    latency-bound, so sequential rows idle the executor slot); the
    default stays sequential because a shared session/connection inside
    ``fn`` would race. The model call itself stays external by design
    (SURVEY.md §2 #19); this is the harness a deployment plugs its
    client into."""
    import time as _time

    from .retry import retrying_series_map

    _sleep = sleep if sleep is not None else _time.sleep

    @pandas_udf(StringType())
    def call_udf(col: pd.Series) -> pd.Series:
        return retrying_series_map(
            col,
            fn,
            attempts=attempts,
            sleep=_sleep,
            error_value=error_value,
            max_in_flight=max_in_flight,
        )

    # An external call IS nondeterministic — and declaring it stops
    # Catalyst from inlining the expression into every downstream
    # reference (CollapseProject would otherwise duplicate the call:
    # parse(call(x)) + call(x) in one projection issued each HTTP
    # request twice per row).
    return call_udf.asNondeterministic()
