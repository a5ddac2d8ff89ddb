"""Pandas UDFs, the row map and native expressions for the extraction
pipeline and the per-payload operators.

Design rules (SURVEY.md §4.2):
- each UDF takes ONLY the columns it needs (column pruning through the
  opaque UDF boundary is manual);
- per-row Python exists only inside a batch loop over the pure oracle
  functions — the Arrow batch is the vectorization unit. A 1:1 column
  function is a pandas UDF inside a projection; a payload that fans out
  to zero or more typed rows keyed by its row's id goes through
  ``row_map`` (one mapInArrow pass, no array column to explode);
- anything natively expressible (sniffing magic bytes, struct
  assembly, sort/agg) is a JVM column expression instead.

The oracle functions themselves live in typhoon_ocr_spark.oracle and
are identical bytes-in/bytes-out to what the fixture generator used,
which is what makes the byte-identical anti-join a real gate.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
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

def sniff_kind_sql(html_col: str = "html") -> str:
    """Payload routing as one SQL expression (``sniff_kind_col``'s
    text), with constant literals only: building a projection of it is
    one JVM round trip. ``html_col`` is read the way ``F.col`` reads a
    name. The image test is parenthesized left-deep, as a ``|`` chain of
    Columns builds it (the SQL parser would balance a bare OR chain)."""
    c = html_col
    return (
        f"CASE WHEN {c} IS NULL OR length({c}) = 0 THEN 'junk' "
        f"WHEN substring({c}, 1, 5) = X'255044462D' THEN 'pdf' "
        f"WHEN (((substring({c}, 1, 8) = X'89504E470D0A1A0A' "
        f"OR substring({c}, 1, 3) = X'FFD8FF') "
        f"OR substring({c}, 1, 6) = X'474946383761') "
        f"OR substring({c}, 1, 6) = X'474946383961') "
        f"OR (substring({c}, 1, 4) = X'52494646' AND substring({c}, 9, 4) = X'57454250') "
        "THEN 'image' "
        f"WHEN startswith(ltrim(CAST(substring({c}, 1, 256) AS STRING)), '<') THEN 'html' "
        "ELSE 'junk' END"
    )


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
    return F.expr(sniff_kind_sql(html_col))


# ---------------------------------------------------------------------------
# Row maps (mapInArrow): one input row's payload → zero or more rows
# ---------------------------------------------------------------------------

def row_map(src: DataFrame, fn, fields: str) -> DataFrame:
    """mapInArrow over ``src`` = (id, *inputs): ``fn(*inputs)`` returns
    the row tuples one input row fans out to (zero or more; None inputs
    reach ``fn``, which decides their rows), and each output row is
    (that row's id, *row). The emitted id values are Arrow ``take``s of
    the input column — never round-tripped through Python objects — so
    the id keeps its name and type. ``fields`` is one DDL string
    ("band int, band_hash string"); the Arrow types come from the
    declared Spark schema, so the produced batches always match it."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    id_field = src.schema.fields[0]
    schema = StructType(
        [StructField(id_field.name, id_field.dataType)]
        + _parse_datatype_string(fields).fields
    )
    pa_types = [to_arrow_type(f.dataType) for f in schema.fields[1:]]
    names = [f.name for f in schema.fields]

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            inputs = [batch.column(j).to_pylist() for j in range(1, batch.num_columns)]
            take, rows = [], []
            for i, args in enumerate(zip(*inputs)):
                for row in fn(*args):
                    take.append(i)
                    rows.append(row)
            if take:
                cols = [batch.column(0).take(pa.array(take, type=pa.int32()))]
                cols += [
                    pa.array(vals, type=t) for vals, t in zip(zip(*rows), pa_types)
                ]
                yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(gen, schema)


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
