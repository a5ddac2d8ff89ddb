"""Functions: Arrow-vectorized pandas UDFs, the row map + native column
expressions.

Every Python hot-path runs per Arrow record batch — a pandas UDF body
over whole pd.Series, or a ``row_map`` pass fanning each row's payload
out to typed rows — never row-at-a-time Python UDFs. Anything
expressible with pyspark.sql.functions stays JVM-side.

A worker running one of these UDFs may never import this package (the
UDF body travels by value, the oracle functions it calls by reference),
so the worker's zip-import gate is installed by the engine package's
``__init__`` (see ``typhoon_ocr_spark.zipimport_gate``), not here.
"""

from .udfs import (
    sniff_kind_col,
    stage_pages_udf,
    parse_response_udf,
    markdown_flatten_udf,
    render_prompt_udf,
    PAGE_STRUCT,
)

__all__ = [
    "sniff_kind_col",
    "stage_pages_udf",
    "parse_response_udf",
    "markdown_flatten_udf",
    "render_prompt_udf",
    "PAGE_STRUCT",
]
