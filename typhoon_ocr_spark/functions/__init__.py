"""Functions: Arrow-vectorized pandas UDFs + native column expressions.

Every Python hot-path runs inside a pandas UDF body over whole
pd.Series (Arrow record-batch transport) — never row-at-a-time Python
UDFs. Anything expressible with pyspark.sql.functions stays JVM-side.
"""

from .udfs import (
    sniff_kind_col,
    stage_pages_udf,
    linearize_anchor_udf,
    parse_response_udf,
    markdown_flatten_udf,
    render_prompt_udf,
    PAGE_STRUCT,
    ELEMENT_STRUCT,
)

__all__ = [
    "sniff_kind_col",
    "stage_pages_udf",
    "linearize_anchor_udf",
    "parse_response_udf",
    "markdown_flatten_udf",
    "render_prompt_udf",
    "PAGE_STRUCT",
    "ELEMENT_STRUCT",
]
