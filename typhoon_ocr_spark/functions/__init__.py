"""Functions: Arrow-vectorized pandas UDFs + native column expressions.

Every Python hot-path runs inside a pandas UDF body over whole
pd.Series (Arrow record-batch transport) — never row-at-a-time Python
UDFs. Anything expressible with pyspark.sql.functions stays JVM-side.

Every engine module a Python worker unpickles passes through this
package, so importing it gates the worker's per-task zip re-reads
(see zipimport_gate).
"""

from .zipimport_gate import install_in_worker

install_in_worker()

from .udfs import (  # noqa: E402
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
