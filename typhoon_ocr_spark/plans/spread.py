"""The adaptive unsplittable-input guard shared by every map-only
operator (corpus operators, the extraction parse stage, the multimodal
UDFs): repartition a narrow projection only when its input provably
cannot feed the cluster."""

from __future__ import annotations

import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_BYTE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _byte_string_as_bytes(value: str) -> int:
    """A Spark byte-size conf ('134217728', '128m', '1g', '64kb') in
    bytes, as JavaUtils.byteStringAsBytes reads it: a bare number is
    bytes, suffixes are binary multiples, case-insensitive."""
    m = re.fullmatch(r"([0-9]+)([a-z]*)", value.strip().lower())
    if m is None or m.group(2) not in _BYTE_UNITS:
        raise ValueError(f"invalid byte string: {value!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def maybe_spread(df: DataFrame, key: str) -> DataFrame:
    """Adaptive unsplittable-input guard (r6). Parquet can only split
    at row-group boundaries: a single-row-group file plans N byte-range
    splits but all rows land in ONE task, serializing every downstream
    map-only stage (the optimization guide's 'one huge unsplittable
    file → repartition immediately after the read' case — measured
    here: every map-only operator over the sf tables ran on one core).
    This repartitions the operator's NARROW projection by a
    deterministic key, but ONLY when the input provably cannot feed
    the cluster: fewer input files than cores AND total input under
    cores × maxPartitionBytes (so the spread can never move more than
    one task-sized split per core — at 100 TB the gate never fires and
    no exchange is added). Frames the gate cannot inspect (no input
    files: in-memory, JDBC, catalog providers) and non-local stores are
    left untouched."""
    if df.isStreaming:  # micro-batch twins keep their own partitioning
        return df
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        # a JVM array: its length is one py4j round trip, listing it
        # one per file, so a many-file input is never listed
        files = df._jdf.inputFiles()
        n_files = len(files)
    except Exception:
        return df
    if not n_files or n_files >= par:
        return df
    total = 0
    for i in range(n_files):
        f = files[i]
        if not f.startswith("file:"):
            return df  # remote store: trust its layout
        try:
            total += os.path.getsize(unquote(urlparse(f).path))
        except OSError:
            return df
    max_pb = _byte_string_as_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if total > par * max_pb:
        return df
    return df.repartition(par, key)
