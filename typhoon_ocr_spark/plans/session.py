"""SparkSession builder with scale-oriented defaults.

Tuned for the engine's workload profile (SURVEY.md §4.2): BINARY page
payloads flowing through Arrow into pandas UDFs, a map-only extraction
stage (the per-url shuffle only where a transformed page frame is
reassembled), AQE for runtime coalescing/skew handling.

On a real cluster the same confs apply unchanged; only master/executor
sizing comes from spark-submit (the engine never hardcodes cluster
shape).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

# Arrow batches carry whole page payloads (MB-scale for the skew
# cohort) AND narrow text/token rows; bound batches by BYTES (the
# Spark 4 knob — sizes the blob batches by what actually matters) and
# keep a generous record cap so narrow rows amortize the JVM<->Python
# round trip. The old global 64-row cap sized for blobs throttled
# every narrow-row mapInArrow pass ~60x below the byte budget (r6
# measurement: simhash 5.3 s -> 0.9 s from batch sizing alone) while
# letting a 5 MB-blob batch grow to ~300 MB; the byte bound is both
# faster and safer.
ARROW_MAX_BYTES_PER_BATCH = 32 * 1024 * 1024
ARROW_MAX_RECORDS_PER_BATCH = 4096


def build_session(
    app_name: str = "typhoon-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # one 128 MiB input split per task keeps blob rows per task bounded
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # file-open cost at its 4 MiB default floors maxSplitBytes at
        # 4 MiB, capping SCAN parallelism on small inputs (a 6 MB table
        # planned 2 tasks on 32 cores); 64 KiB reflects real parquet
        # open overhead. At 100 TB splits are governed by
        # maxPartitionBytes and bytes-per-core exactly as before — this
        # only stops tiny corpora from serializing onto 1-2 tasks.
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # commit algorithm v2 moves task output into place at TASK
        # commit (parallel, overlapped with still-running tasks) instead
        # of a serial driver-side rename pass at job commit — the write
        # tail no longer serializes on the driver as file counts grow
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def package_zip() -> str:
    """Zip the engine package for spark.submit.pyFiles / addPyFile (the
    in-process equivalent of spark-submit --py-files): executor Python
    workers import the engine from this archive, exactly as they would
    on a real cluster."""
    import tempfile
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    zpath = os.path.join(tempfile.gettempdir(), "typhoon_ocr_spark_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        pkg = os.path.join(repo, "typhoon_ocr_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, repo))
    return zpath


def ship_engine(spark) -> None:
    """Idempotently ship the engine package to executor Python workers
    via addPyFile — makes the driver contract work regardless of the
    caller's working directory (a driver-side sys.path insert never
    reaches worker processes; this is the addPyFile face of
    spark-submit --py-files)."""
    sc = spark.sparkContext
    if getattr(sc, "_typhoon_engine_shipped", False):
        return
    sc.addPyFile(package_zip())
    sc._typhoon_engine_shipped = True


@dataclass(frozen=True)
class PipelineConfig:
    """Engine parameters — the Spark analog of the reference Config
    record (/root/reference/backend/services/ocr_service.py:30-42).
    Broadcast to executors as plain literals in the plan."""

    anchor_budget: int = 4000      # ocr_utils.py:391 library default
    salt_buckets: int = 0          # extra salt for the pre-parse spread; 0=off
    # The engine no longer reads this: every document linearizes where
    # it is parsed. Kept only because the benchmark's shape counts
    # (perfbench/run.py shape_counts, extract.ir_page_rows) read it.
    spread_page_threshold: int = 32
