"""SparkSession builder with scale-oriented defaults.

Tuned for the engine's workload profile (SURVEY.md §4.2): BINARY page
payloads flowing through Arrow into pandas UDFs, a map-only extraction
stage (the per-url shuffle only where a transformed page frame is
reassembled), AQE for runtime coalescing/skew handling.

On a real cluster the same confs apply unchanged; only master/executor
sizing comes from spark-submit (the engine never hardcodes cluster
shape).

When ``build_session`` launches the driver JVM itself, it starts it from
a per-install dynamic class-data-sharing archive of the classes a
session loads to start and run a first query (JDK 17, JEP 350): see
``plan_driver_jvm`` for when, and ``README.md`` for where it lives.
"""

from __future__ import annotations

import contextlib
import hashlib
import logging
import os
import shlex
import shutil
import struct
import subprocess
import sys
from collections.abc import Iterable, Mapping
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger("typhoon_ocr_spark")

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
    conf = dict(extra_conf or {})
    # with a gateway already up (spark-submit, or a context getOrCreate
    # reuses) this process launches no JVM, so there is nothing to decide
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    decision, conf_dir = "off:not-launched", None
    if launches:
        decision, options, conf_dir = _prepare_driver_jvm(conf)
        if options is not None:
            conf[JAVA_OPTIONS] = options
    for key, value in conf.items():
        builder = builder.config(key, value)
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is not None:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    sc = spark.sparkContext
    if launches or not hasattr(sc, "_typhoon_driver_jvm"):
        sc._typhoon_driver_jvm = decision
        log.info("driver JVM class-data archive: %s", decision)
    return spark


# ---------------------------------------------------------------------------
# driver JVM class-data sharing
# ---------------------------------------------------------------------------

JAVA_OPTIONS = "spark.driver.extraJavaOptions"
CDS_CACHE = "typhoon-ocr-spark"
# a caller that already steers class-data sharing keeps full control
_CDS_FLAGS = ("Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_JVM_OPTION_VARS = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS",
                    "_JAVA_OPTIONS", "PYSPARK_SUBMIT_ARGS")
# the launcher puts these on the driver classpath; a directory there that
# is not empty makes the JVM refuse to dump an archive
_CLASSPATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                   "SPARK_PREPEND_CLASSES")
# the archive-writing session: start, one trivial query, stop; its JVM
# dumps at exit, and the captured pipes close only once it has exited
_DUMP_SESSION = """
import sys
from typhoon_ocr_spark.plans.session import JAVA_OPTIONS, build_session
spark = build_session(master="local[1]", shuffle_partitions=1,
                      extra_conf={JAVA_OPTIONS: sys.argv[1]})
spark.range(1).collect()
spark.stop()
"""
_DUMP_TIMEOUT_S = 300

# JDK 17 dynamic archive header (CDS archive version 11): magic, crc,
# version, then 7 region records of 6 ints and 6 size_t, whose first and
# third size_t are the region's file offset and used bytes
_DYNAMIC_MAGIC = 0xF00BABA8
_ARCHIVE_VERSION = 11
_HEADER = struct.Struct("<Iii4x")
_REGION = struct.Struct("<6i6Q")
_REGIONS = 7
_HEADER_BYTES = _HEADER.size + _REGIONS * _REGION.size


def plan_driver_jvm(
    conf: Mapping[str, str],
    env: Mapping[str, str],
    conf_files: Iterable[str],
    archive: str,
    archive_ok: bool,
    attempted: bool,
) -> tuple[str, str | None]:
    """The class-data-sharing decision for a driver JVM this process
    launches, and the ``spark.driver.extraJavaOptions`` to launch it with.

    ``conf`` is the caller's Spark conf, ``env`` the launch environment,
    ``conf_files`` the names in the effective Spark conf directory,
    ``archive`` the archive path for this install, ``archive_ok`` whether
    it holds a whole archive and ``attempted`` whether a session already
    tried to write it. The decision is ``use`` (map the archive),
    ``create`` (write it first, then map it) or ``off:<reason>`` (JVM
    untouched). The caller's options are kept and the engine's appended.
    """
    options = conf.get(JAVA_OPTIONS)
    caller = [options, conf.get("spark.driver.defaultJavaOptions")]
    caller += [env.get(var) for var in _JVM_OPTION_VARS]
    if any(flag in opts for opts in caller if opts for flag in _CDS_FLAGS):
        return "off:caller-cds", options
    if conf.get("spark.driver.extraClassPath") or any(env.get(v) for v in _CLASSPATH_VARS):
        return "off:extra-classpath", options
    if any(not name.endswith(".template") for name in conf_files):
        return "off:spark-conf", options
    if archive_ok:
        decision = "use"
    elif attempted:
        # a dump that left no whole archive is not retried on every start
        return "off:dump-attempted", options
    else:
        decision = "create"
    flags = f"-XX:SharedArchiveFile={shlex.quote(archive)}"
    return decision, f"{options} {flags}" if options else flags


def archive_key(java: str, jars: str, cache: str) -> str:
    """Names the archive of one install: the ``java`` binary, the
    ``jars`` directory listing (names, sizes, mtimes) and the ``cache``
    directory, whose ``conf/`` path the archive records (the JVM rejects
    an archive whose classpath moved)."""
    digest = hashlib.sha256(os.path.realpath(cache).encode() + b"\n")
    paths = [os.path.realpath(java)] + sorted(os.path.join(jars, n) for n in os.listdir(jars))
    for path in paths:
        st = os.stat(path)
        digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:16]


def archive_complete(path: str) -> bool:
    """Whether ``path`` holds a whole JDK 17 dynamic archive. The JVM
    rejects a garbage or stale archive and starts normally, but it maps a
    truncated one and dies of SIGBUS, so only a file that holds every
    region its header names is handed to it (one still being written
    fails the same check)."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(_HEADER_BYTES)
            size = os.fstat(fh.fileno()).st_size
    except FileNotFoundError:
        return False
    if len(head) < _HEADER_BYTES:
        return False
    magic, _crc, version = _HEADER.unpack_from(head)
    if magic != _DYNAMIC_MAGIC or version != _ARCHIVE_VERSION:
        return False
    ends = [r[6] + r[8] for r in _REGION.iter_unpack(head[_HEADER.size:])]
    return 0 < max(ends) <= size


def _prepare_driver_jvm(conf: Mapping[str, str]) -> tuple[str, str | None, str | None]:
    """Gathers what ``plan_driver_jvm`` decides on, and readies the cache
    for its decision (for ``create``, writes the archive): ``(decision,
    java options, SPARK_CONF_DIR for the launch or None)``. An I/O error
    turns the archive off, never the session."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), CDS_CACHE)
    java_home = os.environ.get("JAVA_HOME")
    # the java spark-class runs; a missing one fails the stat below
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java") or "java"
    try:
        conf_files = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        key = archive_key(java, os.path.join(spark_home, "jars"), cache)
    except OSError as exc:
        log.warning("driver JVM class-data archive off: %s", exc)
        return "off:install-unreadable", conf.get(JAVA_OPTIONS), None
    archive = os.path.join(cache, f"{key}.jsa")
    marker = os.path.join(cache, f"{key}.dump")
    # an empty engine-owned conf directory keeps the classpath dumpable
    # and the same at every start; Spark reads nothing from either
    empty_conf = os.path.join(cache, "conf")
    try:
        decision, options = plan_driver_jvm(
            conf, os.environ, conf_files, archive,
            archive_complete(archive), os.path.exists(marker))
        if decision.startswith("off:"):
            return decision, options, None
        os.makedirs(empty_conf, exist_ok=True)
        if decision == "create" and not _claim(marker):
            return "off:dump-attempted", conf.get(JAVA_OPTIONS), None
    except OSError as exc:
        log.warning("driver JVM class-data archive off: %s", exc)
        return "off:cache-unusable", conf.get(JAVA_OPTIONS), None
    if decision == "create":
        try:
            _drop_other_archives(cache, key)
        except OSError as exc:
            # this key's dump is claimed: go on and write it
            log.warning("driver JVM class-data archive: old archive kept: %s", exc)
        if not _write_archive(archive, conf.get(JAVA_OPTIONS), empty_conf):
            return "off:dump-failed", conf.get(JAVA_OPTIONS), None
    return decision, options, empty_conf


def _write_archive(archive: str, caller_options: str | None, empty_conf: str) -> bool:
    """Writes ``archive`` from a session of its own, in a fresh
    interpreter: the classes a session loads to start and run a first
    query. Those loaded by a whole session's queries are left out: with
    them archived, the queries ran slower (BENCH.md "Driver class-data
    archive"). Whether a whole archive is now in place."""
    partial = archive + ".tmp"
    # the dump lists every class it skips at warning level on stdout
    flags = f"-XX:ArchiveClassesAtExit={shlex.quote(partial)} -Xlog:cds=off,cds+dynamic=off"
    package_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    env = dict(os.environ, SPARK_CONF_DIR=empty_conf, PYTHONPATH=os.pathsep.join(
        filter(None, [package_root, os.environ.get("PYTHONPATH")])))
    try:
        out = subprocess.run(
            [sys.executable, "-c", _DUMP_SESSION, f"{caller_options} {flags}" if caller_options else flags],
            env=env, capture_output=True, text=True, timeout=_DUMP_TIMEOUT_S)
        if out.returncode == 0 and archive_complete(partial):
            # renamed whole, so no session ever opens a partial archive
            os.replace(partial, archive)
            return True
        failure = out.stderr.strip()[-500:]
    except (OSError, subprocess.TimeoutExpired) as exc:
        failure = str(exc)
    log.warning("driver JVM class-data archive: dump failed: %s", failure)
    with contextlib.suppress(FileNotFoundError):
        os.remove(partial)
    return False


def _claim(marker: str) -> bool:
    """Creates ``marker`` unless it exists: one dump per key, so a
    concurrent or failed one is not repeated."""
    try:
        os.close(os.open(marker, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644))
    except FileExistsError:
        return False
    return True


def _drop_other_archives(cache: str, key: str) -> None:
    """Deletes the archives and markers of every other key, so a cache
    holds the archive of one install (a JVM that maps a deleted archive
    keeps its mapping)."""
    for name in os.listdir(cache):
        if name.endswith((".jsa", ".dump", ".tmp")) and name.split(".")[0] != key:
            # another session may drop the same file first
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(cache, name))


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
