"""Build census of every ``queries()`` entry: the Spark jobs, py4j round
trips and seconds of warm DataFrame builds, in one session.

Each query is built once to warm the session, then once more with its
jobs counted under a job group of its own and its py4j round trips
(``ClientServerConnection.send_command`` calls) counted, then ``reps``
more times for the median build seconds. Parquet reads run under
another job group: a read given no schema runs one job to read the
schema, which belongs to the source helpers, not to the operator being
built (``tests/test_build_census.py`` counts jobs the same way).

Usage: python tools/build_census.py <sf_dir> [out.json] [reps]
(out.json defaults to BUILD_CENSUS.json at the repo root, reps to 5).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import py4j.clientserver as cs  # noqa: E402
from pyspark.sql.readwriter import DataFrameReader  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from typhoon_ocr_spark.plans.session import build_session  # noqa: E402


def _settle(spark) -> None:
    """Let py4j free the JVM objects of earlier builds (its finalizer
    thread wakes about once a second), so none of those frees is
    counted with the next build."""
    gc.collect()
    pending = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + 10
    while pending and time.monotonic() < deadline:
        time.sleep(0.01)
    time.sleep(0.02)


def census(spark, sf_dir: str, reps: int) -> dict:
    sc = spark.sparkContext
    read_group = f"census-read-{uuid.uuid4().hex}"
    read = DataFrameReader.parquet

    def read_in_own_group(self, *paths, **options):
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", read_group)
        try:
            return read(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)

    send = cs.ClientServerConnection.send_command
    calls = [0]

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    DataFrameReader.parquet = read_in_own_group
    out = {}
    try:
        for name, build in entry.queries().items():
            build(spark, sf_dir)
            _settle(spark)
            group = f"census-build-{uuid.uuid4().hex}"
            reads = len(sc.statusTracker().getJobIdsForGroup(read_group))
            sc.setLocalProperty("spark.jobGroup.id", group)
            calls[0] = 0
            cs.ClientServerConnection.send_command = counted
            try:
                build(spark, sf_dir)
            finally:
                cs.ClientServerConnection.send_command = send
                sc.setLocalProperty("spark.jobGroup.id", None)
            n_calls = calls[0]
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            reads = len(sc.statusTracker().getJobIdsForGroup(read_group)) - reads
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                build(spark, sf_dir)
                times.append(time.perf_counter() - t0)
            out[name] = {
                "build_jobs": jobs,
                "read_jobs": reads,
                "py4j_calls": n_calls,
                "build_s": round(statistics.median(times), 4),
            }
            print(name, out[name], flush=True)
    finally:
        DataFrameReader.parquet = read
    return out


def main() -> int:
    sf_dir = sys.argv[1]
    path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "BUILD_CENSUS.json")
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = build_session(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = census(spark, sf_dir, reps)
    spark.stop()
    result = {
        "sf_dir": sf_dir,
        "reps": reps,
        "total_build_s": round(sum(q["build_s"] for q in queries.values()), 3),
        "total_py4j_calls": sum(q["py4j_calls"] for q in queries.values()),
        "queries": queries,
    }
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}: {len(queries)} queries, "
          f"warm builds {result['total_build_s']} s in total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
