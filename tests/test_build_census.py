"""Build-job census: building a query's DataFrame runs no Spark job.

Every ``queries()`` entry is built twice on sf0.001 and the jobs of the
second (warm) build are counted under a job group of their own. Each
``DataFrameReader.parquet`` call runs under another group: a read given
no schema runs one job to read the Parquet schema, and that job
belongs to the source helpers, not to the operator being built.
"""

import os
import sys
import uuid

import pytest
from pyspark.sql.readwriter import DataFrameReader

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# the queries that still run jobs while they are built, with their exact
# counts: source_mix collects its per-source counts and ann_topk its
# query cohort (ROADMAP items 1 and 4)
BUILD_JOBS = {"source_mix": 2, "ann_topk": 1}


@pytest.mark.parametrize("name", list(entry.queries()))
def test_warm_build_runs_no_job(spark, monkeypatch, name):
    sc = spark.sparkContext
    build_group = f"census-build-{uuid.uuid4().hex}"
    read_group = f"census-read-{uuid.uuid4().hex}"
    read = DataFrameReader.parquet

    def read_in_own_group(self, *paths, **options):
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", read_group)
        try:
            return read(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)

    monkeypatch.setattr(DataFrameReader, "parquet", read_in_own_group)
    build = entry.queries()[name]
    build(spark, SF_DIR)
    sc.setLocalProperty("spark.jobGroup.id", build_group)
    try:
        build(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(build_group))
    assert jobs == BUILD_JOBS.get(name, 0), jobs
