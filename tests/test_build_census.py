"""Build census: building a query's DataFrame runs no Spark job, and
the timed corpus queries build in few py4j round trips.

Every ``queries()`` entry is built twice on sf0.001 and the jobs of the
second (warm) build are counted under a job group of their own. Each
``DataFrameReader.parquet`` call runs under another group: a read given
no schema runs one job to read the Parquet schema, and that job
belongs to the source helpers, not to the operator being built.

The corpus operators write their projections as SQL texts of constant
literals; those texts must read the same under
``spark.sql.parser.escapedStringLiterals``.
"""

import os
import sys
import uuid

import pytest
from pyspark.sql.readwriter import DataFrameReader

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from typhoon_ocr_spark.functions.textsql import sql_string  # noqa: E402
from typhoon_ocr_spark.operators import dedup, similarity, textstats  # noqa: E402

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


# py4j round trips of one warm build of each timed corpus query on the
# sf0.001 tables: the count with SQL-text projections (116, 143, 94 and
# 74) plus headroom. Built from Columns they took 396, 769, 238 and 779.
WARM_BUILD_CALLS = {
    "minhash_candidate_pairs": (lambda d, e: dedup.minhash_candidate_pairs(d), 160),
    "simhash_near_dups": (lambda d, e: dedup.simhash_near_dups(d), 210),
    "cosine_topk": (lambda d, e: similarity.cosine_topk(e), 130),
    "quality_scores_language_id": (
        lambda d, e: textstats.quality_scores(d).join(textstats.language_id(d), "doc_id"),
        110,
    ),
}


def _corpus(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet"),
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"))


@pytest.mark.parametrize("name", list(WARM_BUILD_CALLS))
def test_timed_corpus_build_takes_few_py4j_calls(spark, warm_build_calls, name):
    docs, emb = _corpus(spark)
    build, bound = WARM_BUILD_CALLS[name]
    calls = warm_build_calls(lambda: build(docs, emb))
    assert 0 < calls <= bound, calls


def test_sql_string_quotes_plain_constants_only():
    assert sql_string("[^a-z0-9]+") == "'[^a-z0-9]+'"
    assert sql_string("") == "''"
    for bad in ("\\s+", "it's", 'say "hi"'):
        with pytest.raises(ValueError):
            sql_string(bad)


# every operator whose projections are SQL texts with string constants
SQL_TEXT_OPS = {
    "minhash_pairs": lambda d: dedup.minhash_candidate_pairs(d),
    "simhash_near_dups": lambda d: dedup.simhash_near_dups(d),
    "jaccard_pairs": lambda d: dedup.jaccard_pairs(d),
    "quality_scores": lambda d: textstats.quality_scores(d),
    "language_id": lambda d: textstats.language_id(d),
    "repetition_stats": lambda d: textstats.repetition_stats(d),
    "gopher_quality": lambda d: textstats.gopher_quality(d),
    "corpus_keep": lambda d: textstats.training_corpus_keep(d),
    "top_bigram": lambda d: textstats.top_bigram(d),
    "model_quality": lambda d: textstats.model_quality_score(d),
    "vocab_topk": lambda d: textstats.vocab_topk(d),
}


def test_sql_texts_read_the_same_with_escaped_string_literals(spark):
    """The SQL texts are parsed when a frame is built: built under
    ``spark.sql.parser.escapedStringLiterals=true`` each operator
    returns the rows it returns under the default parser."""
    docs, _ = _corpus(spark)
    key = "spark.sql.parser.escapedStringLiterals"

    def rows(build):
        return sorted(map(tuple, build(docs).collect()), key=repr)

    spark.conf.set(key, "true")
    try:
        escaped = {name: rows(build) for name, build in SQL_TEXT_OPS.items()}
    finally:
        spark.conf.unset(key)
    for name, build in SQL_TEXT_OPS.items():
        assert escaped[name] == rows(build), name
