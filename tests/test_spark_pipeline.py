"""Spark pipeline correctness + physical-plan properties.

The byte-identical gate (FIXTURES.md §2): engine output anti-joined
against the oracle-computed expected tables must be empty in both
directions, per url and per (url, page).
"""

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from typhoon_ocr_spark.operators.extract import (
    assemble_documents,
    classify_pages,
    extract_documents,
    extract_pages,
)
from typhoon_ocr_spark.plans.session import PipelineConfig

DOC_KEYS = ["url", "kind", "extracted_text", "page_count", "success"]
PAGE_KEYS = ["url", "page", "anchor_text", "text", "success"]


@pytest.fixture(scope="module")
def frames(spark, fixture_dir):
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    docs = extract_documents(pages).cache()
    page_frame = extract_pages(pages).cache()
    expected_docs = spark.read.parquet(os.path.join(fixture_dir, "expected_docs.parquet"))
    expected_pages = spark.read.parquet(os.path.join(fixture_dir, "expected_pages.parquet"))
    yield pages, docs, page_frame, expected_docs, expected_pages
    docs.unpersist()
    page_frame.unpersist()


def test_documents_byte_identical(frames):
    _, docs, _, expected_docs, _ = frames
    assert docs.count() == expected_docs.count()
    assert docs.join(expected_docs, DOC_KEYS, "left_anti").count() == 0
    assert expected_docs.join(docs, DOC_KEYS, "left_anti").count() == 0


def test_pages_byte_identical(frames):
    _, _, page_frame, _, expected_pages = frames
    got = page_frame.select(*PAGE_KEYS)
    exp = expected_pages.select(*PAGE_KEYS)
    assert got.count() == exp.count()
    # null-safe keys: anchor_text is NULL for html/junk rows
    cond = [got[k].eqNullSafe(exp[k]) for k in PAGE_KEYS]
    assert got.join(exp, cond, "left_anti").count() == 0
    assert exp.join(got, cond, "left_anti").count() == 0


def test_kind_routing_matches_oracle(frames):
    pages, _, _, expected_docs, _ = frames
    got = classify_pages(pages).select("url", "kind")
    exp = expected_docs.select("url", "kind")
    assert got.join(exp, ["url", "kind"], "left_anti").count() == 0


def _fresh_plan(frames) -> str:
    """Physical plan of the pipeline with a non-default budget so the
    cached fixture frames can't substitute InMemoryTableScan."""
    pages = frames[0]
    df = extract_documents(pages, PipelineConfig(anchor_budget=4001))
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_scan(frames):
    """The whole pipeline must read the source exactly once — branch-
    per-kind plans triple the scan of the BINARY column (a 3x read at
    100 TB)."""
    plan = _fresh_plan(frames)
    assert plan.count("Scan parquet") == 1


def test_scan_prunes_columns(frames):
    """Only url+html may reach the scan; warc_ts/text/lang must be
    pruned (ReadSchema check — free 40%+ IO saving at scale)."""
    plan = _fresh_plan(frames)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "url" in read_schema and "html" in read_schema
    assert "warc_ts" not in read_schema and "lang" not in read_schema


@contextmanager
def _page_spread_uncoalesced(spark):
    """AQE legitimately coalesces the small fixture's (url, page)
    rebalance to one partition; switch the coalesce off for the block
    so the spread runs over spark.sql.shuffle.partitions tasks."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_skew_doc_pages_spread_across_partitions(frames):
    """Pages of the giant skew-cohort document must fan out over many
    partitions: the (url, page) hashing of the page rebalance is the
    skew defusal the north rule names."""
    pages = frames[0]
    with _page_spread_uncoalesced(pages.sparkSession):
        # non-default budget: the cached fixture frame must not stand in
        page_frame = extract_pages(pages, PipelineConfig(anchor_budget=4001))
        skew_url = (
            page_frame.groupBy("url").count().orderBy(F.desc("count")).first()["url"]
        )
        n_parts = (
            page_frame.filter(F.col("url") == skew_url)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    assert n_parts > 1, "giant document stayed on one partition"


def test_forced_page_spread_is_byte_identical(frames):
    """Spread over every shuffle partition, the element-IR (linearize)
    path must still match the oracle byte for byte: placement never
    changes output bytes. A low spread threshold sends every pdf over
    4 pages through the element-IR path (and keeps the cached fixture
    frames from standing in)."""
    pages, _, _, expected_docs, expected_pages = frames
    config = PipelineConfig(spread_page_threshold=4)
    with _page_spread_uncoalesced(pages.sparkSession):
        page_frame = extract_pages(pages, config)
        n_parts = (
            page_frame.select(F.spark_partition_id()).distinct().count()
        )
        assert n_parts > 1
        got = page_frame.select(*PAGE_KEYS)
        exp = expected_pages.select(*PAGE_KEYS)
        cond = [got[k].eqNullSafe(exp[k]) for k in PAGE_KEYS]
        assert got.join(exp, cond, "left_anti").count() == 0
        assert exp.join(got, cond, "left_anti").count() == 0
        docs = extract_documents(pages, config)
        assert docs.join(expected_docs, DOC_KEYS, "left_anti").count() == 0
        assert expected_docs.join(docs, DOC_KEYS, "left_anti").count() == 0


def test_shuffles_carry_no_blob(frames):
    """Every exchange in the pipeline must move parsed IR / capped
    anchors, never the raw BINARY payload — at 100 TB shuffling the
    blobs would double the job's IO."""
    plan = _fresh_plan(frames)
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchanges, "no shuffle found"
    assert not any("html" in l for l in exchanges)


def test_page_exchange_is_aqe_rebalance(frames):
    """The page spread is an AQE rebalance on (url, page), so the
    linearize stage runs on as many Python tasks as the shuffle bytes
    need, not a fixed spark.sql.shuffle.partitions count. The single
    scan and blob-free exchanges still hold."""
    plan = _fresh_plan(frames)
    page_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning(url#" in l and ", page#" in l
    ]
    assert len(page_exchanges) == 1
    assert "REBALANCE_PARTITIONS_BY_COL" in page_exchanges[0]
    assert "REPARTITION_BY_NUM" not in page_exchanges[0]
    assert plan.count("FileScan") == 1
    assert not any("html" in l for l in plan.splitlines() if "Exchange" in l)


def test_job_level_observation_counters(spark, fixture_dir):
    from typhoon_ocr_spark.streaming.metrics import observed_page_frame

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    frame, obs = observed_page_frame(extract_pages(pages))
    frame.write.mode("overwrite").format("noop").save()
    counters = obs.get
    assert counters["n_pages"] > 200  # multi-page pdfs explode past doc count
    assert counters["n_html"] > 0 and counters["n_junk"] > 0
    assert counters["n_errors"] >= counters["n_junk"]


def test_error_rows_not_failures(spark):
    """Broken payloads yield success=false rows, never task failures
    (mirrors /root/reference/backend/services/ocr_service.py:254-262)."""
    rows = [
        ("u1", bytearray(b"%PDF-1.4 but broken")),
        ("u2", bytearray(b"\x00\xffjunk")),
        ("u3", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r["url"]: r for r in extract_documents(df).collect()}
    assert not out["u1"]["success"] and out["u1"]["kind"] == "pdf"
    assert not out["u2"]["success"] and out["u2"]["kind"] == "junk"
    assert not out["u3"]["success"] and out["u3"]["kind"] == "junk"
    assert all(r["extracted_text"] == "" for r in out.values())


def test_assembly_page_order(spark):
    """Assembly joins page texts in page order regardless of row order
    (reducer semantics of /root/reference/app.py:581)."""
    rows = [
        ("u", "pdf", 2, None, "second", True, None),
        ("u", "pdf", 1, None, "first", True, None),
        ("u", "pdf", 3, None, None, False, "boom"),
    ]
    df = spark.createDataFrame(
        rows, "url string, kind string, page int, anchor_text string, "
        "text string, success boolean, error string"
    )
    row = assemble_documents(df).collect()[0]
    assert row["extracted_text"] == "first\n\nsecond"
    assert row["page_count"] == 3
    assert row["success"] is False


def test_anchor_budget_config(spark, fixture_dir):
    """PipelineConfig.anchor_budget reaches the linearize UDF."""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    tiny = extract_pages(pages, PipelineConfig(anchor_budget=19))
    anchors = (
        tiny.filter((F.col("kind") == "pdf") & F.col("success"))
        .select("anchor_text")
        .limit(20)
        .collect()
    )
    assert anchors
    for r in anchors:
        assert r["anchor_text"].startswith("Page dimensions: ")
        assert r["anchor_text"].count("\n") == 1  # header only at budget<20


def test_round2_operator_plan_invariants(frames):
    """Round-2 operators: single pruned scan, no stray exchanges."""
    from typhoon_ocr_spark.operators import multimodal, weburl
    from typhoon_ocr_spark.operators.extract import extract_pdf_tables

    pages = frames[0]

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan_of(extract_pdf_tables(pages))
    assert p.count("Scan parquet") == 1
    assert "struct<url:string,html:binary>" in [
        l.split("ReadSchema:")[1].strip() for l in p.splitlines() if "ReadSchema" in l
    ][0]

    p = plan_of(weburl.url_normalize(pages))
    assert p.count("Scan parquet") == 1 and p.count("Exchange") == 0
    assert "html" not in [l for l in p.splitlines() if "ReadSchema" in l][0]

    # image_pixel_stats: single pruned scan; on this single-file
    # fixture layout the only allowed exchange is the r6 gated
    # adaptive spread (REPARTITION_BY_NUM; never fires on >=1 file
    # per core — pinned by test_stats_operators_are_map_only)
    p = plan_of(multimodal.image_pixel_stats(pages))
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange") <= 1
    assert p.count("Exchange") == 0 or "REPARTITION_BY_NUM" in p


def test_top_open_orders_is_take_ordered(spark):
    """Top-k must plan TakeOrderedAndProject (parallel partial top-k),
    never a row_number() over an unpartitioned window that funnels all
    rows through one task (VERDICT r3 'What's wrong' #1)."""
    from typhoon_ocr_spark.operators.relational import load_table, top_open_orders

    sf = "/root/testdata/sf0.001"
    df = top_open_orders(load_table(spark, sf, "orders"), load_table(spark, sf, "customer"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def _window_is_partitioned(line: str) -> bool:
    """A physical Window node prints [exprs], [partition], [order] when
    fully specified, [exprs], [partition] when unordered, and
    [exprs], [order] when UNPARTITIONED (single-task). Three groups is
    always partitioned; with two, the second group is an order spec —
    and the window unpartitioned — iff it carries sort directions."""
    groups, depth, buf = [], 0, []
    for ch in line:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth >= 1:
            buf.append(ch)
    if len(groups) >= 3:
        return True
    if len(groups) == 2:
        return not (" ASC" in groups[1] or " DESC" in groups[1])
    return False


def test_no_unpartitioned_window_in_query_suite(spark):
    """Every Window node across the full queries() suite must carry a
    partition spec — an empty one serializes the whole frame through
    one task at scale."""
    import re

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    checked = 0
    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:
            continue  # sf0.01-pinned fixture paths; covered by driver gate
        checked += 1
        for line in plan.splitlines():
            stripped = line.lstrip("+-: *(0123456789) ")
            if stripped.startswith("Window "):
                assert _window_is_partitioned(stripped), (
                    f"{name}: unpartitioned Window -> single-task sort: {stripped[:200]}"
                )
    assert checked >= 40
