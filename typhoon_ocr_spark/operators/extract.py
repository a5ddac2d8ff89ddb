"""The extraction pipeline as staged DataFrame transforms.

Spark-native rendering of the reference lifecycle (SURVEY.md §3.4),
arranged as a SINGLE map-only stage so the source is scanned exactly
once and no exchange sits above the parse UDF:

    read pages(url, warc_ts, html, text, lang)
      → kind = sniff(html)                    [native magic-byte exprs]
      → (optional) salted repartition by url  [input spread; or the gated
        _maybe_spread for an unsplittable input]
      → stage UDF: pdf→linearized page anchors / html→stripped text /
        image→dims anchor / junk→error row, routed INSIDE the Arrow batch
        [the one Python pass over the blobs]
      → extract_documents: assemble the page array with JVM
        higher-order functions (filter/transform/array_join, size,
        forall)                               [no shuffle]
        extract_pages: inline the page array → one row per (url, page)

Why not filter-per-kind branches + union: Catalyst pushes each branch's
kind-filter beneath the repartition, producing three FileScans of the
full BINARY column — a 3x read of the 100 TB input (observed via
.explain; see tests/test_spark_pipeline.py::test_single_scan). Routing
inside the batch keeps one scan and one Arrow exchange.

Column discipline: the blob column is dropped at the UDF boundary; only
the budget-capped per-page text leaves the Python worker. Every
document's pages come from one UDF call, so the document rollup needs no
regrouping. Skew is handled at the input (byte-sized splits, the gated
spread, salt_buckets): a giant document's parse runs in one task anyway,
and its linearize share is a fraction of that parse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import (
    ocr_message_shas_udf,
    page_renders_udf,
    page_tables_udf,
    sniff_kind_col,
    stage_pages_udf,
)
from ..plans.session import PipelineConfig

PAGE_COLUMNS = ["url", "kind", "page", "anchor_text", "text", "success", "error"]


def classify_pages(pages: DataFrame) -> DataFrame:
    """Attach the payload-kind routing column (native expressions)."""
    return pages.withColumn("kind", sniff_kind_col("html"))


def _staged(pages: DataFrame, config: PipelineConfig) -> DataFrame:
    """pages table → (url, kind, pages: array<struct<page, text,
    success, error>>), one row per input document, pages in page order,
    page texts final."""
    base = classify_pages(pages).select("url", "kind", "html")

    if config.salt_buckets:
        # Optional pre-parse spread for pathologically clustered inputs
        # (e.g. one input file holding all giant documents). Costs a
        # full shuffle of the raw blobs — the default relies on
        # spark.sql.files.maxPartitionBytes for input balance. It also
        # spreads an unsplittable input, so the gated spread below is
        # skipped (one blob shuffle, not two).
        n_salt = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        salt = F.pmod(F.xxhash64("url"), F.lit(config.salt_buckets))
        base = base.repartition(n_salt, F.xxhash64("url", salt))
    else:
        # Adaptive unsplittable-input guard (r6, shared with the corpus
        # operators): the parse stage below runs on the SCAN partitions,
        # and a single-file/few-row-group pages table caps it at the
        # row-group count (measured: 4 parse tasks on 32 cores at the
        # sf1.0 bench tier). The spread only fires when the input
        # provably cannot feed the cluster (files < cores AND total
        # bytes < cores × maxPartitionBytes) — a well-laid-out 100 TB
        # corpus never pays this blob shuffle.
        from .dedup import _maybe_spread

        base = _maybe_spread(base, "url")

    return base.select(
        "url",
        "kind",
        stage_pages_udf("url", "kind", "html", F.lit(config.anchor_budget)).alias(
            "pages"
        ),
    )


def extract_pages(pages: DataFrame, config: PipelineConfig = PipelineConfig()) -> DataFrame:
    """pages table → page-level extraction frame
    (url, kind, page, anchor_text, text, success, error)."""
    return _staged(pages, config).select("url", "kind", F.inline("pages")).select(
        "url",
        "kind",
        "page",
        F.when(F.col("kind").isin("pdf", "image"), F.col("text"))
        .otherwise(F.lit(None).cast("string"))
        .alias("anchor_text"),
        F.when(F.col("error").isNotNull(), F.lit(""))  # failed page rows
        .otherwise(F.col("text"))
        .alias("text"),
        "success",
        "error",
    )


def extract_pdf_tables(pages: DataFrame) -> DataFrame:
    """Deterministic table extraction: pdf payloads → one row per page
    whose positioned runs form a grid, rendered as GitHub markdown
    (oracle/tables.py clustering; the north star's "table-cell grouping
    into markdown tables"). Single scan, kind-routed natively, pdf
    payloads only reach the parse UDF. Output: (url, page, table_md)."""
    base = classify_pages(pages).select("url", "kind", "html")
    return (
        base.filter(F.col("kind") == "pdf")
        .select("url", F.explode(page_tables_udf("html")).alias("pt"))
        .select("url", F.col("pt.page").cast("long").alias("page"), "pt.table_md")
        .filter(F.col("table_md").isNotNull())
    )


def page_render_fingerprints(pages: DataFrame) -> DataFrame:
    """Layout rasters for every pdf page: real PNG render per page
    (oracle/render.py), surfaced as (url, page, render_w, render_h,
    render_sha) — the fingerprint proves the render path end-to-end
    without shipping image blobs through the plan. Single scan, pruned
    to url+html, pdf rows only reach the UDF."""
    base = classify_pages(pages).select("url", "kind", "html")
    return (
        base.filter(F.col("kind") == "pdf")
        .select("url", F.explode(page_renders_udf("html")).alias("pr"))
        .select(
            "url",
            F.col("pr.page").cast("long").alias("page"),
            F.col("pr.render_w").cast("long").alias("render_w"),
            F.col("pr.render_h").cast("long").alias("render_h"),
            "pr.render_sha",
        )
    )


def ocr_message_fingerprints(pages: DataFrame) -> DataFrame:
    """Per-page fingerprints of the full LLM request envelope (prompt
    template applied to the page anchor + the page's base64 PNG render)
    — the engine-side prepare_ocr_messages, proven end-to-end by sha
    without shuffling multi-KB envelopes. Output: (url, page,
    message_sha)."""
    base = classify_pages(pages).select("url", "kind", "html")
    return (
        base.filter(F.col("kind") == "pdf")
        .select("url", F.explode(ocr_message_shas_udf("url", "html")).alias("pm"))
        .select("url", F.col("pm.page").cast("long").alias("page"), "pm.message_sha")
    )


def _assembled(pages: Column) -> list:
    """The document fold over a page-ordered array of structs with page,
    text and success fields (the parse UDF's page structs, which also
    carry error, or assemble_documents' regrouped rows): the texts of
    successful pages joined "\\n\\n" in page order (reference
    app.py:581; array_join skips null texts), page_count = page total
    (ocr_service.py:117-124), success = all pages succeeded (the
    reference's all(), backend/services/ocr_service.py:321). JVM
    higher-order functions only — no Python, no shuffle."""
    return [
        F.array_join(
            F.transform(F.filter(pages, lambda p: p["success"]), lambda p: p["text"]),
            "\n\n",
        ).alias("extracted_text"),
        F.size(pages).cast("bigint").alias("page_count"),
        F.forall(pages, lambda p: p["success"]).alias("success"),
    ]


def assemble_documents(page_frame: DataFrame) -> DataFrame:
    """Page-level frame → per-document rollup, for page frames that were
    transformed after extract_pages (ocr_pages, the runner's
    page_transform, the job CLI): the page rows of each url are
    regrouped (one shuffle), ordered by page and folded by the same
    ``_assembled`` as extract_documents."""
    return (
        page_frame.groupBy("url")
        .agg(
            F.max("kind").alias("kind"),
            F.array_sort(F.collect_list(F.struct("page", "text", "success"))).alias(
                "pages"
            ),
        )
        .select("url", "kind", *_assembled(F.col("pages")))
    )


def extract_documents(pages: DataFrame, config: PipelineConfig = PipelineConfig()) -> DataFrame:
    """End-to-end: pages table → per-document extracted text
    (url, kind, extracted_text, page_count, success), one map-only stage.

    ``url`` is the pages table's unique key (FIXTURES.md §1): each
    output row is the fold of one input row's page array, and rows are
    not regrouped by url. The parse UDF emits pages in page order."""
    return _staged(pages, config).select("url", "kind", *_assembled(F.col("pages")))


def ocr_pages(
    page_frame: DataFrame,
    call_udf,
    error_value: str = "<failed>",
    task_type: str = "default",
) -> DataFrame:
    """The reference's per-page LLM loop as a page-frame transform
    (``ocr_document``, ocr_utils.py:660-716: anchor → prompt →
    endpoint call with bounded retries → response parse), composable
    with extract_pages upstream and assemble_documents downstream.

    Only successful pdf pages call the endpoint: their prompt column is
    non-null, everything else carries null and the call UDF's
    null-passthrough skips the request entirely (the WHEN can't gate
    the call itself — Catalyst extracts pandas UDFs into their own
    ArrowEvalPython node, which also guarantees ONE evaluation per row
    however many expressions reference the response). Pages whose call
    permanently fails become success=false rows with the error
    recorded — error-as-row, never a task failure
    (ocr_service.py:254-262)."""
    from ..functions.udfs import parse_response_udf, render_prompt_udf

    is_target = (F.col("kind") == "pdf") & F.col("success")
    prompt = F.when(
        is_target, render_prompt_udf(F.lit(task_type), F.col("anchor_text"))
    )
    with_resp = page_frame.withColumn("_resp", call_udf(prompt))
    failed = F.col("_resp") == error_value
    return (
        with_resp.withColumn(
            "text",
            F.when(is_target & ~failed, parse_response_udf(F.col("_resp")))
            .when(is_target & failed, F.lit(None).cast("string"))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "error",
            F.when(is_target & failed, F.lit("model call failed")).otherwise(
                F.col("error")
            ),
        )
        .withColumn("success", F.col("success") & ~F.coalesce(failed, F.lit(False)))
        .drop("_resp")
    )
