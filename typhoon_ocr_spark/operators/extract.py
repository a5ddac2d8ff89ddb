"""The extraction pipeline as staged DataFrame transforms.

Spark-native rendering of the reference lifecycle (SURVEY.md §3.4),
arranged as a SINGLE lineage so the source is scanned exactly once:

    read pages(url, warc_ts, html, text, lang)
      → kind = sniff(html)                    [native magic-byte exprs]
      → (optional) salted repartition by url  [shuffle 0 — input spread]
      → stage-1 UDF: pdf→layout IR pages / html→stripped text / junk→
        error row, routed INSIDE the Arrow batch   [one pass over blobs]
      → posexplode page array → one row per (url, page)
      → rebalance(url, page)                  [shuffle 1 — skew defusal:
        a 1000-page document's pages hash across every post-shuffle
        partition; AQE sizes the partition count from shuffle bytes]
      → linearize anchor UDF (no-op for html/junk rows)
      → groupBy(url) assembly                 [shuffle 2 — the reducer]

Why not filter-per-kind branches + union: Catalyst pushes each branch's
kind-filter beneath the repartition, producing three FileScans of the
full BINARY column — a 3x read of the 100 TB input (observed via
.explain; see tests/test_spark_pipeline.py::test_single_scan). Routing
inside the batch keeps one scan and one Arrow exchange.

Column discipline: the blob column is dropped at the explode boundary;
the page-spread shuffle moves parsed IR (elements/stripped text), not
raw payload bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import (
    linearize_anchor_udf,
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


def extract_pages(pages: DataFrame, config: PipelineConfig = PipelineConfig()) -> DataFrame:
    """pages table → page-level extraction frame
    (url, kind, page, anchor_text, text, success, error)."""
    base = classify_pages(pages).select("url", "kind", "html")

    if config.salt_buckets:
        # Optional pre-parse spread for pathologically clustered inputs
        # (e.g. one input file holding all giant documents). Costs a
        # full shuffle of the raw blobs — the default relies on
        # spark.sql.files.maxPartitionBytes for input balance and
        # defuses skew after parsing, where rows are smaller. It also
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

    staged = base.select(
        "url",
        "kind",
        F.posexplode(
            stage_pages_udf(
                "url",
                "kind",
                "html",
                F.lit(config.anchor_budget),
                F.lit(config.spread_page_threshold),
            )
        ).alias("_pos", "pg"),
    ).select("url", "kind", "pg.page", "pg.mediabox", "pg.elements", "pg.text", "pg.error")

    # Spread exchange before the remaining CPU-heavy work. Bounded docs
    # already carry their final (budget-capped) anchor text, so the
    # exchange moves small strings. It decouples parse-stage stragglers
    # from linearize + assembly (the 32-core win of BENCH.md round 2),
    # and hashing on (url, page) fans the skew cohort's element IR out
    # over every post-shuffle partition. A rebalance, not a fixed-count
    # repartition: every Python task pays a fixed start-up cost
    # (BENCH.md, "Per-Python-task fixed cost"), so AQE sizes the
    # partition count from the shuffle bytes and splits oversized
    # partitions instead of launching spark.sql.shuffle.partitions
    # Python tasks over a few MB of anchors.
    spread = staged.hint("rebalance", F.col("url"), F.col("page"))

    anchor = F.when(
        F.col("elements").isNotNull(),
        linearize_anchor_udf(
            "url", "page", "mediabox", "elements", F.lit(config.anchor_budget)
        ),
    ).otherwise(F.col("text"))

    return spread.withColumn("anchor_or_text", anchor).select(
        "url",
        "kind",
        "page",
        F.when(F.col("kind").isin("pdf", "image"), F.col("anchor_or_text"))
        .otherwise(F.lit(None).cast("string"))
        .alias("anchor_text"),
        F.when(F.col("error").isNotNull(), F.lit(""))  # failed page rows
        .otherwise(F.col("anchor_or_text"))
        .alias("text"),
        F.col("error").isNull().alias("success"),
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


def assemble_documents(page_frame: DataFrame) -> DataFrame:
    """Page-level frame → per-document rollup.

    The reducer from the reference's document assembly: page texts
    joined "\\n\\n" in page order (/root/reference/app.py:581), success
    = all pages succeeded (bool_and ≡ the reference's all(),
    /root/reference/backend/services/ocr_service.py:321), page_count =
    page total (ocr_service.py:117-124). All JVM-side: sort_array over
    (page, text) structs + transform + array_join — no Python in the
    reduce path, and partial aggregation runs map-side.
    """
    ok_struct = F.when(
        F.col("success") & F.col("text").isNotNull(), F.struct("page", "text")
    )
    return (
        page_frame.groupBy("url")
        .agg(
            F.max("kind").alias("kind"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(ok_struct)), lambda s: s["text"]
                ),
                "\n\n",
            ).alias("extracted_text"),
            F.count("page").alias("page_count"),
            F.expr("bool_and(success)").alias("success"),
        )
    )


def extract_documents(pages: DataFrame, config: PipelineConfig = PipelineConfig()) -> DataFrame:
    """End-to-end: pages table → per-document extracted text."""
    return assemble_documents(extract_pages(pages, config))


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
