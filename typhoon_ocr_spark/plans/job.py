"""spark-submit entry point for the extraction pipeline.

Cluster usage (the north-rule launch shape):

    zip -r engine.zip typhoon_ocr_spark
    spark-submit --py-files engine.zip -m typhoon_ocr_spark.plans.job \\
        --input s3://bucket/pages --output s3://bucket/extracted \\
        --mode resumable --buckets 4096 --anchor-budget 4000

Local smoke:

    python -m typhoon_ocr_spark.plans.job \\
        --input data/pages_sf0.001/pages.parquet --output /tmp/extracted

Modes:
- ``batch``      one-shot extract → parquet
- ``resumable``  manifest-committed buckets (kill-safe, default)
- ``stream``     Structured Streaming drain with checkpointing

The ``--pages`` expression ("1-3,5") filters PDF pages post-extraction,
mirroring the reference's page selection
(/root/reference/backend/routes/ocr.py:85-103).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from ..operators.extract import extract_documents, extract_pages
from ..oracle.pagerange import parse_page_ranges
from .session import PipelineConfig, build_session


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="typhoon-ocr-spark")
    parser.add_argument("--input", required=True, help="pages table path (parquet)")
    parser.add_argument("--output", required=True, help="output root")
    parser.add_argument("--mode", choices=("batch", "resumable", "stream"),
                        default="resumable")
    parser.add_argument("--buckets", type=int, default=64,
                        help="manifest buckets (resumable mode)")
    parser.add_argument("--anchor-budget", type=int, default=4000)
    parser.add_argument("--pages", default=None,
                        help="page expression, e.g. '1-3,5' (PDF page filter)")
    parser.add_argument("--page-level", action="store_true",
                        help="emit page-level rows instead of per-document rollup")
    parser.add_argument("--checkpoint", default=None, help="stream-mode checkpoint dir")
    parser.add_argument("--stale-policy", choices=("fail", "invalidate"), default="fail",
                        help="resumable mode: what to do with buckets committed "
                             "against an older input snapshot")
    parser.add_argument("--events", action="store_true",
                        help="stream mode: also emit SSE-analog progress event rows")
    parser.add_argument("--endpoint-url", default=None,
                        help="OpenAI-compatible base URL (e.g. http://host/v1): run the "
                             "full OCR composition — per-page prompt -> endpoint call "
                             "with bounded retry -> parse -> assembly — instead of "
                             "extraction only. API key from TYPHOON_OCR_API_KEY / "
                             "TYPHOON_API_KEY / OPENAI_API_KEY (never argv)")
    parser.add_argument("--model", default=None,
                        help="model name (default: TYPHOON_OCR_MODEL env, then typhoon-ocr)")
    parser.add_argument("--task-type", default="default",
                        choices=("default", "structure", "v1.5"))
    parser.add_argument("--attempts", type=int, default=5,
                        help="per-page endpoint retry bound (reference: 5, 2**n backoff)")
    parser.add_argument("--max-in-flight", type=int, default=5,
                        help="concurrent endpoint calls per Python worker (reference: "
                             "asyncio.Semaphore(5))")
    parser.add_argument("--master", default=None)
    args = parser.parse_args(argv)

    spark = build_session(app_name="typhoon-ocr-spark-job", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    config = PipelineConfig(anchor_budget=args.anchor_budget)

    page_transform = None
    if args.endpoint_url:
        from ..functions.endpoint import make_chat_endpoint_fn
        from ..functions.udfs import make_external_call_udf
        from ..operators.extract import ocr_pages

        call_udf = make_external_call_udf(
            make_chat_endpoint_fn(
                args.endpoint_url, model=args.model, task_type=args.task_type
            ),
            attempts=args.attempts,
            error_value="<failed>",
            max_in_flight=args.max_in_flight,
        )
        page_transform = lambda pf: ocr_pages(  # noqa: E731
            pf, call_udf, error_value="<failed>", task_type=args.task_type
        )

    if args.mode == "stream":
        if page_transform is not None:
            parser.error("--endpoint-url is supported in batch/resumable modes; "
                         "stream mode extracts only (wire ocr_pages into "
                         "write_stream_batch to change that)")
        from ..streaming.runner import stream_extract

        ckpt = args.checkpoint or f"{args.output}/_checkpoint"
        events_dir = f"{args.output}/events" if args.events else None
        stream_extract(spark, args.input, f"{args.output}/docs", ckpt, config,
                       events_dir=events_dir)
        print(json.dumps({"mode": "stream", "output": args.output,
                          "events": bool(events_dir)}))
        return 0

    if args.mode == "resumable" and not args.page_level:
        from ..streaming.runner import ResumableExtractJob

        job = ResumableExtractJob(
            spark, args.input, args.output, n_buckets=args.buckets, config=config,
            stale_policy=args.stale_policy, page_transform=page_transform,
        )
        summary = job.run()
        print(json.dumps({"mode": "resumable", **summary,
                          "metrics": job.metrics()[:3]}))
        return 0

    from ..operators.extract import assemble_documents
    from ..streaming.metrics import observed_page_frame

    pages = spark.read.parquet(args.input)
    page_frame = extract_pages(pages, config)
    if page_transform is not None:
        page_frame = page_transform(page_frame)
    frame, observation = observed_page_frame(page_frame)
    if args.page_level:
        wanted = parse_page_ranges(args.pages)
        if wanted:
            frame = frame.filter(
                (F.col("kind") != "pdf") | F.col("page").isin(wanted)
            )
        frame.write.mode("overwrite").parquet(f"{args.output}/pages")
    else:
        assemble_documents(frame).write.mode("overwrite").parquet(
            f"{args.output}/docs"
        )
    print(json.dumps({"mode": args.mode, "output": args.output,
                      "metrics": observation.get}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
