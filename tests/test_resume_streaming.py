"""Checkpoint-resume, lineage, metrics, and Structured Streaming tests
(north rule: "resumable from checkpoint with per-partition lineage +
metrics"; FIXTURES.md §4)."""

import os

import pytest
from pyspark.sql import functions as F

from typhoon_ocr_spark.streaming.runner import ResumableExtractJob, stream_extract

DOC_KEYS = ["url", "kind", "extracted_text", "page_count", "success"]


@pytest.fixture()
def pages_path(fixture_dir):
    return os.path.join(fixture_dir, "pages.parquet")


def test_resume_after_injected_crash(spark, fixture_dir, pages_path, tmp_path):
    out_root = str(tmp_path / "out")
    job = ResumableExtractJob(spark, pages_path, out_root, n_buckets=8)

    # crash after 3 bucket commits
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(fail_after=3)
    assert len(job.committed_buckets()) == 3
    partial = job.read_output()
    n_partial = partial.count()
    assert 0 < n_partial < 200

    # rerun: a fresh job instance (new run_id) resumes from the manifest
    job2 = ResumableExtractJob(spark, pages_path, out_root, n_buckets=8)
    summary = job2.run()
    assert summary["processed"] == 5  # only the uncommitted buckets
    assert len(job2.committed_buckets()) == 8

    final = job2.read_output()
    # every url exactly once — no loss, no double-writes
    assert final.count() == 200
    assert final.select("url").distinct().count() == 200
    # committed-by-first-run buckets kept the first run's lineage
    assert final.filter(F.col("run_id") == job.run_id).count() == n_partial

    # byte-identical vs expected even through the crash/resume path
    expected = spark.read.parquet(os.path.join(fixture_dir, "expected_docs.parquet"))
    assert final.select(*DOC_KEYS).join(expected, DOC_KEYS, "left_anti").count() == 0


def test_lineage_columns(spark, pages_path, tmp_path):
    job = ResumableExtractJob(spark, pages_path, str(tmp_path / "o"), n_buckets=4)
    job.run()
    out = job.read_output()
    assert {"run_id", "source_snapshot", "partition_id", "attempt"} <= set(out.columns)
    assert out.select("partition_id").distinct().count() == 4
    snap = out.select("source_snapshot").first()[0]
    assert pages_path in snap


def test_metrics_rows(spark, pages_path, tmp_path):
    job = ResumableExtractJob(spark, pages_path, str(tmp_path / "o"), n_buckets=4)
    job.run()
    metrics = job.metrics()
    assert len(metrics) == 4
    total_html = sum(m["n_html"] for m in metrics)
    total_image = sum(m["n_image"] for m in metrics)
    total_junk = sum(m["n_junk"] for m in metrics)
    assert total_html > 0 and total_image > 0 and total_junk > 0
    assert all(m["wall_ms"] > 0 for m in metrics)
    assert all(m["run_id"] == job.run_id for m in metrics)


def test_layout_partition_pruning(spark, pages_path, tmp_path):
    """Each bucket's read touches ONLY its own layout files — the input
    is scanned twice total (stage + pruned per-bucket reads), not once
    per bucket (VERDICT round 1 #3)."""
    job = ResumableExtractJob(spark, pages_path, str(tmp_path / "o"), n_buckets=4)
    job.run()
    for bucket in (0, 3):
        frame = job._bucket_frame(bucket)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert f"PartitionFilters: [isnotnull(bucket#" in plan
        assert f"= {bucket})]" in plan
        assert frame.count() > 0  # fixture corpus hashes into every bucket


def test_bucket_frames_share_one_layout_read(spark, pages_path, tmp_path, job_count):
    """The staged layout is read once per run: building every bucket's
    frame afterwards runs no Spark job (a schema-less read per bucket
    ran one each)."""
    job = ResumableExtractJob(spark, pages_path, str(tmp_path / "o"), n_buckets=8)
    job.run()
    frames = []
    assert job_count(lambda: frames.extend(job._bucket_frame(b) for b in range(8))) == 0
    assert sum(frame.count() for frame in frames) == 200


def test_stale_snapshot_fails_then_invalidates(spark, fixture_dir, tmp_path):
    import shutil
    import time as _time

    src = str(tmp_path / "pages.parquet")
    shutil.copy(os.path.join(fixture_dir, "pages.parquet"), src)
    out = str(tmp_path / "o")
    ResumableExtractJob(spark, src, out, n_buckets=4).run()

    # simulate an input update
    bump = _time.time() + 10
    os.utime(src, (bump, bump))

    # default policy: loud failure, no silent mixing
    with pytest.raises(RuntimeError, match="input changed"):
        ResumableExtractJob(spark, src, out, n_buckets=4).run()

    # invalidate policy: stale buckets reprocessed against the new input
    job3 = ResumableExtractJob(spark, src, out, n_buckets=4, stale_policy="invalidate")
    summary = job3.run()
    assert summary["processed"] == 4
    final = job3.read_output()
    assert final.count() == 200
    assert final.select("url").distinct().count() == 200
    # all output now carries the fresh snapshot
    assert final.select("source_snapshot").distinct().count() == 1


def test_stream_events_schema(spark, fixture_dir, tmp_path):
    """SSE-analog event rows: one start + one complete per batch,
    page_complete per successful page (200-char preview), error rows
    for failures (routes/ocr.py:199-207 vocabulary)."""
    src = str(tmp_path / "src")
    spark.read.parquet(os.path.join(fixture_dir, "pages.parquet")).repartition(
        2
    ).write.parquet(src)
    out, ckpt, ev = (str(tmp_path / d) for d in ("out", "ckpt", "events"))
    stream_extract(spark, src, out, ckpt, events_dir=ev)

    events = spark.read.parquet(ev)
    n_batches = events.select("batch_id").distinct().count()
    assert events.filter(F.col("event") == "start").count() == n_batches
    assert events.filter(F.col("event") == "complete").count() == n_batches

    docs = spark.read.parquet(out)
    n_ok_pages = (
        events.filter(F.col("event") == "page_complete").count()
    )
    # every successful page produced exactly one page_complete event
    expected_pages = spark.read.parquet(
        os.path.join(fixture_dir, "expected_pages.parquet")
    )
    assert n_ok_pages == expected_pages.filter("success").count()
    # failures surface as error events with a message
    n_err = events.filter((F.col("event") == "error") & F.col("error").isNotNull()).count()
    assert n_err == expected_pages.filter("NOT success").count()
    # previews truncated to the reference's 200 chars
    too_long = events.filter(F.length("preview") > 200).count()
    assert too_long == 0
    # totals on the complete rows line up with the docs sink
    agg = events.filter(F.col("event") == "complete").agg(
        F.sum("n_total").alias("t"), F.sum("n_done").alias("d")
    ).first()
    assert agg["t"] == expected_pages.count()
    assert docs.count() == 200


def test_stream_batch_replay_is_idempotent(spark, pages_path, tmp_path):
    """A replayed foreachBatch invocation (crash between sink write and
    checkpoint commit) must overwrite its own partition, not append
    duplicates (ADVICE round 1)."""
    from typhoon_ocr_spark.streaming.runner import write_stream_batch

    df = spark.read.parquet(pages_path).limit(40)
    out = str(tmp_path / "out")
    write_stream_batch(df, 7, out)
    first = spark.read.parquet(out)
    n_first = first.count()
    assert n_first == 40

    write_stream_batch(df, 7, out)  # replay of the same batch
    replayed = spark.read.parquet(out)
    assert replayed.count() == n_first
    assert replayed.select("url").distinct().count() == n_first


def test_rerun_is_noop_when_complete(spark, pages_path, tmp_path):
    out_root = str(tmp_path / "o")
    ResumableExtractJob(spark, pages_path, out_root, n_buckets=4).run()
    summary = ResumableExtractJob(spark, pages_path, out_root, n_buckets=4).run()
    assert summary["processed"] == 0


def test_watermarked_hourly_windows(spark, tmp_path):
    """Watermarked tumbling windows over a drained stream agree with
    the batch rollup for every window that finalized (append mode emits
    only windows the watermark has passed)."""
    from typhoon_ocr_spark.operators.relational import events_hourly
    from typhoon_ocr_spark.streaming.windowed import run_hourly_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "events_src")
    # multiple files so the drain takes several micro-batches; order
    # within parquet files is event-time-sorted enough for a 2h watermark
    events.orderBy("ts").coalesce(4).write.parquet(src)

    out = str(tmp_path / "win_out")
    run_hourly_stream(spark, src, out, str(tmp_path / "ckpt"))
    streamed = spark.read.parquet(out)
    batch = events_hourly(events)

    assert streamed.count() > 0
    # every emitted (finalized) window matches the batch result exactly
    mism = streamed.join(
        batch, ["hour_epoch", "event_type", "n_events", "sum_value"], "left_anti"
    ).count()
    assert mism == 0
    # the only windows NOT emitted are at the tail the watermark never
    # passed (append-mode semantics)
    missing = batch.join(streamed, ["hour_epoch", "event_type"], "left_anti")
    if missing.count():
        tail_start = missing.agg({"hour_epoch": "min"}).first()[0]
        max_emitted = streamed.agg({"hour_epoch": "max"}).first()[0]
        assert tail_start > max_emitted


def test_stream_extract_checkpointed(spark, fixture_dir, tmp_path):
    """Structured Streaming drain (foreachBatch + AvailableNow) produces
    the same per-url output as the batch pipeline; a second invocation
    with the same checkpoint processes nothing new."""
    # streaming source needs a directory of files
    src = str(tmp_path / "src")
    spark.read.parquet(os.path.join(fixture_dir, "pages.parquet")).repartition(
        4
    ).write.parquet(src)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_extract(spark, src, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 200
    expected = spark.read.parquet(os.path.join(fixture_dir, "expected_docs.parquet"))
    assert got.select(*DOC_KEYS).join(expected, DOC_KEYS, "left_anti").count() == 0

    # resume with nothing new → no duplicate outputs
    stream_extract(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 200


def test_bucket_count_change_fails_loudly(spark, pages_path, tmp_path):
    """Rehashing an existing out_root with a different bucket count
    would orphan staged rows or commit fabricated-empty buckets."""
    out = str(tmp_path / "o")
    with pytest.raises(RuntimeError, match="injected failure"):
        ResumableExtractJob(spark, pages_path, out, n_buckets=8).run(fail_after=1)
    with pytest.raises(RuntimeError, match="n_buckets"):
        ResumableExtractJob(spark, pages_path, out, n_buckets=4).run()
    # original count resumes fine
    summary = ResumableExtractJob(spark, pages_path, out, n_buckets=8).run()
    assert summary["committed"] == 8
