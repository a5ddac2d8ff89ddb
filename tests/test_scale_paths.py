"""Scale-path features: salted spread, bucketed co-located joins,
stateful streaming operator."""

import os

import pytest
from pyspark.sql import functions as F

from typhoon_ocr_spark.operators.extract import extract_documents
from typhoon_ocr_spark.plans.session import PipelineConfig
from typhoon_ocr_spark.sources.bucketing import colocated_join, write_bucketed

DOC_KEYS = ["url", "kind", "extracted_text", "page_count", "success"]


def test_salted_spread_is_byte_identical(spark, fixture_dir):
    """The optional pre-parse salted repartition (north rule's skew
    defusal for pathologically clustered inputs) must not change any
    output byte."""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    expected = spark.read.parquet(os.path.join(fixture_dir, "expected_docs.parquet"))
    salted = extract_documents(pages, PipelineConfig(salt_buckets=4))
    assert salted.join(expected, DOC_KEYS, "left_anti").count() == 0
    assert expected.join(salted, DOC_KEYS, "left_anti").count() == 0


def test_salt_replaces_the_gated_spread(spark, fixture_dir):
    """salt_buckets already spreads the parse stage, so the gated
    unsplittable-input spread must not add a second blob shuffle: on
    the single-file fixture (where the gate fires) exactly one exchange
    sits below the parse UDF."""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    assert len(pages.inputFiles()) < spark.sparkContext.defaultParallelism
    df = extract_documents(pages, PipelineConfig(salt_buckets=4))
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    parse = next(
        i for i, l in enumerate(lines)
        if "ArrowEvalPython" in l and "stage_pages_udf" in l
    )
    below = [l for l in lines[parse + 1:] if "Exchange" in l]
    assert len(below) == 1
    assert "xxhash64" in below[0]


def test_spread_gate_leaves_uninspectable_frames_alone(spark):
    """Frames with no input files (in-memory, JDBC, catalog providers)
    or whose inputFiles() raises are returned untouched: the byte-size
    gate cannot inspect them, so it must not add a shuffle."""
    from unittest import mock

    from typhoon_ocr_spark.plans.spread import maybe_spread

    df = spark.createDataFrame([(i, "x") for i in range(8)], "doc_id long, text string")
    assert df.inputFiles() == []
    assert maybe_spread(df, "doc_id") is df
    with mock.patch.object(type(df), "inputFiles", side_effect=RuntimeError("no")):
        assert maybe_spread(df, "doc_id") is df


def test_spread_gate_reads_byte_suffixes(spark, fixture_dir):
    """spark.sql.files.maxPartitionBytes is read as Spark reads it
    ('128m' is 128 MiB, not 128 bytes), so a small single-file input
    still gets the gated spread under a suffixed setting."""
    from typhoon_ocr_spark.plans.spread import _byte_string_as_bytes, maybe_spread

    assert _byte_string_as_bytes("134217728") == 134217728
    assert _byte_string_as_bytes("134217728b") == 134217728
    assert _byte_string_as_bytes("128m") == 128 << 20
    assert _byte_string_as_bytes(" 64KB ") == 64 << 10
    assert _byte_string_as_bytes("1g") == 1 << 30
    for bad in ("", "1.5g", "12 m", "m", "3x"):
        with pytest.raises(ValueError):
            _byte_string_as_bytes(bad)

    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "128m")
    try:
        plan = maybe_spread(pages, "url")._jdf.queryExecution().executedPlan()
        assert "REPARTITION_BY_NUM" in plan.toString()
    finally:
        spark.conf.set(key, prev)


def test_bucketed_join_has_no_exchange(spark, fixture_dir):
    """Equally-bucketed tables join without shuffling either side."""
    pages = spark.read.parquet(os.path.join(fixture_dir, "pages.parquet"))
    extracted = extract_documents(pages)
    expected = spark.read.parquet(os.path.join(fixture_dir, "expected_docs.parquet"))

    write_bucketed(extracted, "t_extracted", "url", 8, sorted_by="url")
    write_bucketed(expected.select("url", F.col("extracted_text").alias("exp_text")),
                   "t_expected", "url", 8, sorted_by="url")
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the fixture tables are tiny → AQE would broadcast; disable so the
    # plan demonstrates the bucketed (shuffle-free sort-merge) path the
    # big-table case takes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "t_extracted", "t_expected", on="url")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, "bucketed join shuffled"
        # and the join is correct: every url matches its expected text
        n_bad = joined.filter(F.col("extracted_text") != F.col("exp_text")).count()
        assert n_bad == 0
        assert joined.count() == expected.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS t_extracted")
        spark.sql("DROP TABLE IF EXISTS t_expected")


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState carries keyed state across micro-batches:
    the second batch's cumulative totals include the first batch."""
    from typhoon_ocr_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    os.makedirs(src)
    batch1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id long, value double"
    )
    batch2 = spark.createDataFrame(
        [(1, 2.0), (3, 7.0)], "user_id long, value double"
    )
    batch1.coalesce(1).write.parquet(src + "/b1")
    batch2.coalesce(1).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out_rows = []

    def collect_batch(df, batch_id):
        out_rows.extend((batch_id, tuple(r)) for r in df.collect())

    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .foreachBatch(collect_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # cumulative totals per user, regardless of which batch each file
    # landed in (files may arrive in either order)
    final = {}
    for _, (user, n, total, batch_n) in out_rows:
        final[user] = (n, total)
        assert batch_n <= n  # cumulative >= batch contribution
    assert final[1] == (3, 17.0)
    assert final[2] == (1, 1.0)
    assert final[3] == (1, 7.0)
    # state actually crossed batches: user 1 appears with a cumulative
    # count larger than any single batch contribution
    user1_rows = [r for _, r in out_rows if r[0] == 1]
    assert any(r[1] > r[3] for r in user1_rows)


def test_streaming_near_dups_batch_parity(spark, tmp_path):
    """streaming_near_dups over one micro-batch yields exactly the batch
    dedup.minhash_candidate_pairs of the same frame: the stream takes
    its bands from minhash_bands, so tokenizer, shingles and band
    hashes cannot drift between the two. Thai, punctuation, too-short,
    null and empty texts pair with nothing; the case/punctuation
    variant and the one-word extension pair with their originals."""
    from typhoon_ocr_spark.operators.dedup import minhash_candidate_pairs
    from typhoon_ocr_spark.streaming.stateful import streaming_near_dups

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "ข้อมูล เอกสาร ระบบ ภาษา ไทย 123 mixed LANGUAGE text",
        "short one",  # <3 tokens → no bands
        "punct,separated;tokens!here  double  spaces",
        None,  # null text → no bands
        "",  # empty text → no bands
        "The Quick brown FOX -- jumps over the lazy dog!",
        "ข้อมูล เอกสาร ระบบ ภาษา ไทย 123 mixed LANGUAGE text again",
    ]
    schema = "doc_id string, text string"
    docs = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)], schema)
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)

    stream_pairs: set = set()
    q = (
        streaming_near_dups(spark.readStream.schema(schema).parquet(src))
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: stream_pairs.update(
                (r["doc_a"], r["doc_b"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch_pairs = {tuple(r) for r in minhash_candidate_pairs(docs).collect()}
    assert stream_pairs == batch_pairs and batch_pairs  # identical, non-trivial
    assert ("0", "6") in batch_pairs


def test_row_map_contract(spark):
    """functions.udfs.row_map, the one mapInArrow pass behind every
    per-payload operator: None inputs reach ``fn``, ``fn`` fans a row
    out to 0, 1 or 3 rows, the id column keeps its name, type and
    values (string and bigint ids), a two-input ``fn`` works, and an
    input whose rows all emit nothing is an empty frame with the
    declared schema."""
    from typhoon_ocr_spark.functions.udfs import row_map

    def fan(v):
        if v is None:
            return [("<null>", -1)]
        return [(v, i) for i in range(len(v))]  # "" → 0 rows, "abc" → 3

    for id_type, ids in (
        ("string", ["u1", "u2", "u3", "u4"]),
        ("bigint", [10, 2**40, -3, 7]),
    ):
        src = spark.createDataFrame(
            list(zip(ids, [None, "", "a", "abc"])), f"key {id_type}, v string"
        )
        out = row_map(src, fan, "s string, i long")
        assert out.schema.simpleString() == f"struct<key:{id_type},s:string,i:bigint>"
        assert sorted(tuple(r) for r in out.collect()) == sorted(
            [(ids[0], "<null>", -1), (ids[2], "a", 0)]
            + [(ids[3], "abc", i) for i in range(3)]
        )

    # two inputs, the id passed again as one (ocr_message_fingerprints'
    # (url, url, html) shape)
    two = spark.createDataFrame(
        [(1, "x", 2), (2, "y", None)], "id bigint, s string, n int"
    )
    out = row_map(
        two.select("id", "id", "s", "n"),
        lambda i, s, n: [(f"{i}:{s * (n or 0)}",)],
        "rep string",
    )
    assert sorted(tuple(r) for r in out.collect()) == [(1, "1:xx"), (2, "2:")]

    empty = row_map(
        spark.createDataFrame([("a", "x"), ("b", None)], "key string, v string"),
        lambda v: [],
        "s string, i long",
    )
    assert empty.schema.simpleString() == "struct<key:string,s:string,i:bigint>"
    assert empty.collect() == []


def test_streaming_near_dup_flags_across_batches(spark, tmp_path):
    """A near-duplicate arriving in batch 2 of a document from batch 1
    is flagged (band-bucket state survives the micro-batch boundary);
    unrelated documents are not."""
    from typhoon_ocr_spark.streaming.stateful import streaming_near_dups

    base = "the quick brown fox jumps over the lazy dog again and again today"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [("d1", base), ("dx", "completely different words about another topic entirely here")],
        "doc_id string, text string",
    ).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(
        [("d2", base + " extra"), ("dy", "yet another unrelated subject matter text body")],
        "doc_id string, text string",
    ).coalesce(1).write.parquet(src + "/b2")

    per_batch: dict = {}

    def sink(df, bid):
        per_batch.setdefault(bid, set()).update(
            (r["doc_a"], r["doc_b"]) for r in df.collect()
        )

    q = (
        streaming_near_dups(
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    all_pairs = set().union(*per_batch.values()) if per_batch else set()
    assert ("d1", "d2") in all_pairs  # cross-batch near-dup flagged
    assert not any("dx" in p or "dy" in p for p in all_pairs)
    # flagged in a LATER batch than d1's arrival (state crossed batches;
    # file order isn't pinned, so assert the pair surfaced alone)
    batches_with_pair = [b for b, ps in per_batch.items() if ("d1", "d2") in ps]
    assert batches_with_pair and min(batches_with_pair) >= 1


def test_streaming_near_dup_state_ttl_evicts():
    """TTL semantics (unit-level — Spark only fires processing-time
    timeouts on continuous triggers): an expired-idle bucket is removed
    and emits nothing; a live bucket re-arms its timeout each batch; a
    near-dup arriving AFTER eviction finds an empty bucket."""
    import pandas as pd

    from typhoon_ocr_spark.streaming.stateful import _bucket_update_ttl

    class StubState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None
            self.timeouts = []

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = v

        def remove(self):
            self.exists = False
            self._v = None

        def setTimeoutDuration(self, ms):
            self.timeouts.append(ms)

    state = StubState()

    def arrive(docs):
        return list(
            _bucket_update_ttl(
                (0, "h"), [pd.DataFrame({"doc_id": docs})], state, 500
            )
        )

    assert arrive(["d1"]) == [] and state.exists       # stored, armed
    assert state.timeouts == [500]
    state.hasTimedOut = True                           # idle past TTL
    assert arrive([]) == [] and not state.exists       # evicted
    assert state.timeouts == [500]                     # no re-arm on evict
    state.hasTimedOut = False
    assert arrive(["d2"]) == []                        # empty bucket: no pair
    assert list(state.get[0]) == ["d2"]
    assert state.timeouts == [500, 500]                # re-armed


def test_streaming_near_dup_replay_is_idempotent():
    """A replayed arrival (at-least-once source) must not duplicate
    state entries or re-emit its pairs (unit-level: _bucket_update with
    a stub GroupState)."""
    import pandas as pd

    from typhoon_ocr_spark.streaming.stateful import _bucket_update

    class StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = v

    state = StubState()

    def run(docs):
        return list(
            _bucket_update((0, "h"), [pd.DataFrame({"doc_id": docs})], state)
        )

    assert run(["d1"]) == []                       # first arrival: stored
    assert len(run(["d2"])[0]) == 1                # pairs with d1
    assert run(["d1"]) == []                       # replay: no re-emit
    assert run(["d1", "d1"]) == []                 # same-batch dup replay
    assert list(state.get[0]) == ["d1", "d2"]      # no duplicate state


def test_streaming_near_dup_numeric_ids_order_numerically(spark, tmp_path):
    """Long doc_ids keep their type end-to-end: pair order is numeric
    (9 < 10), matching the batch twin's struct comparison — lexicographic
    '10' < '9' would break batch/stream reconciliation."""
    from typhoon_ocr_spark.streaming.stateful import streaming_near_dups

    text = "shared words forming the very same shingle set every time"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(9, text), (10, text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b1")

    rows: list = []
    q = (
        streaming_near_dups(
            spark.readStream.schema("doc_id long, text string").parquet(src + "/*")
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert rows and all(r["doc_a"] == 9 and r["doc_b"] == 10 for r in rows)
    assert isinstance(rows[0]["doc_a"], int)


def test_streaming_near_dup_state_is_bounded(spark, tmp_path):
    """A viral-duplicate flood larger than STREAM_BUCKET_CAP keeps each
    bucket's state at the cap: late arrivals still pair against the
    stored members (bounded fan-out) but are not remembered."""
    from typhoon_ocr_spark.streaming.stateful import (
        STREAM_BUCKET_CAP,
        streaming_near_dups,
    )

    text = "one viral document duplicated across the whole crawl corpus body"
    n = STREAM_BUCKET_CAP + 9
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(f"d{i:03d}", text) for i in range(n)], "doc_id string, text string"
    ).coalesce(1).write.parquet(src + "/b1")

    rows: list = []
    q = (
        streaming_near_dups(
            spark.readStream.schema("doc_id string, text string").parquet(src + "/*")
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    per_band: dict = {}
    for r in rows:
        per_band.setdefault((r["band"], r["band_hash"]), []).append(
            (r["doc_a"], r["doc_b"])
        )
    assert per_band
    for pairs in per_band.values():
        # arrival k pairs with min(k, CAP) stored members
        expect = sum(min(k, STREAM_BUCKET_CAP) for k in range(n))
        assert len(pairs) == expect
        # capped: no doc beyond the first CAP ever appears as the STORED
        # side for later arrivals more than the cap allows
        stored = {a for a, _ in pairs} | {b for _, b in pairs}
        assert len(stored) == n  # every doc still got flagged


def test_streaming_first_seen_dedup(spark, tmp_path):
    """Continuous exact dedup: the first arrival per key is emitted
    once; duplicates inside a batch AND across later micro-batches are
    dropped (keyed GroupState survives the batch boundary)."""
    from typhoon_ocr_spark.streaming.stateful import streaming_first_seen

    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [("k1", "u1-first"), ("k1", "u1-dup-same-batch"), ("k2", "u2-first")],
        "key string, url string",
    )
    b2 = spark.createDataFrame(
        [("k1", "u1-dup-later-batch"), ("k3", "u3-first")],
        "key string, url string",
    )
    b1.coalesce(1).write.parquet(src + "/b1")
    b2.coalesce(1).write.parquet(src + "/b2")

    out_rows = []
    q = (
        streaming_first_seen(
            spark.readStream.schema("key string, url string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out_rows.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = dict(out_rows)
    assert len(out_rows) == 3  # exactly one emission per distinct key
    assert set(emitted) == {"k1", "k2", "k3"}
    # k1 emits whichever arrival came first (file order is not pinned),
    # but never the same-batch duplicate
    assert emitted["k1"] in ("u1-first", "u1-dup-later-batch")
    assert emitted["k1"] != "u1-dup-same-batch"


def test_streaming_corpus_keep(spark, tmp_path):
    """Continuous training-set gate: quality/lang filters run stateless
    BEFORE the keyed store (bad rows never create state), exact-dedup
    survivorship holds across micro-batch boundaries."""
    from typhoon_ocr_spark.streaming.stateful import streaming_corpus_keep

    good_a = "spark engine extract pipeline cluster data rows batch"
    good_c = "anchor text layout page table column vector partition"
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [
            (1, good_a, "en"),   # kept: first arrival
            (2, "", "en"),       # dropped: quality (never enters state)
            (3, good_c, "de"),   # dropped: unknown lang
        ],
        "doc_id long, text string, lang string",
    )
    b2 = spark.createDataFrame(
        [
            (4, good_a, "en"),   # dropped: dup of doc 1 across batches
            (5, good_c, "th"),   # kept: same text doc 3 failed on LANG,
                                 # so it never claimed the state slot
        ],
        "doc_id long, text string, lang string",
    )
    b1.coalesce(1).write.parquet(src + "/b1")
    b2.coalesce(1).write.parquet(src + "/b2")

    out_rows = []
    q = (
        streaming_corpus_keep(
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: out_rows.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    kept_ids = sorted(url for _, url in out_rows)
    # file order is not pinned, but doc 4 can only win its slot if b2
    # ran first; either way exactly TWO texts survive
    assert len(out_rows) == 2
    assert kept_ids in (["1", "5"], ["4", "5"])


def test_streaming_sequence_pack_matches_batch_twin(spark, tmp_path):
    """One micro-batch delivered in doc_id order == the batch packer's
    plan exactly (same tokenizer expression, same shard math)."""
    from typhoon_ocr_spark.operators.sampling import sequence_pack_plan
    from typhoon_ocr_spark.streaming.stateful import streaming_sequence_pack

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out_rows = []
    q = (
        streaming_sequence_pack(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out_rows.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    expected = {tuple(r) for r in sequence_pack_plan(docs).collect()}
    assert set(out_rows) == expected and out_rows


def test_streaming_sequence_pack_state_across_batches(spark, tmp_path):
    """The per-shard token offset survives micro-batch boundaries:
    whatever order the two files trigger in, each shard's emitted
    (seq_offset, n_tokens) spans tile [0, total_tokens) exactly —
    impossible unless the second batch continued from stored state."""
    from typhoon_ocr_spark.streaming.stateful import streaming_sequence_pack

    b1 = spark.createDataFrame(
        [(0, "alpha beta gamma"), (16, "delta epsilon"), (1, "one two three")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(32, "zeta eta theta iota"), (17, "four five six seven")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1.coalesce(1).write.parquet(src + "/b1")
    b2.coalesce(1).write.parquet(src + "/b2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out_rows = []
    q = (
        streaming_sequence_pack(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out_rows.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    by_shard = {}
    for doc_id, shard, n_tokens, seq_id, seq_offset in out_rows:
        by_shard.setdefault(shard, []).append((seq_id * 2048 + seq_offset, n_tokens))
    assert set(by_shard) == {0, 1}  # doc_ids 0,16,32 -> shard 0; 1,17 -> shard 1
    for shard, spans in by_shard.items():
        spans.sort()
        pos = 0
        for start, n in spans:
            assert start == pos, (shard, spans)
            pos += n
        assert pos == sum(n for _s, n in spans)


def test_sequence_pack_at_scaled_shard_count(spark):
    """Round-5 verdict #5: the pack plan must hold at a cluster-scale
    shard count, not just the oracle-pinned 16. DuckDB replays the
    identical plan at shards=256, and the batch/streaming twins agree
    at that count too (streaming checked via span tiling in the next
    assert block's helper)."""
    import duckdb

    from typhoon_ocr_spark.functions.textsql import duck_word_tokens
    from typhoon_ocr_spark.operators.sampling import (
        SEQ_BUDGET,
        auto_pack_shards,
        sequence_pack_plan,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {tuple(r) for r in sequence_pack_plan(docs, shards=256).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    toks = duck_word_tokens("text")
    exp = {
        tuple(r)
        for r in con.sql(
            f"WITH t AS (SELECT doc_id, doc_id % 256 AS shard, "
            f"CAST(len({toks}) AS BIGINT) AS n_tokens FROM documents), "
            "o AS (SELECT doc_id, shard, n_tokens, "
            " sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS off "
            " FROM t) "
            "SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens, "
            f"CAST(floor(off / {SEQ_BUDGET}) AS BIGINT) AS seq_id, "
            f"CAST(off % {SEQ_BUDGET} AS BIGINT) AS seq_offset FROM o"
        ).fetchall()
    }
    assert got == exp and got
    # auto-sizing scales with the session's parallelism, never below 16
    auto = auto_pack_shards(spark)
    assert auto >= 16
    assert auto >= spark.sparkContext.defaultParallelism


def test_streaming_pack_parity_at_scaled_shards(spark, tmp_path):
    """Batch/streaming twins agree at shards=256 as well as the
    default (round-5 verdict #5 pin)."""
    from typhoon_ocr_spark.operators.sampling import sequence_pack_plan
    from typhoon_ocr_spark.streaming.stateful import streaming_sequence_pack

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out_rows = []
    q = (
        streaming_sequence_pack(stream, shards=256)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out_rows.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    expected = {tuple(r) for r in sequence_pack_plan(docs, shards=256).collect()}
    assert set(out_rows) == expected and out_rows


def test_decontamination_semantics(spark):
    """Benchmark docs flag themselves; docs sharing no shingle with the
    benchmark stay clean; the corpus-side join is a BROADCAST of the
    benchmark hashes (the corpus never shuffles raw shingles)."""
    from typhoon_ocr_spark.operators.dedup import decontamination_flags

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words appear in this sentence here"),
            (3, "quick brown fox phrases leak into the training text"),
            (4, "ab"),  # too short to shingle
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 1")
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontamination_flags(docs, bench).collect()}
    assert got[1][1] and got[1][0] > 0       # benchmark doc flags itself
    assert got[3][1]                          # shares 'quick brown fox'
    assert not got[2][1] and got[2][0] == 0   # disjoint text is clean
    assert not got[4][1]                      # unshingleable -> zeros
    plan = (
        decontamination_flags(docs, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_source_mix_plan_semantics(spark):
    """The binding source keeps everything; kept counts land near the
    target proportions; excluded sources drop entirely."""
    from typhoon_ocr_spark.operators.sampling import source_mix_plan

    rows = (
        [(i, "big") for i in range(800)]
        + [(1000 + i, "small") for i in range(100)]
        + [(2000 + i, "skip") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = source_mix_plan(df, {"big": 0.5, "small": 0.5}).collect()
    kept = {}
    for r in got:
        kept.setdefault(r["source"], [0, 0])
        kept[r["source"]][0] += 1
        kept[r["source"]][1] += int(r["keep"])
    # kept_total = min(800/0.5, 100/0.5) = 200 -> small keeps ALL 100,
    # big samples at rate 100/800
    assert kept["small"][1] == 100
    assert 70 <= kept["big"][1] <= 130  # hash sample around 100
    assert kept["skip"][1] == 0
    # deterministic: same plan twice -> identical keep sets
    again = {(r["doc_id"], r["keep"]) for r in
             source_mix_plan(df, {"big": 0.5, "small": 0.5}).collect()}
    assert again == {(r["doc_id"], r["keep"]) for r in got}


def test_paragraph_dedup_semantics(spark):
    """A paragraph repeated across documents survives only at its
    lowest (doc_id, idx); documents reassemble from survivors in
    order; a doc whose every paragraph lost reports n_kept=0."""
    import hashlib

    from typhoon_ocr_spark.operators.textstats import paragraph_dedup

    boiler = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha\n\n{boiler}\n\nunique beta"),
            (2, f"{boiler}\n\nsecond doc body"),
            (3, boiler),
            (4, "standalone gamma"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (3, 3)  # first copy keeps it
    assert (got[2]["n_paras"], got[2]["n_kept"]) == (2, 1)
    assert (got[3]["n_paras"], got[3]["n_kept"]) == (1, 0)
    assert (got[4]["n_paras"], got[4]["n_kept"]) == (1, 1)
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1]["clean_md5"] == md5(f"unique alpha\n\n{boiler}\n\nunique beta")
    assert got[2]["clean_md5"] == md5("second doc body")
    assert got[3]["clean_md5"] == md5("")


def test_streaming_paragraph_dedup_state_across_batches(spark, tmp_path):
    """Batch 1's winning paragraphs survive into batch 2 as state: the
    boilerplate paragraph wins once (lowest (doc_id, idx)) and every
    later copy — same batch or later batch — drops. Single-batch
    winners match the batch twin's kept set exactly."""
    import os

    from typhoon_ocr_spark.operators.textstats import paragraph_dedup
    from typhoon_ocr_spark.streaming.stateful import streaming_paragraph_dedup

    boiler = "subscribe to our newsletter"
    b1 = spark.createDataFrame(
        [
            (1, f"unique alpha\n\n{boiler}"),
            (2, f"{boiler}\n\nsecond body"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, f"{boiler}\n\nthird body")], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1.coalesce(1).write.parquet(src + "/b1")
    b2.coalesce(1).write.parquet(src + "/b2")

    out_rows = []
    q = (
        streaming_paragraph_dedup(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: out_rows.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    winners = {(doc, idx) for _h, doc, idx in out_rows}
    # boiler won exactly once; bodies each won once
    assert sum(1 for d, i in winners if (d, i) in {(1, 1), (2, 0), (3, 0)}) == 1
    assert (1, 0) in winners and (2, 1) in winners and (3, 1) in winners
    assert len(out_rows) == len(winners)  # no duplicate emissions

    # single ordered batch == batch twin's kept multiset (n_kept per doc)
    batch = {r["doc_id"]: r["n_kept"] for r in paragraph_dedup(b1.union(b2)).collect()}
    # file order is not pinned; whichever batch ran first, total winners
    # per corpus match the batch op's total kept count
    assert sum(batch.values()) == len(winners)
