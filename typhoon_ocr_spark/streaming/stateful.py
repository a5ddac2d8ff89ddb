"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only stateful machinery is its bounded-concurrency
progress loop (/root/reference/backend/routes/ocr.py:277-305); the
engine's streaming surface generalizes that to keyed state that
survives across micro-batches: per-user running totals (the building
block for sessionization / rate metrics over an event stream).

State is a single (n_events, total_value) pair per user; each batch
emits the updated cumulative row for users present in the batch.
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.dedup import minhash_bands

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("batch_events", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_user(
    key: Tuple, frames: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    n_prev, total_prev = state.get if state.exists else (0, 0.0)
    batch_n = 0
    batch_total = 0.0
    for pdf in frames:
        batch_n += len(pdf)
        batch_total += float(pdf["value"].sum())
    n_new = n_prev + batch_n
    total_new = total_prev + batch_total
    state.update((n_new, total_new))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n_new],
            "total_value": [total_new],
            "batch_events": [batch_n],
        }
    )


def running_user_totals(event_stream: DataFrame) -> DataFrame:
    """Streaming DataFrame (user_id, value, ...) → per-batch cumulative
    totals per user, state carried across micro-batches."""
    return (
        event_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming first-seen dedup: exact dedup as a continuous operator.
# ---------------------------------------------------------------------------

FIRST_SEEN_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("url", StringType()),
    ]
)

FIRST_SEEN_STATE = StructType([StructField("seen", LongType())])


def _first_seen(
    key: Tuple, frames: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    if state.exists:
        return  # key already emitted in an earlier batch: drop everything
    first_url = None
    for pdf in frames:
        if len(pdf) and first_url is None:
            first_url = str(pdf["url"].iloc[0])
    state.update((1,))
    if first_url is not None:
        yield pd.DataFrame({"key": [key[0]], "url": [first_url]})


# ---------------------------------------------------------------------------
# Streaming incremental NEAR-dup: MinHash band buckets as keyed state.
# A 100 TB ingest pipeline dedups incrementally — each arriving batch
# is checked against every band bucket seen so far, not only within
# itself (the batch operator dedup.minhash_candidate_pairs re-scans the
# whole corpus; this is its continuous twin).
# ---------------------------------------------------------------------------

# state bound per (band, band_hash) bucket: newcomers pair against at
# most this many stored members and only the first CAP members are
# remembered — a degenerate bucket (one viral document) costs O(CAP)
# per arrival forever, never O(bucket size)
STREAM_BUCKET_CAP = 16


def _bucket_update(
    key: Tuple, frames: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    members = list(state.get[0]) if state.exists else []
    arrivals: list = []
    for pdf in frames:
        arrivals.extend(pdf["doc_id"].tolist())
    arrivals.sort()  # deterministic within-batch order (native type)
    out_a: list = []
    out_b: list = []
    for doc in arrivals:
        if doc in members:
            continue  # replay / same-batch duplicate: already paired
        for m in members:
            a, b = (doc, m) if doc < m else (m, doc)
            out_a.append(a)
            out_b.append(b)
        if len(members) < STREAM_BUCKET_CAP:
            members.append(doc)
    state.update((members,))
    if out_a:
        yield pd.DataFrame(
            {
                "doc_a": out_a,
                "doc_b": out_b,
                "band": [int(key[0])] * len(out_a),
                "band_hash": [str(key[1])] * len(out_a),
            }
        )


def _bucket_update_ttl(
    key: Tuple, frames: Iterable[pd.DataFrame], state: GroupState, ttl_ms: int
) -> Iterable[pd.DataFrame]:
    """TTL wrapper around _bucket_update: a bucket whose timeout fired
    (idle past ttl_ms with no arrivals) is dropped; live buckets get
    their timeout re-armed after every batch that touches them."""
    if state.hasTimedOut:
        state.remove()
        return iter(())
    # drain the generator FIRST: state.update runs inside it, and a
    # timeout can only be set on a key whose state is defined
    out = list(_bucket_update(key, frames, state))
    if ttl_ms > 0:
        state.setTimeoutDuration(ttl_ms)
    return iter(out)


def streaming_near_dups(
    stream: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    state_ttl_ms: int = 0,
) -> DataFrame:
    """Continuous MinHash near-dup candidates: each arriving document's
    LSH bands (the batch dedup.minhash_bands pass itself — JVM tokens,
    one mapInArrow row_map, so stream and batch share one tokenizer and
    band core by construction; no shuffle of text beyond the band
    grouping) are checked against the bucket members remembered in
    keyed GroupState, so a near-duplicate of a
    document from ANY earlier micro-batch is flagged the moment it
    arrives. Output: (doc_a, doc_b, band, band_hash) in the INPUT id
    column's type — numeric ids order numerically, exactly like the
    batch twin's struct comparison, so batch/stream candidate sets
    union cleanly. The same pair may surface from multiple bands;
    distinct downstream if needed. Replays (at-least-once sources) of
    STORED members are recognized via membership and re-emit nothing;
    an arrival into an already-full bucket is not remembered, so its
    replay re-emits the same pairs — the price of bounded state; run a
    downstream distinct where exact-once pair delivery matters. State
    per bucket is a bounded member list (STREAM_BUCKET_CAP).

    ``state_ttl_ms`` > 0 evicts buckets idle for that long
    (processing-time timeout): at 10^12 documents the aggregate state
    would otherwise grow with the corpus forever; with a TTL, near-dups
    are only caught within the window — the standard freshness/recall
    dial for continuous ingest dedup. Timeout semantics are Spark's: a
    key RECEIVING data in a batch never fires its timeout (the arrival
    wins), so eviction happens on the first post-expiry batch in which
    the bucket is idle — meant for continuous triggers, not
    availableNow drains (which keep scheduling batches while any
    timeout is pending)."""
    id_type = stream.schema[doc_col].dataType
    out_schema = StructType(
        [
            StructField("doc_a", id_type),
            StructField("doc_b", id_type),
            StructField("band", LongType()),
            StructField("band_hash", StringType()),
        ]
    )
    state_schema = StructType([StructField("members", ArrayType(id_type))])

    def update_with_ttl(key, frames, state):
        return _bucket_update_ttl(key, frames, state, state_ttl_ms)

    # band as bigint: the state key schema stays (band bigint,
    # band_hash string), so existing checkpoints keep loading
    bands = minhash_bands(
        stream.select(F.col(doc_col).alias("doc_id"), text_col), text_col
    ).withColumn("band", F.col("band").cast("long"))
    return bands.groupBy("band", "band_hash").applyInPandasWithState(
        update_with_ttl if state_ttl_ms > 0 else _bucket_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms > 0
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_first_seen(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """Continuous exact dedup over an unbounded stream: the FIRST row
    per key ever seen is emitted, every later arrival (same batch or
    any later micro-batch) is dropped — the streaming twin of
    ``dedup.exact_dup_groups`` for ingest pipelines where the corpus
    never stops arriving. Keyed GroupState holds one long per key;
    at 10^12 keys partition the stream by key-hash ranges and shard
    checkpoints per range (state is per-key, never global). Input must
    carry (key, url); output (key, url)."""
    return (
        stream.select(F.col(key_col).alias("key"), "url")
        .groupBy("key")
        .applyInPandasWithState(
            _first_seen,
            outputStructType=FIRST_SEEN_OUTPUT,
            stateStructType=FIRST_SEEN_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_corpus_keep(doc_stream: DataFrame) -> DataFrame:
    """Continuous twin of operators.textstats.training_corpus_keep for
    ingest pipelines: the Gopher quality flags and the language gate
    are STATELESS column expressions (built by the same
    gopher_quality code as the batch operator, so the two gates cannot
    drift) and run before any state — only quality-passing docs ever
    touch the keyed store. Exact-dedup survivorship is first-seen
    GroupState on md5(text): the first arrival of a text wins; every
    later identical text, in this or any later micro-batch, drops.
    State is one long per distinct kept text (shard checkpoints by
    key-hash range at 10^12 scale). Input: streaming (doc_id, text,
    lang). Output: (key=text_md5, url=doc_id as string)."""
    from ..operators.textstats import KNOWN_LANGS, gopher_quality

    flagged = gopher_quality(
        doc_stream,
        passthrough={
            "lang": F.col("lang"),
            "text_md5": F.md5(F.col("text")),
        },
    )
    kept = flagged.filter(F.col("keep") & F.col("lang").isin(*KNOWN_LANGS))
    return streaming_first_seen(
        kept.select(
            F.col("text_md5").alias("key"),
            F.col("doc_id").cast("string").alias("url"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming sequence packing: per-shard token offsets as keyed state.
# The batch twin (sampling.sequence_pack_plan) packs a finite corpus;
# an ingest pipeline packs FOREVER — each shard's running token offset
# must survive across micro-batches.
# ---------------------------------------------------------------------------

PACK_OUTPUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("shard", LongType()),
        StructField("n_tokens", LongType()),
        StructField("seq_id", LongType()),
        StructField("seq_offset", LongType()),
    ]
)
PACK_STATE = StructType([StructField("cum_tokens", LongType())])


def _make_pack_fn(budget: int):
    def pack(
        key: Tuple, frames: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        cum = state.get[0] if state.exists else 0
        shard = key[0]
        # one shard's micro-batch can span several Arrow chunks;
        # sorting each chunk independently would emit offsets in chunk
        # order, not doc_id order, silently breaking the documented
        # within-batch parity for large groups (ADVICE r4). Concatenate
        # the iterator first — the cost is one shard-batch in memory,
        # bounded by the micro-batch trigger.
        chunks = [pdf for pdf in frames if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
            out = {k: [] for k in ("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")}
            for doc_id, n_tokens in zip(pdf["doc_id"], pdf["n_tokens"]):
                out["doc_id"].append(int(doc_id))
                out["shard"].append(int(shard))
                out["n_tokens"].append(int(n_tokens))
                out["seq_id"].append(cum // budget)
                out["seq_offset"].append(cum % budget)
                cum += int(n_tokens)
            yield pd.DataFrame(out)
        state.update((cum,))

    return pack


def streaming_sequence_pack(doc_stream: DataFrame, budget: int = None,
                            shards: int = None) -> DataFrame:
    """Continuous twin of ``sampling.sequence_pack_plan``: documents
    arriving on an unbounded stream are packed into fixed-budget
    training sequences, the per-shard running token offset carried as
    keyed GroupState across micro-batches — new data appends to the
    pack plan instead of recomputing it. Tokenization is the SAME
    column expression as the batch operator (the two cannot drift);
    ordering is stream arrival (within-batch doc_id order), which
    equals the batch plan whenever the stream delivers in doc_id order
    — parity-pinned by test. State is one long per shard.
    Input: streaming (doc_id, text). Output: PACK_OUTPUT."""
    from ..operators.dedup import word_tokens
    from ..operators.sampling import PACK_SHARDS, SEQ_BUDGET

    budget = budget or SEQ_BUDGET
    # deliberately NOT auto_pack_shards: the shard count keys the
    # GroupState, so it must be pinned across restarts of one stream
    # (defaultParallelism can change between runs); pass it explicitly
    # to scale, matching the batch twin's shards argument
    shards = shards or PACK_SHARDS
    frame = doc_stream.select(
        "doc_id",
        (F.col("doc_id") % shards).cast("long").alias("shard"),
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return frame.groupBy("shard").applyInPandasWithState(
        _make_pack_fn(budget),
        outputStructType=PACK_OUTPUT,
        stateStructType=PACK_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming paragraph dedup: corpus-wide repeated-passage removal as
# keyed state. The batch twin (textstats.paragraph_dedup) re-scans the
# corpus; an ingest pipeline must drop a boilerplate paragraph against
# every copy EVER seen.
# ---------------------------------------------------------------------------

PARA_DEDUP_OUTPUT = StructType(
    [
        StructField("p_h", StringType()),
        StructField("doc_id", LongType()),
        StructField("idx", LongType()),
    ]
)
PARA_DEDUP_STATE = StructType([StructField("seen", LongType())])


def _para_first(
    key: Tuple, frames: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    if state.exists:
        return  # paragraph won in an earlier batch: every copy drops
    best = None
    for pdf in frames:
        if not len(pdf):
            continue
        row = pdf.sort_values(["doc_id", "idx"]).iloc[0]
        cand = (int(row["doc_id"]), int(row["idx"]))
        if best is None or cand < best:
            best = cand
    state.update((1,))
    if best is not None:
        yield pd.DataFrame(
            {"p_h": [key[0]], "doc_id": [best[0]], "idx": [best[1]]}
        )


def streaming_paragraph_dedup(doc_stream: DataFrame) -> DataFrame:
    """Continuous twin of ``textstats.paragraph_dedup``: paragraphs
    split by the SAME expression as the batch operator (the two cannot
    drift), keyed by md5; the winning (doc_id, idx) per paragraph is
    the first ever seen — within-batch ties break to the lowest
    (doc_id, idx) like the batch rule, later arrivals in this or any
    later micro-batch drop. Consumers reassemble documents from their
    winning rows. State: one long per distinct paragraph (shard
    checkpoints by key-hash range at 10^12 scale).
    Input: streaming (doc_id, text). Output: PARA_DEDUP_OUTPUT."""
    from ..functions.textsql import PARA_SPLIT_PATTERN
    from ..operators.textstats import _nonempty_lines

    paras = doc_stream.select(
        "doc_id",
        F.posexplode(
            _nonempty_lines(F.col("text"), PARA_SPLIT_PATTERN)
        ).alias("idx", "p"),
    ).select(
        "doc_id",
        F.col("idx").cast("long").alias("idx"),
        F.md5("p").alias("p_h"),
    )
    return paras.groupBy("p_h").applyInPandasWithState(
        _para_first,
        outputStructType=PARA_DEDUP_OUTPUT,
        stateStructType=PARA_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
