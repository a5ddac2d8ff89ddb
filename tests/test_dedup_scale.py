"""Dedup scale-path semantics (round 2): pigeonhole SimHash recall and
LSH bucket caps."""

from pyspark.sql import functions as F

from typhoon_ocr_spark.functions.textsql import SIMHASH_BITS
from typhoon_ocr_spark.operators.dedup import (
    minhash_candidate_pairs,
    simhash_pairs_from_fingerprints,
)


def _fp(bits: str) -> str:
    assert len(bits) == SIMHASH_BITS
    return bits


def test_pigeonhole_finds_pairs_prefix_blocking_missed(spark):
    """A pair differing only in the LEADING bits was invisible to the
    round-1 prefix-8 blocking; pigeonhole segments must find it."""
    rows = [
        ("a", _fp("0000000000000000")),
        ("b", _fp("1100000000000000")),  # hamming 2, both in bits 1-2
        ("c", _fp("0000000000000011")),  # hamming 2 vs a, trailing bits
        ("d", _fp("1111111100000000")),  # hamming 8 vs a — not a dup
    ]
    sh = spark.createDataFrame(rows, "doc_id string, simhash string")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs_from_fingerprints(sh).collect()
    }
    assert ("a", "b", 2) in got  # leading-bit pair: the regression case
    assert ("a", "c", 2) in got
    assert ("b", "c", 4) not in got
    assert all(h <= 2 for _, _, h in got)


def test_pigeonhole_full_recall_exhaustive(spark):
    """Every hamming<=2 pair over a random cohort is found (pigeonhole
    guarantees it; prefix blocking provably can't)."""
    import itertools
    import random

    rng = random.Random(7)
    base = rng.getrandbits(SIMHASH_BITS)
    fps = []
    for i in range(40):
        v = base
        for _ in range(rng.randrange(0, 4)):  # 0-3 bit flips
            v ^= 1 << rng.randrange(SIMHASH_BITS)
        fps.append((f"d{i:02d}", format(v, f"0{SIMHASH_BITS}b")))
    expected = {
        (a, b, bin(int(fa, 2) ^ int(fb, 2)).count("1"))
        for (a, fa), (b, fb) in itertools.combinations(fps, 2)
        if bin(int(fa, 2) ^ int(fb, 2)).count("1") <= 2
    }
    sh = spark.createDataFrame(fps, "doc_id string, simhash string")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs_from_fingerprints(sh).collect()
    }
    assert got == expected


def test_simhash_bucket_cap_drops_degenerate_buckets(spark):
    """An identical-fingerprint flood larger than max_bucket is dropped
    before the quadratic fan-out (one dup-cluster, not N^2 pairs)."""
    flood = [(f"f{i:03d}", _fp("1010101010101010")) for i in range(30)]
    pair = [("x", _fp("0101010101010101")), ("y", _fp("0101010101010111"))]
    sh = spark.createDataFrame(flood + pair, "doc_id string, simhash string")
    got = simhash_pairs_from_fingerprints(sh, max_bucket=10).collect()
    ids = {(r["doc_a"], r["doc_b"]) for r in got}
    assert ("x", "y") in ids
    assert not any(a.startswith("f") for a, _ in ids)


def test_simhash_null_fingerprints_never_pair(spark):
    """Null fingerprints are dropped before bucketing: two null rows
    are not a hamming-0 pair, and they never pair with a real one."""
    rows = [
        ("a", None),
        ("b", None),
        ("c", _fp("0000000000000000")),
        ("d", _fp("0000000000000001")),
    ]
    sh = spark.createDataFrame(rows, "doc_id string, simhash string")
    got = [tuple(r) for r in simhash_pairs_from_fingerprints(sh).collect()]
    assert got == [("c", "d", 1)]


def test_simhash_segment_and_bit_boundaries(spark):
    """Shift/mask edge cases: the leading bit (values >= 32768), the
    all-ones fingerprint, and hamming-2 pairs whose differing bits sit
    on segment edges so exactly one segment is shared — a segment cut
    off by one bit would miss them. The bucket cap sits below the row
    count, so a cut that degenerates to a constant (one bucket holding
    every row) is dropped rather than pairing everything. Hamming must
    equal a Python popcount of the xor, as a bigint."""
    import itertools

    from pyspark.sql.types import LongType

    from typhoon_ocr_spark.functions.textsql import simhash_segment_bounds

    def bit(pos):  # 1-based position from the left of the string
        return 1 << (SIMHASH_BITS - pos)

    ones = (1 << SIMHASH_BITS) - 1
    vals = {
        "zero": 0,
        "lead": bit(1),
        "lead2": bit(1) | bit(2),
        "ones": ones,
        "ones_no_lead": ones ^ bit(1),
        "ones_no_last": ones ^ bit(SIMHASH_BITS),
    }
    edges = [start for start, _ in simhash_segment_bounds()[1:]]
    assert edges == [7, 12]
    straddles = [(6, 7), (11, 12), (6, 12), (7, 12), (6, 11), (1, 16)]
    for i, (p, q) in enumerate(straddles):
        base = 0xB000 | (0x111 * (i + 1))  # leading bit set, distinct per pair
        vals[f"s{i}a"] = base
        vals[f"s{i}b"] = base ^ bit(p) ^ bit(q)
    fps = [(k, format(v, f"0{SIMHASH_BITS}b")) for k, v in sorted(vals.items())]

    def popcount(x, y):
        return bin(vals[x] ^ vals[y]).count("1")

    expected = {
        (a, b, popcount(a, b))
        for a, b in itertools.combinations(sorted(vals), 2)
        if popcount(a, b) <= 2
    }
    for i in range(len(straddles)):
        assert (f"s{i}a", f"s{i}b", 2) in expected
    assert ("lead", "zero", 1) in expected and ("ones", "ones_no_lead", 1) in expected

    out = simhash_pairs_from_fingerprints(
        spark.createDataFrame(fps, "doc_id string, simhash string"),
        max_bucket=len(fps) - 1,
    )
    assert out.schema["hamming"].dataType == LongType()
    assert {tuple(r) for r in out.collect()} == expected


def test_minhash_bucket_cap(spark):
    """A duplicate-text flood above the cap produces no candidate pairs
    (the cluster is findable by exact dedup; LSH skips the N^2 blowup),
    while a small dup group below the cap still pairs up."""
    flood_text = "the quick brown fox jumps over the lazy dog again and again"
    small_text = "completely different words describing another subject matter entirely"
    rows = [(f"f{i:03d}", flood_text) for i in range(12)]
    rows += [("s1", small_text), ("s2", small_text)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(docs, max_bucket=8).collect()
    }
    assert ("s1", "s2") in pairs
    assert not any(a.startswith("f") for a, _ in pairs)


def test_minhash_pairs_plan_single_exchange_for_window_and_group(spark):
    """The cap's window count and the bucket groupBy share one exchange
    on (band, band_hash) — the cap must not add a second shuffle."""
    docs = spark.createDataFrame(
        [(f"d{i}", f"words shared prefix tail {i % 3} more body text here") for i in range(20)],
        "doc_id string, text string",
    )
    plan = minhash_candidate_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    # exchanges: one for (band, band_hash), one for the final distinct —
    # bands are a map-only pass and the window adds none
    assert plan.count("Exchange hashpartitioning") == 2


def test_jaccard_pairs_one_pass(spark):
    """jaccard_pairs tokenizes, shingles, bands and scores the corpus in
    one pass: one scan, one MapInArrow emitting the bands with each
    document's shingle set, pairs scored where their bucket forms them.
    No cache read, no join back to a set frame, and no CacheManager
    entry left behind once the result is collected (a persisted
    shingle frame used to outlive the query)."""
    import re

    from typhoon_ocr_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"words shared prefix tail {i % 3} more body text here") for i in range(30)],
        "doc_id long, text string",
    )
    jp = jaccard_pairs(docs)
    plan = jp._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bScan ", plan)) == 1
    assert plan.count("MapInArrow") == 1
    for node in ("InMemoryTableScan", "SortMergeJoin", "BroadcastHashJoin"):
        assert node not in plan
    got = {(r["doc_a"], r["doc_b"], r["jaccard_pct"]) for r in jp.collect()}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # identical-text cohort pairs verify at exactly 100; any cross-
    # cohort LSH candidate must verify strictly below
    assert (0, 3, 100) in got
    assert all((pct == 100) == (a % 3 == b % 3) for a, b, pct in got)


def test_sampling_rate_one_keeps_everything(spark):
    from typhoon_ocr_spark.operators.sampling import (
        deterministic_sample,
        hex_threshold,
        stratified_sample,
    )

    assert hex_threshold(1.0) == "g"  # above every hex string
    docs = spark.createDataFrame(
        [(i, "th" if i % 2 else "en") for i in range(400)], "doc_id long, lang string"
    )
    assert deterministic_sample(docs, 1.0).count() == 400
    kept = stratified_sample(docs, rates={"th": 1.0, "en": 0.0}).collect()
    assert len(kept) == 200 and all(r["lang"] == "th" for r in kept)


def _cc_rows(spark, rows, ddl):
    """connected_components over ``rows`` spread on 3 partitions:
    (column types, sorted rows)."""
    from typhoon_ocr_spark.operators.dedup import connected_components

    got = connected_components(spark.createDataFrame(rows, ddl).repartition(3))
    types = [f.dataType.simpleString() for f in got.schema]
    return types, sorted(tuple(r) for r in got.collect())


def test_connected_components_semantics(spark):
    """Chain, triangle-plus-tail, and disjoint pair resolve to min-id
    components with correct sizes; so do a star, self-loops, null ends,
    int and string ids and empty input. The expected rows are those of
    the iterative label propagation this operator replaced."""
    from typhoon_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain: component 1, size 4
            (10, 11), (11, 12), (10, 12), (12, 13),  # dense + tail: comp 10, size 4
            (20, 21),                        # pair: comp 20, size 2
        ],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in connected_components(pairs).collect()}
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 4), 11: (10, 4), 12: (10, 4), 13: (10, 4),
        20: (20, 2), 21: (20, 2),
    }

    longs = "doc_a bigint, doc_b bigint"
    star = [(leaf, 1500) if leaf % 2 else (1500, leaf)
            for leaf in range(3001) if leaf != 1500]
    cases = [
        # star: the center is not the min member
        (star, longs, [(i, 0, 3001) for i in range(3001)]),
        # self-loops: a node alone, or beside its other edges
        ([(5, 5), (6, 6), (6, 7), (9, 9)], longs,
         [(5, 5, 1), (6, 6, 2), (7, 6, 2), (9, 9, 1)]),
        # a null end drops; the other end stays a node of its own
        ([(30, None), (None, 31), (None, None), (32, 33), (33, None)], longs,
         [(30, 30, 1), (31, 31, 1), (32, 32, 2), (33, 32, 2)]),
        ([(3, 2), (2, 1), (7, 8)], "doc_a int, doc_b int",
         [(1, 1, 3), (2, 1, 3), (3, 1, 3), (7, 7, 2), (8, 7, 2)]),
        ([("b", "a"), ("c", "b"), ("x", "y")], "doc_a string, doc_b string",
         [("a", "a", 3), ("b", "a", 3), ("c", "a", 3), ("x", "x", 2), ("y", "x", 2)]),
        ([], longs, []),
    ]
    for rows, ddl, want in cases:
        id_type = ddl.split()[1].rstrip(",")
        assert _cc_rows(spark, rows, ddl) == ([id_type, id_type, "bigint"], want)


def test_connected_components_matches_pair_transitive_closure(spark, job_count):
    """Against the corpus simhash pairs: every pair's two docs share a
    cluster, and cluster ids are the min member. Building the clusters
    runs no Spark job, and the action leaves no persisted RDD behind
    (label propagation ran 64 jobs while building and left its
    checkpoints cached)."""
    from typhoon_ocr_spark.operators.dedup import (
        connected_components,
        simhash_near_dups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keySet())
    built = []
    jobs = job_count(lambda: built.append(connected_components(simhash_near_dups(docs))))
    assert jobs == 0
    comp = {r["doc_id"]: r["cluster_id"] for r in built[0].collect()}
    assert set(jsc.getPersistentRDDs().keySet()) - cached == set()
    assert len(comp) == 495
    pairs = simhash_near_dups(docs)
    for a, b, _h in pairs.collect():
        assert comp[a] == comp[b]
    assert all(cid <= d for d, cid in comp.items())
    assert any(cid < d for d, cid in comp.items())  # non-trivial clusters


def test_connected_components_long_reversed_path(spark):
    """A 1,201-node path (diameter 1,200) whose ids descend along it,
    with some edges repeated and some reversed: one component rooted
    at the min id, whatever order the edges arrive in."""
    edges = (
        [(n, n - 1) for n in range(2000, 800, -1)]
        + [(n - 1, n) for n in range(2000, 800, -5)]
        + [(n, n - 1) for n in range(1990, 800, -7)]
    )
    _, rows = _cc_rows(spark, edges, "doc_a long, doc_b long")
    assert rows == [(i, 800, 1201) for i in range(800, 2001)]


def test_arrow_pass_degenerate_doc_semantics(spark):
    """r6 focused pins for the vectorized Arrow passes: the degenerate
    documents the corpus oracle never exercises must keep the exact
    semantics of the JVM expressions they replaced."""
    from typhoon_ocr_spark.operators.dedup import (
        minhash_bands,
        simhash_fingerprints,
    )
    from typhoon_ocr_spark.operators.textstats import top_bigram

    docs = spark.createDataFrame(
        [
            (1, "one two three four"),        # normal
            (2, ""),                          # empty text
            (3, "!!! ??? ..."),               # tokens all empty after split
            (4, "solo"),                      # 1 token: no bigram, no bands
            (5, None),                        # null text
            (6, "a b"),                       # 2 tokens: bigram, no shingle
        ],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: (r["simhash"], r["n_tokens"])
          for r in simhash_fingerprints(docs).collect()}
    # empty/zero-token docs: the empty-fold value is all-'1', count 0
    assert sh[2] == ("1" * 16, 0) and sh[3] == ("1" * 16, 0)
    # null text keeps its old row: CASE WHEN null>=0 → '0', size(null) → null
    assert sh[5] == ("0" * 16, None)
    assert sh[1][1] == 4

    bands = {r["doc_id"] for r in minhash_bands(docs).collect()}
    assert bands == {1}  # only the >=3-token doc shingles

    bg = {r["doc_id"]: (r["bigram"], r["occurrences"], r["top_per_mille"])
          for r in top_bigram(docs).collect()}
    assert set(bg) == {1, 6}  # <2-token and null docs are omitted
    assert bg[6] == ("a b", 1, 1000)
    assert bg[1][0] == "one two"
