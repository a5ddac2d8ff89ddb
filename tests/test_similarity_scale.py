"""ANN scale-path semantics (round 2): bucketed search actually
searches, near-dups never go cartesian, recall is measured."""

import re

import pytest
from pyspark.sql import functions as F

from typhoon_ocr_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_embedding_near_dups_has_no_cartesian(spark):
    plan = (
        similarity.embedding_near_dups(_emb(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_near_dups_subset_of_exact(spark):
    emb = _emb(spark)
    exact = {(r[0], r[1], r[2]) for r in similarity.embedding_near_dups_exact(emb).collect()}
    bucketed = {(r[0], r[1], r[2]) for r in similarity.embedding_near_dups(emb).collect()}
    # LSH blocking can only LOSE pairs, never invent or mis-score them
    assert bucketed <= exact
    if exact:
        assert len(bucketed) / len(exact) >= 0.5  # multi-table recall floor


def test_lsh_bucketed_topk_recall(spark):
    emb = _emb(spark)
    exact = {(r[0], r[2]) for r in similarity.cosine_topk(emb).collect()}
    approx = {(r[0], r[2]) for r in similarity.lsh_bucketed_topk(emb).collect()}
    assert approx  # the routing tables answer queries now
    # every approx neighbor must be a real vector for a real query
    queries = {q for q, _ in exact}
    assert {q for q, _ in approx} <= queries
    assert len(approx & exact) / len(exact) >= 0.3  # sign-LSH floor on
    # near-random synthetic vectors; real near-dup corpora sit >>0.9


def test_lsh_topk_recall_on_planted_cohorts(spark):
    """ANN recall measured against PLANTED structure (round-2 verdict:
    near-random vectors make 'true top-k' arbitrary and scored the
    operator at 0.48). On cohorts of genuine near-duplicates the
    multi-probe bucketed search must recover >=0.8 of the exact top-k,
    and multi-probe must not lose candidates vs single-probe."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    rows = planted_embeddings(800, dims=64, cohort_size=8, noise=0.15)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r[0], r[2]) for r in similarity.cosine_topk(emb).collect()}
    multi = {
        (r[0], r[2])
        for r in similarity.lsh_bucketed_topk(emb, n_dims=64, multiprobe=1).collect()
    }
    single = {
        (r[0], r[2])
        for r in similarity.lsh_bucketed_topk(emb, n_dims=64, multiprobe=0).collect()
    }
    assert exact
    recall_multi = len(multi & exact) / len(exact)
    recall_single = len(single & exact) / len(exact)
    assert recall_multi >= 0.8
    assert recall_multi >= recall_single


def test_pq_adc_topk_recall_and_plan(spark):
    """PQ/ADC search with exact re-rank: cohort members share codes so
    raw ADC scores tie (~0.7 recall alone), but the top-C exact-cosine
    re-rank recovers the true order — recall must be >=0.95; the scan
    side must join the broadcast LUT, never a cartesian."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    rows = planted_embeddings(800, dims=64, cohort_size=8, noise=0.15)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = similarity.pq_adc_topk(emb, n_dims=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    exact = {(r[0], r[2]) for r in similarity.cosine_topk(emb).collect()}
    approx = {(r[0], r[2]) for r in df.collect()}
    assert exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.95
    # every neighbor is a genuine cohort-mate of its query (codes of
    # different cohorts differ; cross-cohort scores rank far below)
    assert all(q // 8 == n // 8 for q, n in approx)


def test_pq_codes_shape(spark):
    """Every vector gets exactly PQ_SUBSPACES codes, each pointing at a
    centroid-cohort member."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    emb = spark.createDataFrame(
        planted_embeddings(200, dims=64), "vec_id long, embedding array<float>"
    )
    codes = similarity.pq_assign(emb, n_dims=64).collect()
    assert len(codes) == 200 * similarity.PQ_SUBSPACES
    assert all(r["code_cid"] % similarity.IVF_CENTROID_EVERY == 0 for r in codes)


def test_ivf_probed_topk_recall(spark):
    emb = _emb(spark)
    exact = {(r[0], r[2]) for r in similarity.cosine_topk(emb).collect()}
    probed = {(r[0], r[2]) for r in similarity.ivf_probed_topk(emb).collect()}
    # 4-probe IVF on this corpus reaches near-exact recall
    assert len(probed & exact) / len(exact) >= 0.8


def test_ivf_probed_topk_reads_the_query_cohort_once(spark):
    """The probe rows carry each query's vector and norm through the
    ``_topk`` tail (``keep``), so candidate scoring never joins the
    query cohort back in: the plan holds no join on query_id (that
    join-back read the embeddings a second time)."""
    plan = (
        similarity.ivf_probed_topk(_emb(spark), n_dims=64)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert not re.search(r"Join \w+, \(query_id#\d+L? = query_id#\d+L?\)", plan)


def test_lsh_sign_buckets_no_driver_probe(spark):
    """Passing n_dims skips the per-invocation first() probe job."""
    emb = _emb(spark)
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    df = similarity.lsh_sign_buckets(emb, n_dims=64)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)  # plan construction ran zero jobs
    assert df.columns == ["vec_id", "bucket"]


def test_lsh_probes_true_width_by_default(spark):
    """Non-64-dim embeddings must hash correctly (a wrong plane width
    nulls every projection and collapses all vectors into one bucket)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    buckets = {r["bucket"] for r in similarity.lsh_sign_buckets(emb).collect()}
    assert len(buckets) > 1
    tb = similarity.lsh_table_buckets(emb)
    assert tb.select("bucket").distinct().count() > 1


def test_lsh_topk_cap_drops_degenerate_cells(spark):
    """A flood of identical vectors lands in one cell per table; with a
    small cap those cells are dropped from the candidate side and only
    small-cell neighbors remain."""
    flood = [(i, [1.0] * 8) for i in range(30)]          # one giant cell
    distinct = [(100, [0.9, 0.1] * 4), (200, [0.88, 0.12] * 4)]
    emb = spark.createDataFrame(flood + distinct, "vec_id long, embedding array<float>")
    got = similarity.lsh_bucketed_topk(
        emb, query_every=100, k=5, max_bucket=10
    ).collect()
    neighbors = {r["neighbor_id"] for r in got}
    assert not any(n < 30 for n in neighbors)  # flood cells were capped out


# ShuffleExchangeExec nodes inside the broadcast centroid table of an
# IVF or PQ assignment plan (IVF_TRAIN_ITERS = 2). Round 1 takes 3: the
# seeds' side of the LEFT JOIN, the assignment's argmin and the sums.
# Round 2 holds round 1 twice, on its join side and its broadcast side,
# and adds its own argmin and sums: 3 + 3 + 2.
TRAINING_SHUFFLES = 8


def _shuffles(plan, in_broadcast=False, out=None):
    """[outside, inside]: the ShuffleExchangeExec nodes of a physical
    plan's Java tree, outside and inside BroadcastExchangeExec
    subtrees."""
    out = out if out is not None else [0, 0]
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _shuffles(plan.executedPlan(), in_broadcast, out)
    in_broadcast = in_broadcast or name == "BroadcastExchangeExec"
    if name == "ShuffleExchangeExec":
        out[in_broadcast] += 1
    kids = plan.children()
    for i in range(kids.size()):
        _shuffles(kids.apply(i), in_broadcast, out)
    return out


def test_ivf_and_pq_assignment_plans_shuffle_only_id_rows(spark):
    """Round-5 verdict #2: the N×C scored rows must never shuffle. The
    assignment is a broadcast join + per-key min(struct) hash aggregate
    with MAP-SIDE partials — zero Window, and the single Exchange
    outside the broadcast centroid table carries only the
    partially-aggregated id-rows. (A literal-array argmax fold achieves
    zero Exchange but runs on Catalyst's interpreted HOF path —
    measured 10-16× more CPU at 10x scale; BENCH.md r5.) Training sits
    inside the broadcast side as the unrolled Lloyd's rounds, with
    exactly TRAINING_SHUFFLES exchanges."""
    emb = _emb(spark)
    for df in (
        similarity.ivf_assign(emb, n_dims=64),
        similarity.pq_assign(emb, n_dims=64),
    ):
        jplan = df._jdf.queryExecution().executedPlan()
        plan = jplan.toString()
        assert "Window" not in plan, plan[:400]
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "partial_min" in plan  # map-side partial argmin
        assert "Scan parquet" in plan
        outside, training = _shuffles(jplan)
        assert outside <= 1, plan[:600]
        assert training == TRAINING_SHUFFLES, training


# every entry point that trains an IVF or PQ quantizer
_QUANTIZER_OPS = [
    "train_ivf_centroids", "train_pq_codebooks", "ivf_assign", "pq_assign",
    "ivf_probed_topk", "pq_adc_topk",
]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_training_is_partitioning_independent(spark):
    """The integer micro-unit Lloyd's contract: centroid sums are exact
    BIGINTs, so the trained centroids must be bit-identical however the
    corpus is partitioned (FP mean accumulation would break this)."""
    emb = _emb(spark)
    c1 = _sorted_rows(similarity.train_ivf_centroids(emb.repartition(1), n_dims=64))
    c7 = _sorted_rows(similarity.train_ivf_centroids(emb.repartition(7), n_dims=64))
    assert c1 == c7
    assert len(c1) > 1
    # training moved at least one centroid off its seed vector
    seeds = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    moved = sum(
        1
        for cid, coords, _ in c1
        if [round(x) for x in coords]
        != [round(float(v) * 1e6) for v in seeds[cid]]
    )
    assert moved > 0


def test_pq_codebooks_partitioning_independent(spark):
    emb = _emb(spark)
    b1 = _sorted_rows(similarity.train_pq_codebooks(emb.repartition(1), n_dims=64))
    b5 = _sorted_rows(similarity.train_pq_codebooks(emb.repartition(5), n_dims=64))
    assert b1 == b5
    assert {m for m, _, _ in b1} == set(range(similarity.PQ_SUBSPACES))


def test_cosine_topk_bit_parity_with_jvm_fold(spark):
    """r6 pinned invariant: the NumPy mapInArrow scorer must rank
    exactly like the JVM zip_with/aggregate fold it replaced — the
    dimension-ordered accumulation argument made concrete. Any change
    to the accumulation order (GEMM, pairwise summation, FMA) that
    breaks bit-identity shows up here as a rank flip on near-ties."""
    from pyspark.sql import Window

    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    emb = spark.createDataFrame(
        planted_embeddings(400, dims=64, cohort_size=8, noise=0.15),
        "vec_id long, embedding array<float>",
    )

    def jvm_reference(embeddings, query_every=100, k=5):
        base = similarity._with_norm(embeddings)
        queries = base.filter(F.col("vec_id") % query_every == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
        )
        scored = base.join(
            F.broadcast(queries), F.col("vec_id") != F.col("query_id")
        ).withColumn(
            "score",
            F.expr(similarity._dot("qe", "e"))
            / (F.col("qn") * F.col("nrm")),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                F.col("rank").cast("long").alias("rank"),
                F.col("vec_id").alias("neighbor_id"),
            )
        )

    got = sorted(tuple(r) for r in similarity.cosine_topk(emb).collect())
    ref = sorted(tuple(r) for r in jvm_reference(emb).collect())
    assert got == ref and got


def test_cosine_topk_empty_and_partitioned_inputs(spark):
    """The Arrow scorer is partitioning-independent (per-task top-k
    merge is exact) and degrades cleanly on empty query cohorts."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    emb = spark.createDataFrame(
        planted_embeddings(300, dims=64, cohort_size=8, noise=0.15),
        "vec_id long, embedding array<float>",
    )
    one = sorted(tuple(r) for r in similarity.cosine_topk(emb.coalesce(1)).collect())
    many = sorted(tuple(r) for r in similarity.cosine_topk(emb.repartition(7)).collect())
    assert one == many and one
    # no query cohort (every vec_id % 100 != 0) → empty frame, not a crash
    none = similarity.cosine_topk(
        emb.filter(F.col("vec_id") % 100 != 0)
    )
    assert none.count() == 0
    assert none.columns == ["query_id", "rank", "neighbor_id"]


_TOPK_COLS = ["query_id", "rank", "neighbor_id"]
_EMPTY_CASES = {
    "lsh_sign_buckets": ["vec_id", "bucket"],
    "lsh_table_buckets": ["vec_id", "t", "bucket"],
    "embedding_near_dups": ["vec_a", "vec_b", "cos_pct"],
    "lsh_bucketed_topk": _TOPK_COLS,
    "ivf_assign": ["vec_id", "centroid_id"],
    "ivf_probed_topk": _TOPK_COLS,
    "pq_assign": ["vec_id", "m", "code_cid"],
    "pq_adc_topk": _TOPK_COLS,
}


@pytest.mark.parametrize(
    "op,n_dims",
    [(op, dims) for op in _EMPTY_CASES for dims in (None, 64)
     if dims is not None or not op.startswith("pq_")],  # PQ needs n_dims
)
def test_ann_operators_on_empty_embeddings(spark, op, n_dims):
    """An empty corpus yields 0 rows with the documented columns, with
    the width probed (n_dims=None) or given — never an exception."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    df = getattr(similarity, op)(emb, n_dims=n_dims)
    assert df.columns == _EMPTY_CASES[op]
    assert df.count() == 0


def test_cosine_topk_skips_bad_query_rows(spark):
    """A null, short or null-element vector in the collected query
    cohort is skipped, as the candidate side skips it: the result
    equals the result for the cohort without them (instead of a
    driver-side crash)."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    rows = planted_embeddings(300, dims=64, cohort_size=8, noise=0.15)
    schema = "vec_id long, embedding array<float>"
    clean = similarity.cosine_topk(spark.createDataFrame(rows, schema))
    bad = similarity.cosine_topk(
        spark.createDataFrame(
            rows + [(1000, None), (1100, [0.5] * 10), (1200, [None] + [0.5] * 63)],
            schema,
        )
    )
    want = sorted(tuple(r) for r in clean.collect())
    assert sorted(tuple(r) for r in bad.collect()) == want and want


def test_cosine_topk_ranks_zero_norm_first(spark, monkeypatch):
    """A zero-norm candidate scores NaN against every query, and
    Spark's DESC window ranks NaN above every double. The per-chunk
    top-k must rank it the same way, or a chunk cut drops a row the
    final window would rank first: the per-task merge is the same with
    a tiny chunk and the default one, and the Spark result matches a
    brute-force ranking that puts NaN first."""
    import math

    import numpy as np
    import pyarrow as pa

    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    k, dims, every = 5, 16, 100
    rows = planted_embeddings(300, dims=dims, cohort_size=8, noise=0.15)
    rows[57] = (57, [0.0] * dims)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    q = ids % every == 0
    q_ids, qm = ids[q], mat[q]
    qn = similarity._np_row_norms(qm)

    def ranked(cands):
        """{query: [(score, id)...]} → rows under (score DESC with NaN
        first, id ASC), top k per query."""
        out = []
        for qid, cs in cands.items():
            cs = sorted(
                cs,
                key=lambda c: (0, 0.0, c[1]) if math.isnan(c[0]) else (1, -c[0], c[1]),
            )
            out += [(qid, r + 1, nid) for r, (_, nid) in enumerate(cs[:k])]
        return sorted(out)

    with np.errstate(invalid="ignore"):
        full = similarity._score_chunk(mat, ids, q_ids, qm, qn, np)
    ref = ranked(
        {
            int(qid): [
                (float(full[i, j]), int(ids[i]))
                for i in range(len(ids))
                if ids[i] != qid
            ]
            for j, qid in enumerate(q_ids)
        }
    )
    assert all(nid == 57 and rank == 1 for _, rank, nid in ref if rank == 1)

    emb_type = pa.list_(pa.float32())
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array(ids[s:s + 40]), pa.array(mat[s:s + 40].tolist(), type=emb_type)],
            names=["vec_id", "embedding"],
        )
        for s in range(0, len(ids), 40)
    ]

    def merged(chunk):
        monkeypatch.setattr(similarity, "_TOPK_CHUNK", chunk)
        cands: dict = {}
        with np.errstate(invalid="ignore"):
            for b in similarity._topk_stream(iter(batches), q_ids, qm, qn, k, np):
                for qid, s, nid in zip(*(c.to_pylist() for c in b.columns)):
                    cands.setdefault(qid, []).append((s, nid))
        return ranked(cands)

    default = merged(similarity._TOPK_CHUNK)
    assert merged(7) == default == ref

    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.cosine_topk(emb, query_every=every, k=k).collect()
    assert sorted(tuple(r) for r in got) == ref


def _routing(df):
    return sorted(tuple(r) for r in df.collect())


def test_lsh_routing_skips_degenerate_vectors(spark):
    """A null, short or null-element vector gets no routing row (as
    cosine_topk skips it) and leaves every clean vector's rows as they
    are without it: it no longer lands in the all-'0' bucket of every
    table, nor gets a null multi-probe cell."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    rows = planted_embeddings(300, dims=64, cohort_size=8, noise=0.15)
    schema = "vec_id long, embedding array<float>"
    bad = [(1000, None), (1100, [0.5] * 10), (1200, [None] + [0.5] * 63)]
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + bad, schema)
    for op in (
        lambda e: similarity.lsh_sign_buckets(e, n_dims=64),
        lambda e: similarity.lsh_table_buckets(e, n_dims=64),
        lambda e: similarity.lsh_query_probes(e, n_dims=64, multiprobe=1),
    ):
        got = dirty.transform(op).collect()
        assert not {r[0] for r in got} & {1000, 1100, 1200}
        want = _routing(clean.transform(op))
        assert sorted(tuple(r) for r in got) == want and want


@pytest.mark.parametrize("op", _QUANTIZER_OPS)
def test_ivf_and_pq_skip_degenerate_vectors(spark, op):
    """A null, null-element or 63-wide vector neither trains, nor gets
    a cell or code, nor queries, whether it sits in the seed cohort
    (vec_id % 50 == 0, also a query at 100) or off it: no exception,
    and the rows equal those of the frame without it (every counts the
    kept vectors, so the seed stride is the same)."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    rows = planted_embeddings(400)
    schema = "vec_id long, embedding array<float>"
    bad = {50: None, 100: [None] + [0.5] * 63, 150: [0.5] * 63,
           7: None, 8: [0.5] * 63 + [None], 9: [0.5] * 63}
    dirty = spark.createDataFrame(
        [(i, bad.get(i, e)) for i, e in rows], schema
    )
    clean = spark.createDataFrame([r for r in rows if r[0] not in bad], schema)
    build = getattr(similarity, op)
    got = _sorted_rows(build(dirty, n_dims=64))
    assert got == _sorted_rows(build(clean, n_dims=64)) and got


def test_lsh_routing_bit_parity_with_jvm_fold(spark):
    """The NumPy routing pass must route exactly like the JVM fold
    ``_dot`` against the plane literals: same sign bits (NaN >= 0 as
    Spark orders it) and the same multi-probe flip (lowest |projection|,
    lowest plane index on a tie, never a NaN unless all are), on
    planted vectors plus a NaN coordinate, +0.0/-0.0 vectors and a
    vector whose projection onto one plane is exactly 0.0."""
    from functools import reduce

    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    dims, ppt = 8, similarity.ANN_LSH_PLANES_PER_TABLE
    planes = similarity.lsh_plane_signs(dims, similarity.ANN_LSH_TABLES * ppt)
    on_plane = [s if i < dims // 2 else -s for i, s in enumerate(planes[1])]
    rows = planted_embeddings(200, dims=dims, cohort_size=8, noise=0.15) + [
        (1001, [0.0] * dims),
        (1002, [-0.0] * dims),
        (1003, [0.3, float("nan")] + [0.5] * (dims - 2)),
        (1004, on_plane),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def jvm_reference(flip_cells):
        e = F.transform("embedding", lambda x: x.cast("double"))
        projs = [
            F.expr(similarity._dot("e", f"array({', '.join(f'{s!r}D' for s in signs)})"))
            for signs in planes
        ]

        def bucket(ps, flip=None):
            return F.concat(*[
                F.when(p >= 0, F.lit("0" if j == flip else "1"))
                .otherwise(F.lit("1" if j == flip else "0"))
                for j, p in enumerate(ps)
            ])

        cells = []
        for t in range(similarity.ANN_LSH_TABLES):
            ps = projs[t * ppt:(t + 1) * ppt]
            cells.append((t, bucket(ps)))
            if flip_cells:
                absv = [F.abs(p) for p in ps]
                flip = None
                for j in range(ppt):
                    cond = reduce(lambda a, b: a & b, [
                        absv[i] > absv[j] if i < j else absv[i] >= absv[j]
                        for i in range(ppt) if i != j
                    ])
                    flip = (F.when if flip is None else flip.when)(cond, bucket(ps, j))
                cells.append((t, flip))
        tb = F.explode(F.array(*[
            F.struct(F.lit(t).cast("int").alias("t"), b.alias("bucket")) for t, b in cells
        ]))
        return _routing(
            emb.select("vec_id", e.alias("e"))
            .select("vec_id", tb.alias("tb"))
            .select("vec_id", "tb.t", "tb.bucket")
        )

    own, probed = jvm_reference(False), jvm_reference(True)
    assert own and len(probed) == 2 * len(own)
    assert _routing(similarity.lsh_table_buckets(emb, n_dims=dims)) == own
    for multiprobe, ref in ((0, own), (1, probed)):
        got = similarity.lsh_query_probes(
            emb, query_every=1, n_dims=dims, multiprobe=multiprobe
        )
        assert _routing(got) == ref
    # the single-table planes are the first ANN_SIGN_PLANES of the family
    assert similarity.ANN_SIGN_PLANES == 2 * ppt
    by_vec = {(v, t): b for v, t, b in own}
    assert _routing(similarity.lsh_sign_buckets(emb, n_dims=dims)) == sorted(
        (v, by_vec[(v, 0)] + by_vec[(v, 1)]) for v, t, _ in own if t == 0
    )


def test_lsh_query_probes_rejects_bad_multiprobe(spark):
    with pytest.raises(ValueError, match="multiprobe"):
        similarity.lsh_query_probes(_emb(spark), n_dims=64, multiprobe=2)


@pytest.mark.parametrize(
    "op,bound",
    # a fifth of the py4j calls these builds took with per-plane
    # literal folds (3,255 / 17,475 / 42,548 at sf0.1, warm)
    [("lsh_sign_buckets", 651), ("embedding_near_dups", 3495),
     ("lsh_bucketed_topk", 8509)],
)
def test_lsh_builds_take_few_py4j_calls(spark, warm_build_calls, op, bound):
    """Building a sign-LSH query is a handful of JVM round trips, not
    one per plane literal: count ClientServerConnection.send_command
    calls over a warm build with the width given."""
    emb = _emb(spark)
    build = getattr(similarity, op)
    calls = warm_build_calls(lambda: build(emb, n_dims=64))
    assert 0 < calls <= bound, calls


def _planted_build_calls(spark, warm_build_calls, op):
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    emb = spark.createDataFrame(
        planted_embeddings(2000), "vec_id long, embedding array<float>"
    )
    return warm_build_calls(lambda: getattr(similarity, op)(emb, n_dims=64))


def test_ivf_probed_topk_build_takes_few_py4j_calls(spark, warm_build_calls):
    """IVF probes are ranked by the ``_topk`` window over the broadcast
    centroid table, not a literal C×(D+3) centroid array sorted by a
    comparator, and training is built as frames, not collected: a warm
    build (training included) at 40 centroids took 23,600-28,300 round
    trips with the literal array and about 9,000 with the collected
    training; it takes about 2,900."""
    calls = _planted_build_calls(spark, warm_build_calls, "ivf_probed_topk")
    assert 0 < calls <= 3500, calls


def test_pq_adc_topk_build_takes_few_py4j_calls(spark, warm_build_calls):
    """A warm PQ search build (training included) took 6,300-6,900
    round trips with the collected training; it takes about 4,100."""
    calls = _planted_build_calls(spark, warm_build_calls, "pq_adc_topk")
    assert 0 < calls <= 5000, calls


@pytest.mark.parametrize("op", _QUANTIZER_OPS)
def test_ivf_and_pq_builds_run_no_jobs(spark, job_count, op):
    """Training is part of the lazy plan (seeds, every unrolled Lloyd's
    round and the stride are frames and a scalar subquery), so building
    a quantizer or a query over it runs no Spark job when the width is
    given; the work waits for the caller's action."""
    emb = _emb(spark)
    assert job_count(lambda: getattr(similarity, op)(emb, n_dims=64)) == 0


def test_train_pq_codebooks_rejects_uneven_dims(spark):
    with pytest.raises(ValueError, match="n_dims"):
        similarity.train_pq_codebooks(_emb(spark), n_dims=63)


def test_probed_width_is_the_common_width(spark):
    """One ragged vector read first must not set the width of a pass:
    the probed width is the most common clean length, so routing with
    it equals routing with the width given."""
    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    rows = [(0, [0.5] * 10)] + planted_embeddings(200)[1:]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    probed = sorted(tuple(r) for r in similarity.lsh_table_buckets(emb).collect())
    given = sorted(
        tuple(r) for r in similarity.lsh_table_buckets(emb, n_dims=64).collect()
    )
    assert probed == given and len(given) == 199 * similarity.ANN_LSH_TABLES
