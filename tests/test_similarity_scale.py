"""ANN scale-path semantics (round 2): bucketed search actually
searches, near-dups never go cartesian, recall is measured."""

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


def test_ivf_and_pq_assignment_plans_shuffle_only_id_rows(spark):
    """Round-5 verdict #2: the N×C scored rows must never shuffle. The
    assignment is a broadcast join + per-key min(struct) hash aggregate
    with MAP-SIDE partials — zero Window, and the single Exchange
    carries only the partially-aggregated id-rows. (A literal-array
    argmax fold achieves zero Exchange but runs on Catalyst's
    interpreted HOF path — measured 10-16× more CPU at 10x scale;
    BENCH.md r5.)"""
    emb = _emb(spark)
    for df in (
        similarity.ivf_assign(emb, n_dims=64),
        similarity.pq_assign(emb, n_dims=64),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan[:400]
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "partial_min" in plan  # map-side partial argmin
        exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert len(exchanges) <= 1, plan[:600]
        assert "Scan parquet" in plan


def test_ivf_training_is_partitioning_independent(spark):
    """The integer micro-unit Lloyd's contract: centroid sums are exact
    BIGINTs, so the trained centroids must be bit-identical however the
    corpus is partitioned (FP mean accumulation would break this)."""
    emb = _emb(spark)
    c1 = similarity.train_ivf_centroids(emb.repartition(1), n_dims=64)
    c7 = similarity.train_ivf_centroids(emb.repartition(7), n_dims=64)
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
    b1 = similarity.train_pq_codebooks(emb.repartition(1), n_dims=64)
    b5 = similarity.train_pq_codebooks(emb.repartition(5), n_dims=64)
    assert b1 == b5
    assert set(b1.keys()) == set(range(similarity.PQ_SUBSPACES))


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
            similarity._dot(F.col("qe"), F.col("e"))
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
