"""sf0.1 → sf1 scaling curve for the dedup/ANN suite.

The per-round bench runs at one scale, so a quadratic blow-up hiding
inside an operator (bucket fan-out, candidate explosion) would look
fine until someone runs 10x the rows. This probe times each operator
at the sf0.1 tables (documents/embeddings, 5k rows) and at a synthetic
sf1 (10x rows: replicas with remapped ids and deterministically
mutated text / perturbed vectors so replicas are NOT exact duplicates
— identical texts would all land in capped LSH buckets and be dropped,
understating the real fan-out). A healthy near-linear operator shows a
ratio around 10-12x; anything beyond ~20x is a scale bug.

Rounds are interleaved (1x, 10x, 1x, 10x ...) and scored best-per-cell
because the host throttles unpredictably (BENCH.md).

Usage: python tools/dedup_scaling_curve.py [rounds]
Prints one JSON line: {"op": {"sec_1x": .., "sec_10x": .., "ratio": ..}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from typhoon_ocr_spark.operators import (  # noqa: E402
    dedup,
    sampling,
    similarity,
    textstats,
)
from typhoon_ocr_spark.plans.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MULT = 10
ID_STRIDE = 10_000_000


def replicate_documents(docs, mult: int = MULT):
    """10x documents: remapped ids, per-replica text mutation (replica
    tag prepended so shingles differ — replicas are near the original
    in MinHash space without being exact duplicates)."""
    parts = [docs]
    for i in range(1, mult):
        parts.append(
            docs.select(
                (F.col("doc_id") + i * ID_STRIDE).alias("doc_id"),
                F.concat(F.lit(f"r{i} v"), F.col("text")).alias("text"),
                *[c for c in docs.columns if c not in ("doc_id", "text")],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate_embeddings(emb, mult: int = MULT):
    """10x embeddings: remapped ids, per-replica per-DIMENSION additive
    jitter. A scalar rescale would be a no-op here — sign-LSH buckets
    and cosine are both exactly invariant to positive scaling, so
    scaled replicas would co-bucket everywhere and measure a 100x
    pair blow-up instead of a 10x corpus; additive jitter actually
    decorrelates bucket membership."""
    # closure factory, NOT a default arg: PySpark infers lambda arity
    # from the signature, so `def jitter(x, idx, rep=i)` would read as
    # a 3-arg lambda and fail analysis
    def make_jitter(rep):
        def jitter(x, idx):  # deterministic, sign-flipping noise
            return (
                x + F.sin((idx + 1).cast("double") * (rep * 7 + 3)) * 0.05
            ).cast("float")

        return jitter

    parts = [emb]
    for i in range(1, mult):
        jitter = make_jitter(i)
        parts.append(
            emb.select(
                (F.col("vec_id") + i * ID_STRIDE).alias("vec_id"),
                F.transform("embedding", jitter).alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = build_session(
        app_name="dedup-scaling-curve",
        # at 10x AQE would auto-broadcast vector-carrying intermediates
        # past the driver's memory; explicit broadcast() hints in the
        # operators still apply, auto-promotion stays conservative
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs1 = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb1 = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    docs10 = replicate_documents(docs1)
    emb10 = replicate_embeddings(emb1)

    dims = similarity.EMB_DIMS
    ops = {
        "minhash_pairs": lambda d, e: dedup.minhash_candidate_pairs(d).count(),
        "simhash_near_dups": lambda d, e: dedup.simhash_near_dups(d).count(),
        "jaccard_pairs": lambda d, e: dedup.jaccard_pairs(d).count(),
        "embedding_near_dups": lambda d, e: similarity.embedding_near_dups(
            e, n_dims=dims
        ).count(),
        "ann_lsh_topk": lambda d, e: similarity.lsh_bucketed_topk(
            e, n_dims=dims
        ).count(),
        "ann_ivf_topk": lambda d, e: similarity.ivf_probed_topk(
            e, n_dims=dims
        ).count(),
        # round 3: the one new textstats op with a shuffle + per-doc
        # fan-out (bigram explode -> groupBy -> window)
        "top_bigram": lambda d, e: textstats.top_bigram(d).count(),
        # round 4: shingle-hash shuffle + sort-merge join back — the
        # exact-substring dedup signal's scale shape. NB: .count() on
        # this op measures nothing — the groupBy gives Catalyst unique
        # join keys, so it ELIMINATES the whole join for a bare count;
        # summing the computed column keeps the lineage live.
        "ngram_dup": lambda d, e: int(
            dedup.ngram_dup_coverage(d).agg({"dup_pct": "sum"}).collect()[0][0]
        ),
        # round 4: sharded running-sum packing (same pruning hazard:
        # an unused window column would be elided under count())
        "sequence_pack": lambda d, e: int(
            sampling.sequence_pack_plan(d)
            .agg({"seq_offset": "sum"}).collect()[0][0]
        ),
        # round 5: broadcast-benchmark semi-join + count_distinct; the
        # 10x corpus shares shingles with the benchmark subset, so hit
        # counts grow with duplication — sum keeps the lineage live
        "decontaminate": lambda d, e: int(
            dedup.decontamination_flags(
                d,
                d.filter(F.col("doc_id") % dedup.DECONTAM_BENCH_EVERY == 0),
            ).agg({"n_hits": "sum"}).collect()[0][0]
        ),
        # round 5: count agg + map-only hash filter (kept-row count
        # forces the threshold evaluation)
        "source_mix": lambda d, e: sampling.source_mix_plan(
            d.select("doc_id", "lang"),
            {"en": 0.4, "de": 0.2, "es": 0.2, "zh": 0.2},
            source_col="lang",
        ).filter("keep").count(),
    }

    best: dict = {name: {"sec_1x": None, "sec_10x": None} for name in ops}
    counts: dict = {}
    errors: dict = {}
    for _ in range(rounds):
        for name, fn in ops.items():
            for label, d, e in (("sec_1x", docs1, emb1), ("sec_10x", docs10, emb10)):
                t0 = time.time()
                try:
                    n = fn(d, e)
                except Exception as exc:  # record, keep probing
                    errors[f"{name}:{label}"] = str(exc).split("\n")[0][:200]
                    continue
                sec = time.time() - t0
                counts[f"{name}:{label}"] = n
                prev = best[name][label]
                if prev is None or sec < prev:
                    best[name][label] = sec

    out = {}
    for name, cell in best.items():
        ratio = (
            round(cell["sec_10x"] / cell["sec_1x"], 2)
            if cell["sec_1x"] and cell["sec_10x"]
            else None
        )
        out[name] = {
            "sec_1x": round(cell["sec_1x"], 2) if cell["sec_1x"] else None,
            "sec_10x": round(cell["sec_10x"], 2) if cell["sec_10x"] else None,
            "ratio": ratio,
            "rows_1x": counts.get(f"{name}:sec_1x"),
            "rows_10x": counts.get(f"{name}:sec_10x"),
        }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
