"""Seeded benchmark inputs, generated once per seed and cached.

Two input families:

* ``pages``: a Common-Crawl-like ``pages`` table built with the fixture
  payload builders of ``typhoon_ocr_spark.sources.fixtures`` (~62% HTML,
  ~25% 1-6 page PDFs, ~8% images, ~5% junk, plus one giant PDF every
  ``skew_every`` docs), with every document's randomness keyed by
  ``(seed, doc_id)``. The expected per-url output comes from the pure
  oracle ``oracle.docpipe.extract_document``.
* ``corpus``: ``documents`` / ``embeddings`` tables drawn from a NumPy
  generator keyed by the seed. Documents follow the columns and text
  statistics of the repository's test ``documents`` table (30-word
  vocabulary, 10-100 words per document, 5% near-copies tagged " dup",
  five languages, 20 sources). Embeddings are the planted-cohort vectors
  of ``fixtures.planted_embeddings`` under a seeded jitter and id
  permutation, unit-normed. The expected query results are the
  ``oracle_sql()`` DuckDB twins run over these tables, stored as digests.

Run as a script (see the bottom of this file), it makes one input set and
prints its directory.

Everything lands under ``.bench_build/perfbench/inputs`` in the checkout
(git-ignored). Cache entries are keyed by the seed, the shape and a hash
of the generator and oracle sources, so a change to either regenerates.
"""

from __future__ import annotations

import glob
import hashlib
import json
import multiprocessing
import os
import random
import shutil
from datetime import datetime, timedelta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".bench_build", "perfbench", "inputs")

CORPUS_QUERIES = (
    "minhash_pairs",
    "simhash_near_dups",
    "ann_topk",
    "embedding_near_dups",
    "quality_lang",
)
# Built and fetched in the traced run's layer step only, not in the timed
# passes: its LSH planes take thousands of Py4J calls to construct (7-10 s,
# whatever the data size), and that time swings with the host by up to 40%
# from pass to pass, more than the bound of ``wall_s``.
LAYER_ONLY = ("embedding_near_dups",)

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIMS = 64


def _sources_digest(patterns) -> str:
    h = hashlib.sha256()
    for pattern in patterns:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _cached(kind: str, seed: int, shape: dict, sources, build) -> str:
    """Directory holding the inputs for (kind, seed, shape); ``build``
    fills a fresh directory on a miss. Entries appear atomically."""
    key = json.dumps(shape, sort_keys=True) + _sources_digest(sources)
    tag = hashlib.sha256(key.encode()).hexdigest()[:12]
    path = os.path.join(CACHE_DIR, f"{kind}-s{seed}-{tag}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

def _page_rows(task):
    """Generate docs [lo, hi) and their oracle output (runs in a pool)."""
    seed, lo, hi, n_docs, skew_every, skew_pages = task
    from typhoon_ocr_spark.oracle.docpipe import extract_document
    from typhoon_ocr_spark.sources import fixtures as fx

    t0 = datetime(2025, 1, 1)
    step = timedelta(seconds=(365 * 24 * 3600) // max(n_docs, 1))
    rows = []
    for doc_id in range(lo, hi):
        rng = random.Random(f"{seed}:{doc_id}")
        lang = "th" if rng.random() < 0.25 else "en"
        host = f"example-{rng.randrange(16 ** 4):04x}.test"
        url = f"https://{host}/{doc_id:08d}"
        roll = rng.random()
        if doc_id % skew_every == skew_every - 1:
            payload = fx._pdf_payload(rng, doc_id, lang, skew_pages)
        elif roll < 0.62:
            payload = fx._html_payload(rng, doc_id, lang)
        elif roll < 0.87:
            payload = fx._pdf_payload(rng, doc_id, lang, rng.randint(1, 6))
        elif roll < 0.95:
            payload = fx._image_payload(rng, doc_id)
        else:
            payload = fx._junk_payload(rng)
        text = fx._words(rng, 8, lang) if rng.random() < 0.3 else None
        doc = extract_document(url, payload)
        rows.append(
            (url, t0 + step * doc_id, payload, text, lang,
             doc.kind, doc.extracted_text, doc.page_count, doc.success)
        )
    return rows


def pages(seed: int, n_docs: int, n_files: int, skew_every: int, skew_pages: int) -> str:
    """Cache dir with ``pages/`` (n_files parquet shards) and
    ``expected.parquet`` (url, kind, extracted_text, page_count, success)."""
    shape = {"docs": n_docs, "files": n_files, "skew_every": skew_every,
             "skew_pages": skew_pages}

    def build(out: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from typhoon_ocr_spark.sources.fixtures import _PAGES_SCHEMA

        chunk = max(1, n_docs // 32)
        tasks = [(seed, lo, min(lo + chunk, n_docs), n_docs, skew_every, skew_pages)
                 for lo in range(0, n_docs, chunk)]
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(min(4, os.cpu_count() or 1)) as pool:
            parts = pool.map(_page_rows, tasks)
            pool.close()
            pool.join()
        rows = [r for part in parts for r in part]
        cols = list(zip(*rows))
        table = pa.table(
            {name: list(cols[i]) for i, name in enumerate(_PAGES_SCHEMA.names)},
            schema=_PAGES_SCHEMA,
        )
        os.makedirs(os.path.join(out, "pages"))
        per_file = -(-n_docs // n_files)
        for s in range(n_files):
            pq.write_table(
                table.slice(s * per_file, per_file),
                os.path.join(out, "pages", f"part-{s:05d}.parquet"),
                row_group_size=512,
            )
        expected = pa.table({
            "url": list(cols[0]),
            "kind": list(cols[5]),
            "extracted_text": list(cols[6]),
            "page_count": pa.array(cols[7], pa.int64()),
            "success": list(cols[8]),
        })
        pq.write_table(expected, os.path.join(out, "expected.parquet"))

    return _cached("pages", seed, shape, _ORACLE_SOURCES, build)


_ORACLE_SOURCES = (
    "perfbench/inputs.py",
    "typhoon_ocr_spark/oracle/*.py",
    "typhoon_ocr_spark/sources/fixtures.py",
)


# ---------------------------------------------------------------------------
# corpus tables
# ---------------------------------------------------------------------------

def _corpus_tables(seed: int, n_docs: int, n_vecs: int):
    import numpy as np
    import pyarrow as pa

    from typhoon_ocr_spark.sources.fixtures import planted_embeddings

    rng = np.random.default_rng([seed, 0xC0])
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)])
             for n in rng.integers(10, 101, n_docs)]
    # near-copies: 5% of documents repeat another document plus " dup"
    dup_of = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if dup_of[i] != i:
            texts[i] = texts[dup_of[i]] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # planted near-neighbour cohorts of 8 (cosine ~0.98 inside a cohort),
    # so top-k and near-dup verification have real neighbours to find; the
    # seeded per-dimension jitter and id permutation make each seed's
    # vectors and query cohort differ
    base = np.array([v for _, v in planted_embeddings(n_vecs, EMB_DIMS)])
    vecs = (base + 0.05 * rng.standard_normal(base.shape))[rng.permutation(n_vecs)]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return documents, embeddings


def twin_sql() -> dict:
    """The DuckDB twin of each corpus query, from ``oracle_sql()``."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    twins = {q: sql[q] for q in CORPUS_QUERIES if q in sql}
    twins["quality_lang"] = (
        f"SELECT * FROM ({sql['quality_scores']}) "
        f"JOIN ({sql['lang_id']}) USING (doc_id)"
    )
    return twins


def result_digest(columns, rows) -> str:
    """Order-insensitive digest of a result, normalised the way
    ``tools/check_correctness.py`` compares Spark with DuckDB."""
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import frame_key

    names, data = frame_key(list(columns), [tuple(r) for r in rows])
    return hashlib.sha256(json.dumps([names, data]).encode()).hexdigest()


def corpus(seed: int, n_docs: int, n_vecs: int) -> str:
    """Cache dir with ``documents.parquet``, ``embeddings.parquet`` and
    ``expected.json`` ({query: {"rows": n, "digest": sha}})."""
    shape = {"docs": n_docs, "vecs": n_vecs}

    def build(out: str) -> None:
        import duckdb
        import pyarrow.parquet as pq

        documents, embeddings = _corpus_tables(seed, n_docs, n_vecs)
        pq.write_table(documents, os.path.join(out, "documents.parquet"))
        pq.write_table(embeddings, os.path.join(out, "embeddings.parquet"))
        con = duckdb.connect()
        try:
            for name in ("documents", "embeddings"):
                path = os.path.join(out, f"{name}.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            expected = {}
            for query, sql in twin_sql().items():
                rel = con.sql(sql)
                rows = rel.fetchall()
                expected[query] = {"rows": len(rows),
                                   "digest": result_digest(rel.columns, rows)}
        finally:
            con.close()
        with open(os.path.join(out, "expected.json"), "w") as fh:
            json.dump(expected, fh)

    sources = _ORACLE_SOURCES + ("__spark_entry__.py", "typhoon_ocr_spark/functions/textsql.py")
    return _cached("corpus", seed, shape, sources, build)


if __name__ == "__main__":
    # python3 perfbench/inputs.py {pages|corpus} <seed> '<shape json>'
    # prints the cache directory; run.py calls it as a child process so that
    # the worker pool and its resource tracker end with it
    import sys

    sys.path.insert(0, ROOT)
    family, seed_arg, shape_arg = sys.argv[1:]
    make = {"pages": pages, "corpus": corpus}[family]
    print(make(int(seed_arg), **json.loads(shape_arg)))
