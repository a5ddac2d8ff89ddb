"""Deterministic fixture corpus: the `pages` input table + oracle-computed
`expected` goldens (FIXTURES.md).

Shape follows BASELINE.json's ``input_hint``:
``pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)`` — a Common-Crawl-style table. ~70% HTML documents,
~25% minimal PDFs, ~5% junk/truncated payloads, plus a skew cohort of
giant multi-page PDFs (100-1000x the median payload) so the salted
repartition path is actually exercised (SURVEY.md §7.3).

All generation is seeded (seed=42 convention, matching /root/testdata);
per-document randomness is keyed by (seed, doc_id) so any tier is
reproducible row-by-row. Expected outputs are computed by the pure
oracle (typhoon_ocr_spark.oracle.docpipe) — the byte-identical target.

CLI: ``python -m typhoon_ocr_spark.sources.fixtures [--tier sf0.01] ...``
writes /root/repo/data/pages_<tier>/{pages,expected_docs,expected_pages,
prompt_cases}.parquet.
"""

from __future__ import annotations

import argparse
import os
import random
from datetime import datetime, timedelta
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from ..oracle.docpipe import extract_document
from ..oracle.images import (
    webp_seed_is_lossless,
    write_gif,
    write_jpeg,
    write_png,
    write_webp,
)
from ..oracle.linearize import DEFAULT_ANCHOR_BUDGET
from ..oracle.pdfmini import MiniPdfWriter
from ..oracle.prompts import render_prompt
from ..oracle.respparse import parse_response_text

SEED = 42
# bump when payload generation changes so stale fixture dirs regenerate
CORPUS_VERSION = 21  # v21: subtract-green VP8L cohort (every 3rd lossless webp seed carries the transform; pages payloads + image goldens change)
DATA_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "data")

TIERS = {
    "sf0.001": {"docs": 200, "skew_every": 97, "skew_pages": 60, "expected": True, "shards": 1},
    "sf0.01": {"docs": 2000, "skew_every": 499, "skew_pages": 250, "expected": True, "shards": 1},
    # bench tier: sharded so the Spark scan parallelizes; no expected
    # tables (the byte-identical gate runs at the correctness tiers)
    "sf0.1": {"docs": 20000, "skew_every": 2499, "skew_pages": 400, "expected": False, "shards": 64},
    # scaling-probe tier: large enough that fixed overheads (session,
    # worker spawn, scheduling) amortize and the N-vs-4N comparison
    # measures throughput, not startup
    "scaling": {"docs": 240000, "skew_every": 9973, "skew_pages": 400, "expected": False, "shards": 256},
}

_EN_WORDS = (
    "data spark engine page anchor document extract pipeline cluster shuffle "
    "partition column vector batch arrow text layout table markdown content "
    "stream budget element image merge sort filter scan join metric lineage"
).split()
_TH_WORDS = "ข้อมูล เอกสาร ระบบ ภาษา ไทย หน้า ตาราง เนื้อหา วิเคราะห์ ประมวลผล".split()


def _words(rng: random.Random, n: int, lang: str) -> str:
    pool = _TH_WORDS if lang == "th" else _EN_WORDS
    return " ".join(rng.choice(pool) for _ in range(n))


# --------------------------------------------------------------------------
# HTML payloads (FIXTURES.md §1b)
# --------------------------------------------------------------------------

def _html_payload(rng: random.Random, doc_id: int, lang: str) -> bytes:
    n_paras = rng.randint(2, 6)
    paras = "".join(
        f"<p>{_words(rng, rng.randint(12, 40), lang)}.</p>" for _ in range(n_paras)
    )
    link_farm = "".join(
        f"<a href='/l{i}'>{_words(rng, 2, lang)}</a> " for i in range(rng.randint(4, 10))
    )
    table = ""
    if rng.random() < 0.4:
        rows = "".join(
            f"<tr><td>{_words(rng, 2, lang)}</td><td>{rng.randint(0, 999)}</td></tr>"
            for _ in range(rng.randint(2, 5))
        )
        table = f"<table><tr><th>item</th><th>qty</th></tr>{rows}</table>"
    malformed = "<p>unclosed <b>bold" if rng.random() < 0.1 else ""
    entities = "&amp; &lt;tag&gt; &#3652;&#3607;&#3618;" if rng.random() < 0.2 else ""
    return (
        "<!DOCTYPE html><html><head><title>doc {id}</title>"
        "<script>window.track({id});</script><style>.x{{display:none}}</style></head>"
        "<body>"
        "<nav><a href='/'>Home</a> <a href='/about'>About</a> <a href='/c'>Contact</a></nav>"
        "<header><div>Site header navigation chrome for document {id}</div></header>"
        "<article><h1>{headline}</h1>{paras}{table}"
        "<div>{entities} trailing sentence with enough characters to stay.</div>{malformed}</article>"
        "<aside><div>{farm}</div></aside>"
        "<footer><p>Footer legal boilerplate text that is dropped always.</p></footer>"
        "</body></html>"
    ).format(
        id=doc_id,
        headline=_words(rng, 4, lang).title(),
        paras=paras,
        table=table,
        entities=entities,
        malformed=malformed,
        farm=link_farm,
    ).encode("utf-8")


# --------------------------------------------------------------------------
# PDF payloads (FIXTURES.md §1a) — hand-built via MiniPdfWriter
# --------------------------------------------------------------------------

_MEDIABOXES = [(0, 0, 612, 792), (0, 0, 400, 600), (-50, -100, 562, 692)]


def _pdf_payload(rng: random.Random, doc_id: int, lang: str, n_pages: int) -> bytes:
    w = MiniPdfWriter()
    for p in range(n_pages):
        w.add_page(mediabox=_MEDIABOXES[rng.randrange(len(_MEDIABOXES)) if rng.random() < 0.3 else 0])
        style = rng.random()
        base_y = 700
        n_runs = rng.randint(2, 8)
        if style < 0.08:
            pass  # empty page
        elif style < 0.16:
            # whitespace-only runs plus one real (filter path)
            w.text(72, base_y, "   ")
            w.text(72, base_y - 20, f"real run p{p + 1} {_words(rng, 4, lang)}")
        elif style < 0.24:
            # over-budget page: many runs → truncation + seeded shuffle
            for i in range(120):
                w.text(30 + (i % 10) * 55, 740 - (i // 10) * 55,
                       f"cell{i} {_words(rng, 3, lang)}")
        elif style < 0.32:
            # escaping + >250-char element + mojibake cohort
            w.text(72, base_y, "bracket [test] and\ttab")
            long_text = "long " + " ".join(f"w{i}" for i in range(80))
            w.text(72, base_y - 20, long_text)
            mojibake = "café naïve".encode("utf-8").decode("latin-1")
            w.text(72, base_y - 40, f"fix {mojibake} me")
            # round 3: the widened fix_text_lite paths (SURVEY §7.4).
            # Mojibake repair is whole-string (like ftfy's per-segment
            # granularity at element scope), so the cp1252 case gets
            # its own run — mixing in multi-byte chars (ﬁ, Ｏ) would
            # make the sloppy-1252 encode fail and mask the repair.
            from ..oracle.textops import sloppy_1252_decode

            cp1252 = sloppy_1252_decode("it’s “quoted”".encode("utf-8"))
            w.text(72, base_y - 60, f"q {cp1252} end")
            w.text(72, base_y - 80, "and ﬂuﬃest ﬁne ＯＫ　done")
            # round 4: unescape_html (named + numeric + non-entities)
            # and restore_byte_a0 (space-for-NBSP corrupted mojibake)
            w.text(72, base_y - 100,
                   "fish &amp; chips &#3652;&#x0E17; AT&T &notreal; end")
            nbsp_corrupt = (
                "voilà déjà".encode("utf-8").replace(b"\xa0", b" ").decode("latin-1")
            )
            w.text(72, base_y - 120, f"nb {nbsp_corrupt} sp")
            # round 4 (completion): replace_lossy_sequences (destroyed
            # continuation -> U+FFFD) and decode_inconsistent_utf8
            # (mojibake run embedded in already-correct Thai)
            w.text(72, base_y - 140,
                   sloppy_1252_decode(b"lossy caf\xc3? here"))
            w.text(72, base_y - 160,
                   "ไทย " + "café".encode("utf-8").decode("latin-1") + " mixed")
        elif style < 0.42:
            # images: two overlapping + one disjoint (merge path)
            w.image("Im1", 50, 60, 100, 110)
            w.image("Im2", 100.3, 60, 150, 160)
            w.image("Im3", 300, 500, 350, 560)
            w.text(72, 200, f"caption {_words(rng, 3, lang)}")
        elif style < 0.52:
            # TJ / T* / Tm operator coverage, out-of-reading-order stream
            w.text_tj(80, 300, [f"split{p}", " joined"])
            w.text_lines(90, 680, 16, [f"l1 {_words(rng, 2, lang)}", f"l2 {_words(rng, 2, lang)}"])
            w.text(100, 100, "low line first in stream", mode="Tm")
            w.text(100, 500, "high line later in stream", mode="Tm")
        else:
            for i in range(n_runs):
                w.text(72, base_y - 18 * i, f"p{p + 1}r{i} {_words(rng, rng.randint(3, 9), lang)}")
    # File-structure variety mirrors the wild: most real PDFs Flate-
    # compress their content streams; a meaningful share use PDF-1.5
    # xref streams, some with ObjStm packing (VERDICT round 1 #1).
    mode = rng.random()
    if mode < 0.45:
        return w.build(compress=True)
    if mode < 0.60:
        return w.build(compress=True, xref_stream=True)
    if mode < 0.72:
        return w.build(compress=True, objstm=True)
    if mode < 0.80:
        return w.build(xref_stream=True)
    return w.build()


_IMAGE_WRITERS = [write_png, write_jpeg, write_gif, write_webp]


def _image_payload(rng: random.Random, doc_id: int) -> bytes:
    """Raster payload (PNG/JPEG/GIF/WebP) with deterministic dims.
    PNG/JPEG/GIF carry REAL pixel data, and WebP does too for even
    doc_ids (VP8L lossless; odd doc_ids stay the header-only VP8X
    shell standing in for lossy VP8). Bounded dims keep encode cost
    sane; ~30% of the real-pixel rasters exceed the 300 px resize
    trigger so the pixel-resample golden actually checks resized PNGs
    (a corpus capped under the trigger made that gate vacuous —
    round-3 review)."""
    writer = _IMAGE_WRITERS[rng.randrange(len(_IMAGE_WRITERS))]
    width = rng.randint(16, 2400)
    height = rng.randint(16, 1800)
    header_only_webp = writer is write_webp and not webp_seed_is_lossless(doc_id)
    if not header_only_webp:  # real pixels: keep the count bounded
        if rng.random() < 0.3:  # over-trigger cohort (one side > 300)
            width, height = width % 150 + 301, height % 200 + 60
        else:
            width, height = width % 256 + 8, height % 256 + 8
    return writer(width, height, seed=doc_id)


def _junk_payload(rng: random.Random) -> bytes:
    body = rng.randbytes(rng.randint(16, 256))
    # ensure it can't sniff as html/pdf
    return b"\x00\xff" + body


# --------------------------------------------------------------------------
# Corpus generation
# --------------------------------------------------------------------------

def generate_pages(n_docs: int, skew_every: int, skew_pages: int) -> Dict[str, list]:
    urls: List[str] = []
    tss: List[datetime] = []
    payloads: List[bytes] = []
    pre_texts: List[Optional[str]] = []
    langs: List[str] = []
    t0 = datetime(2025, 1, 1)
    step = timedelta(seconds=(365 * 24 * 3600) // max(n_docs, 1))

    for doc_id in range(n_docs):
        rng = random.Random(f"{SEED}:{doc_id}")
        lang = "th" if rng.random() < 0.25 else "en"
        host = f"example-{rng.randrange(16 ** 4):04x}.test"
        url = f"https://{host}/{doc_id:08d}"
        roll = rng.random()
        if doc_id % skew_every == skew_every - 1:
            payload = _pdf_payload(rng, doc_id, lang, skew_pages)  # skew cohort
        elif roll < 0.62:
            payload = _html_payload(rng, doc_id, lang)
        elif roll < 0.87:
            payload = _pdf_payload(rng, doc_id, lang, rng.randint(1, 6))
        elif roll < 0.95:
            payload = _image_payload(rng, doc_id)
        else:
            payload = _junk_payload(rng)
        urls.append(url)
        tss.append(t0 + step * doc_id)
        payloads.append(payload)
        pre_texts.append(_words(rng, 8, lang) if rng.random() < 0.3 else None)
        langs.append(lang)

    return {"url": urls, "warc_ts": tss, "html": payloads, "text": pre_texts, "lang": langs}


_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def compute_expected(pages: Dict[str, list]) -> tuple:
    doc_rows = {k: [] for k in ("url", "kind", "extracted_text", "page_count", "success")}
    page_rows = {
        k: []
        for k in ("url", "page", "kind", "anchor_text", "text", "success", "error", "table_md")
    }
    for url, payload in zip(pages["url"], pages["html"]):
        doc = extract_document(url, payload, anchor_budget=DEFAULT_ANCHOR_BUDGET)
        doc_rows["url"].append(doc.url)
        doc_rows["kind"].append(doc.kind)
        doc_rows["extracted_text"].append(doc.extracted_text)
        doc_rows["page_count"].append(doc.page_count)
        doc_rows["success"].append(doc.success)
        for p in doc.pages:
            page_rows["url"].append(url)
            page_rows["page"].append(p.page)
            page_rows["kind"].append(doc.kind)
            page_rows["anchor_text"].append(p.anchor_text)
            page_rows["text"].append(p.text)
            page_rows["success"].append(p.success)
            page_rows["error"].append(p.error)
            page_rows["table_md"].append(p.table_md)
    return doc_rows, page_rows


def compute_expected_images(pages: Dict[str, list]) -> pa.Table:
    """Golden for the real-decode path (operators/multimodal.
    image_pixel_stats): PNG pixel statistics, header-only dims for the
    codec-needing formats — computed by the same oracle the UDF runs."""
    from ..oracle.images import image_stats_row

    cols = ("img_kind", "width", "height", "n_samples",
            "mean_pm", "spread_pm", "decoded")
    rows = {k: [] for k in ("url",) + cols}
    for url, payload in zip(pages["url"], pages["html"]):
        stats = image_stats_row(payload)
        if stats is None:
            continue
        rows["url"].append(url)
        for col, val in zip(cols, stats):
            rows[col].append(val)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("img_kind", pa.string()),
            ("width", pa.int64()),
            ("height", pa.int64()),
            ("n_samples", pa.int64()),
            ("mean_pm", pa.int64()),
            ("spread_pm", pa.int64()),
            ("decoded", pa.string()),
        ]
    )
    return pa.table(rows, schema=schema)


def compute_expected_features(pages: Dict[str, list]) -> pa.Table:
    """Golden for the feature-vector real-decode path (operators/
    multimodal.page_image_features): pixel-statistic vectors for every
    raster row, computed by the same _decode_features the UDF runs,
    quantized to per-mille BIGINTs (floor(x*1000 + 0.5) — identical
    arithmetic on both sides; never round(), whose half-even ties
    differ between Python and Spark SQL)."""
    import hashlib as _hl
    import math

    from ..operators.multimodal import _decode_features
    from ..oracle.docpipe import sniff_kind

    rows = {k: [] for k in ("url", "payload_sha", "n_bytes", "features_pm")}
    for url, payload in zip(pages["url"], pages["html"]):
        if sniff_kind(payload) != "image":
            continue
        feats = _decode_features(payload)
        rows["url"].append(url)
        rows["payload_sha"].append(_hl.sha256(payload).hexdigest())
        rows["n_bytes"].append(len(payload))
        rows["features_pm"].append([int(math.floor(x * 1000 + 0.5)) for x in feats])
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("payload_sha", pa.string()),
            ("n_bytes", pa.int64()),
            ("features_pm", pa.list_(pa.int64())),
        ]
    )
    return pa.table(rows, schema=schema)


def compute_expected_renders(pages: Dict[str, list]) -> pa.Table:
    """Golden for the page-raster path (oracle/render.py): per pdf page
    the render dims + sha256 of the PNG bytes."""
    import hashlib

    from ..oracle.docpipe import sniff_kind
    from ..oracle.images import encode_png_gray
    from ..oracle.pdfmini import parse_pdf
    from ..oracle.render import render_page_bitmap

    rows = {k: [] for k in ("url", "page", "render_w", "render_h", "render_sha")}
    for url, payload in zip(pages["url"], pages["html"]):
        if sniff_kind(payload) != "pdf":
            continue
        try:
            reports = parse_pdf(payload)
        except Exception:
            continue
        for idx, report in enumerate(reports, start=1):
            w, h, pixels = render_page_bitmap(report)
            png = encode_png_gray(w, h, pixels)
            rows["url"].append(url)
            rows["page"].append(idx)
            rows["render_w"].append(w)
            rows["render_h"].append(h)
            rows["render_sha"].append(hashlib.sha256(png).hexdigest())
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("page", pa.int64()),
            ("render_w", pa.int64()),
            ("render_h", pa.int64()),
            ("render_sha", pa.string()),
        ]
    )
    return pa.table(rows, schema=schema)


# gate-tier resize target: the reference's 2048 default upscales every
# raster to megapixels — pure-Python resampling at that size would
# dominate the correctness run; the RULE (threshold, truncation,
# nearest mapping) is identical at any target
RESIZE_GATE_MAX = 256


def compute_expected_resizes(pages: Dict[str, list]) -> pa.Table:
    """Golden for the real pixel-resize path (operators/multimodal.
    resize_images): per raster row the dims + sha256 of the re-encoded
    PNG (or NULL when under threshold / error text when undecodable) —
    computed by the same oracle function the UDF runs."""
    import hashlib

    from ..oracle.images import (
        ImageError,
        image_dimensions,
        resize_image_payload,
        sniff_image_kind,
    )

    cols = ("width", "height", "new_width", "new_height", "resized_sha", "error")
    rows = {k: [] for k in ("url",) + cols}
    for url, payload in zip(pages["url"], pages["html"]):
        if sniff_image_kind(payload) is None:
            continue
        # row semantics MUST mirror operators/multimodal.resize_images
        # exactly (incl. error rows with NULL dims for image-sniffing
        # payloads whose header won't parse), or row counts drift
        try:
            w, h, nw, nh, png = resize_image_payload(payload, RESIZE_GATE_MAX)
            sha = hashlib.sha256(png).hexdigest() if png is not None else None
            err = None
        except (ImageError, NotImplementedError) as exc:
            try:
                w, h = image_dimensions(payload)
            except ImageError:
                w = h = None
            nw = nh = sha = None
            err = str(exc)[:200]
        rows["url"].append(url)
        for col, val in zip(cols, (w, h, nw, nh, sha, err)):
            rows[col].append(val)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("width", pa.int64()),
            ("height", pa.int64()),
            ("new_width", pa.int64()),
            ("new_height", pa.int64()),
            ("resized_sha", pa.string()),
            ("error", pa.string()),
        ]
    )
    return pa.table(rows, schema=schema)


def compute_expected_messages(pages: Dict[str, list]) -> pa.Table:
    """Golden for the full LLM request envelope (prompt + base64 page
    render): sha256 per pdf page."""
    from ..oracle.docpipe import sniff_kind
    from ..oracle.pdfmini import parse_pdf
    from ..oracle.render import page_ocr_message_sha

    rows = {k: [] for k in ("url", "page", "message_sha")}
    for url, payload in zip(pages["url"], pages["html"]):
        if sniff_kind(payload) != "pdf":
            continue
        try:
            reports = parse_pdf(payload)
        except Exception:
            continue
        for idx, report in enumerate(reports, start=1):
            rows["url"].append(url)
            rows["page"].append(idx)
            rows["message_sha"].append(page_ocr_message_sha(url, report, idx))
    schema = pa.schema(
        [("url", pa.string()), ("page", pa.int64()), ("message_sha", pa.string())]
    )
    return pa.table(rows, schema=schema)


def prompt_cases() -> Dict[str, list]:
    """Prompt/response parsing fixture table (FIXTURES.md §3)."""
    anchors = ["Page dimensions: 612.0x792.0\n[72x700]Hello\n", ""]
    cases = []
    for task in ("default", "structure", "v1.5", "invalid_name"):
        for anchor in anchors:
            cases.append((task, anchor, render_prompt(task, anchor)))
    responses = [
        '{"natural_text": "plain json body"}',
        'pre\n```json\n{"natural_text": "fenced body"}\n```\npost',
        "raw markdown **only**",
        "keep <figure>figure text</figure> around",
        '{"natural_text": unparseable',
        "",
    ]
    out = {k: [] for k in ("case_id", "task_type", "anchor_text", "rendered_prompt",
                           "raw_response", "expected_parsed")}
    i = 0
    for task, anchor, prompt in cases:
        for resp in responses:
            out["case_id"].append(i)
            out["task_type"].append(task)
            out["anchor_text"].append(anchor)
            out["rendered_prompt"].append(prompt)
            out["raw_response"].append(resp)
            out["expected_parsed"].append(parse_response_text(resp))
            i += 1
    return out


def markdown_cases() -> Dict[str, list]:
    """Markdown→plaintext flattening fixtures
    (frontend/utils/markdownText.ts:1-37 behaviors)."""
    from ..oracle.mdflatten import markdown_to_plain_text

    cases = [
        "# Title\n\nplain paragraph",
        "**bold** _it_ `code` ~~strike~~",
        "[label](http://x) and ![alt](y.png)",
        "| a | b |\n|---|---|\n| 1 | 2 |",
        "```python\nx = 1\ny = 2\n```",
        "- item one\n* item two\n1. ordered\n- [x] done\n---",
        "> quoted line\n>> nested",
        "<p>para</p><div>block</div><br>after<table><tr><td>c</td></tr></table>",
        "line1\r\nline2\r\n\r\n\r\n\r\nline3",
        "Thai: ภาษาไทย **หนา**",
        "",
        "just plain text with no markdown at all",
    ]
    return {
        "case_id": list(range(len(cases))),
        "markdown": cases,
        "expected_plain": [markdown_to_plain_text(c) for c in cases],
    }


def base64_cases() -> Dict[str, list]:
    """Base64 validity fixtures (ocr_utils.py:627-632 round-trip)."""
    import base64 as b64

    from ..oracle.textops import is_base64_string

    cases = [
        "SGVsbG8gV29ybGQ=",
        "VGVzdA==",
        b64.b64encode(b"test data").decode(),
        b64.b64encode("测试".encode()).decode(),
        "YQ==",
        "YQ",
        "Hello World",
        "Not!Base64@String",
        "SGVsbG8",
        "!!!@@@###",
        "",
        "====",
    ]
    return {
        "case_id": list(range(len(cases))),
        "input_string": cases,
        "expected_valid": [is_base64_string(c) for c in cases],
    }


def planted_embeddings(
    n_vecs: int, dims: int = 64, cohort_size: int = 8, noise: float = 0.15
) -> List[tuple]:
    """Deterministic embedding corpus with PLANTED near-neighbor
    cohorts: vector i = base[i // cohort_size] + noise*jitter, so every
    vector's true nearest neighbors are its cohort-mates (cosine ~0.99
    within a cohort vs ~0 across). The round-2 recall numbers were
    measured on near-random vectors where "true top-k" is itself
    arbitrary; ANN recall is only meaningful against planted structure.
    All values are md5-derived — no RNG state, stable across runs.
    Returns [(vec_id, [float32...])]."""
    import hashlib

    def h(key: str) -> float:  # uniform-ish in [-1, 1)
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 0x80000000 - 1.0

    bases = {
        c: [h(f"pc|{c}|{d}") for d in range(dims)]
        for c in range((n_vecs + cohort_size - 1) // cohort_size)
    }
    return [
        (
            i,
            [
                float(bases[i // cohort_size][d] + noise * h(f"pv|{i}|{d}"))
                for d in range(dims)
            ],
        )
        for i in range(n_vecs)
    ]


def clustered_embeddings(
    n_vecs: int,
    dims: int = 64,
    n_clusters: int = 12,
    spread: float = 0.35,
    noise_frac: float = 0.1,
) -> List[tuple]:
    """Deterministic clustered corpus with REALISTIC shape (round-5
    verdict #3: planted equal-size cohorts flatter untrained sampled
    cohort centroids): Zipf-skewed cluster sizes (cluster k draws mass
    ∝ 1/(k+1), so the head cluster is ~an order denser than the tail),
    moderate within-cluster spread, and ``noise_frac`` unclustered
    background vectors. True top-k is meaningful (neighbors concentrate
    in-cluster) while the cell-occupancy skew is exactly what punishes
    quantizers whose cells ignore the data distribution.
    All values md5-derived — no RNG state. Returns [(vec_id, [f32...])]."""
    import hashlib

    def h(key: str) -> float:  # uniform-ish in [-1, 1)
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) / 0x80000000 - 1.0

    def u(key: str) -> float:  # uniform-ish in [0, 1)
        return (h(key) + 1.0) / 2.0

    weights = [1.0 / (k + 1) for k in range(n_clusters)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    centers = {
        k: [h(f"cb|{k}|{d}") for d in range(dims)] for k in range(n_clusters)
    }
    rows = []
    for i in range(n_vecs):
        pick = u(f"ca|{i}")
        if pick < noise_frac:  # unclustered background
            rows.append((i, [float(h(f"cn|{i}|{d}")) for d in range(dims)]))
            continue
        p = (pick - noise_frac) / (1.0 - noise_frac)
        k = next(j for j, c in enumerate(cdf) if p < c or j == n_clusters - 1)
        rows.append(
            (
                i,
                [
                    float(centers[k][d] + spread * h(f"cv|{i}|{d}"))
                    for d in range(dims)
                ],
            )
        )
    return rows


def generate_media(n_rows: int):
    """Deterministic audio/video table: WAV (real PCM16 synth, varied
    rate/channels/length), MP4 shells (real mvhd duration), raw-gray
    MP4 VIDEOS (real sample tables + frames), MP3 frame streams
    (CBR / VBR / ID3v2-tagged — real header-walk duration), truncated
    WAV and MP3 bodies (decode-error path), and non-media junk
    (dropped by the operator).
    Returns ({media_id, payload}, meta golden, frames golden)."""
    from ..oracle.media import (
        frame_stats_rows,
        media_meta_row,
        write_mp3,
        write_mp4,
        write_mp4_video,
        write_wav,
    )
    from ..operators.multimodal import FRAME_STATS_FIELDS, MEDIA_META_FIELDS

    media_ids, payloads = [], []
    # (name, type) pairs of the operators' DDL field strings
    meta_fields = [f.split() for f in MEDIA_META_FIELDS.split(",")]
    meta_cols = tuple(name for name, _ in meta_fields)
    golden = {k: [] for k in ("media_id",) + meta_cols}
    frame_cols = ("media_id",) + tuple(
        f.split()[0] for f in FRAME_STATS_FIELDS.split(",")
    )
    frames_golden = {k: [] for k in frame_cols}
    for i in range(n_rows):
        mod = i % 10
        if mod < 4:
            payload = write_wav(seed=i, n_frames=200 + (i * 37) % 1400,
                                channels=1 + i % 2,
                                rate=(8000, 16000, 44100)[i % 3])
        elif mod == 4:
            payload = write_mp4(seed=i, duration_ms=500 + (i * 911) % 60000)
        elif mod == 5:  # REAL raw-gray video: sample tables + frames
            payload = write_mp4_video(
                seed=i, width=16 + (i * 3) % 24, height=12 + (i * 5) % 20,
                n_frames=4 + (i * 7) % 24, fps=1 + i % 3,
            )
        elif mod == 6:
            payload = write_mp3(seed=i, n_frames=10 + (i * 13) % 120,
                                rate_idx=i % 3)
        elif mod == 7:
            payload = write_mp3(seed=i, n_frames=10 + (i * 7) % 90,
                                id3=i % 2 == 0, vbr=True)
        elif mod == 8:  # truncated bodies: decode-error rows
            payload = (
                write_wav(seed=i)[: 40 + i % 50]
                if i % 2
                else write_mp3(seed=i, n_frames=2)[:30]
            )
        else:
            payload = b"junk-not-media-%d" % i
        media_ids.append(i)
        payloads.append(payload)
        row = media_meta_row(payload)
        if row is not None:
            golden["media_id"].append(i)
            for name, val in zip(meta_cols, row):
                golden[name].append(val)
        stats = frame_stats_rows(payload)
        if stats is not None:
            for srow in stats:
                frames_golden["media_id"].append(i)
                for name, val in zip(frame_cols[1:], srow):
                    frames_golden[name].append(val)
    frame = {"media_id": media_ids, "payload": payloads}
    schema = pa.schema([("media_id", pa.int64()), ("payload", pa.binary())])
    golden_schema = pa.schema(
        [("media_id", pa.int64())]
        + [
            (name, pa.string() if ddl_type == "string" else pa.int64())
            for name, ddl_type in meta_fields
        ]
    )
    frames_schema = pa.schema([(c, pa.int64()) for c in frame_cols])
    return (
        pa.table(frame, schema=schema),
        pa.table(golden, schema=golden_schema),
        pa.table(frames_golden, schema=frames_schema),
    )


def write_tier(tier: str, out_root: str = DATA_ROOT) -> str:
    cfg = TIERS[tier]
    out_dir = os.path.join(out_root, f"pages_{tier}")
    os.makedirs(out_dir, exist_ok=True)
    pages = generate_pages(cfg["docs"], cfg["skew_every"], cfg["skew_pages"])
    table = pa.table(pages, schema=_PAGES_SCHEMA)
    shards = cfg.get("shards", 1)
    if shards == 1:
        pq.write_table(table, os.path.join(out_dir, "pages.parquet"), row_group_size=512)
    else:
        shard_dir = os.path.join(out_dir, "pages.parquet")
        os.makedirs(shard_dir, exist_ok=True)
        n = table.num_rows
        step = (n + shards - 1) // shards
        for s in range(shards):
            chunk = table.slice(s * step, step)
            if chunk.num_rows:
                pq.write_table(
                    chunk,
                    os.path.join(shard_dir, f"part-{s:05d}.parquet"),
                    row_group_size=512,
                )
    if cfg["expected"]:
        docs, per_page = compute_expected(pages)
        pq.write_table(pa.table(docs), os.path.join(out_dir, "expected_docs.parquet"))
        pq.write_table(pa.table(per_page), os.path.join(out_dir, "expected_pages.parquet"))
        pq.write_table(
            compute_expected_images(pages), os.path.join(out_dir, "expected_images.parquet")
        )
        pq.write_table(
            compute_expected_renders(pages), os.path.join(out_dir, "expected_renders.parquet")
        )
        pq.write_table(
            compute_expected_resizes(pages), os.path.join(out_dir, "expected_resizes.parquet")
        )
        pq.write_table(
            compute_expected_messages(pages), os.path.join(out_dir, "expected_messages.parquet")
        )
        pq.write_table(
            compute_expected_features(pages), os.path.join(out_dir, "expected_features.parquet")
        )
    # media.parquet exists on EVERY tier (queries()['media_meta'] must
    # run at the bench tiers too — round-3 review); the golden only
    # where expected tables live
    media_tbl, media_golden, frames_golden = generate_media(max(60, cfg["docs"] // 10))
    pq.write_table(media_tbl, os.path.join(out_dir, "media.parquet"))
    if cfg["expected"]:
        pq.write_table(media_golden, os.path.join(out_dir, "expected_media.parquet"))
        pq.write_table(frames_golden, os.path.join(out_dir, "expected_frames.parquet"))
    pq.write_table(pa.table(prompt_cases()), os.path.join(out_dir, "prompt_cases.parquet"))
    pq.write_table(pa.table(markdown_cases()), os.path.join(out_dir, "markdown_cases.parquet"))
    pq.write_table(pa.table(base64_cases()), os.path.join(out_dir, "base64_cases.parquet"))
    with open(os.path.join(out_dir, "corpus.version"), "w") as fh:
        fh.write(str(CORPUS_VERSION))
    return out_dir


def tier_dir_for_sf(sf_dir: str, out_root: str = DATA_ROOT) -> str:
    """Map a driver sf dir (/root/testdata/sf0.01) to our fixture dir,
    generating it on first use."""
    tier = os.path.basename(os.path.normpath(sf_dir))
    if tier not in TIERS:
        tier = "sf0.01"
    out_dir = os.path.join(out_root, f"pages_{tier}")
    version_path = os.path.join(out_dir, "corpus.version")
    stale = True
    if os.path.exists(os.path.join(out_dir, "pages.parquet")) and os.path.exists(version_path):
        with open(version_path) as fh:
            stale = fh.read().strip() != str(CORPUS_VERSION)
    if stale:
        write_tier(tier, out_root)
    return out_dir


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--tier", choices=sorted(TIERS), action="append")
    parser.add_argument("--out", default=DATA_ROOT)
    args = parser.parse_args()
    for tier in args.tier or sorted(TIERS):
        path = write_tier(tier, args.out)
        print(f"wrote {tier} -> {path}")


if __name__ == "__main__":
    main()
