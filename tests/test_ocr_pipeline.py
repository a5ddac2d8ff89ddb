"""End-to-end ``ocr_document`` analog (round-4 task #4): extraction →
per-page prompt → external-call UDF against a REAL mock HTTP endpoint →
response parse → document assembly, under the resumable manifest
runner. Mirrors the reference composition at
/root/reference/packages/typhoon_ocr/typhoon_ocr/ocr_utils.py:660-716
(prepare → call → parse) and ocr_service.py:297-321 (fan-out + rollup).
"""

import hashlib
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from typhoon_ocr_spark.functions.udfs import make_external_call_udf
from typhoon_ocr_spark.operators.extract import (
    assemble_documents,
    extract_pages,
    ocr_pages,
)
from typhoon_ocr_spark.oracle.docpipe import extract_document
from typhoon_ocr_spark.oracle.pdfmini import MiniPdfWriter
from typhoon_ocr_spark.oracle.prompts import render_prompt
from typhoon_ocr_spark.streaming.runner import ResumableExtractJob

POISON = "poisonmark"
FLAKY = "flakymark"


def _resp_text(prompt: str) -> str:
    return "ocr:" + hashlib.md5(prompt.encode()).hexdigest()[:12]


class _OcrEndpoint:
    """POSTed prompt → JSON model response; per-prompt attempt counts;
    prompts naming the poison page 503 forever, the flaky page 429
    twice."""

    def __init__(self):
        state = self
        state.attempts = {}
        state._lock = threading.Lock()

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                n_bytes = int(self.headers["Content-Length"])
                prompt = self.rfile.read(n_bytes).decode()
                key = hashlib.md5(prompt.encode()).hexdigest()
                with state._lock:
                    state.attempts[key] = state.attempts.get(key, 0) + 1
                    n = state.attempts[key]
                if POISON in prompt:
                    code, body = 503, b"overloaded"
                elif FLAKY in prompt and n <= 2:
                    code, body = 429, b"slow down"
                else:
                    code = 200
                    body = json.dumps({"natural_text": _resp_text(prompt)}).encode()
                self.send_response(code)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()


def _corpus():
    """(url, payload) rows: two clean pdfs, one with a poison page and
    a flaky page, one html, one junk."""
    rows = []

    def pdf(url, page_texts):
        w = MiniPdfWriter()
        for t in page_texts:
            w.add_page().text(72, 700, t)
        rows.append((url, w.build(compress=True)))

    pdf("https://t/ok1", ["first page alpha", "second page beta"])
    pdf("https://t/ok2", ["solo gamma page"])
    pdf("https://t/mixed", [f"has {POISON} here", f"retry {FLAKY} page", "clean tail"])
    rows.append((
        "https://t/html",
        b"<html><body><article>"
        b"<p>plain html doc with a paragraph long enough that the "
        b"boilerplate text-density scorer keeps it as main content.</p>"
        b"<p>and a second paragraph carrying further real sentences to "
        b"hold the density up across the whole article body.</p>"
        b"</article></body></html>",
    ))
    rows.append(("https://t/junk", b"\x00\xffnot anything"))
    return rows


def _expected_page_prompts(rows):
    """url -> [(page, prompt, has_poison)] via the shared oracle."""
    out = {}
    for url, payload in rows:
        doc = extract_document(url, payload)
        if doc.kind != "pdf":
            continue
        out[url] = [
            (p.page, render_prompt("default", p.anchor_text), POISON in p.text)
            for p in doc.pages
            if p.success
        ]
    return out


@pytest.fixture(scope="module")
def endpoint():
    ep = _OcrEndpoint()
    yield ep
    ep.close()


def _call_udf(port):
    def endpoint_fn(prompt):
        from urllib.request import Request, urlopen

        req = Request(
            f"http://127.0.0.1:{port}/ocr", data=prompt.encode(), method="POST"
        )
        with urlopen(req, timeout=10) as r:
            return r.read().decode()

    return make_external_call_udf(
        endpoint_fn, attempts=3, error_value="<failed>",
        sleep=lambda s: None, max_in_flight=4,
    )


def test_ocr_document_end_to_end_under_runner(spark, endpoint, tmp_path):
    rows = _corpus()
    pages_path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(rows, "url string, html binary").write.parquet(pages_path)

    call = _call_udf(endpoint.port)
    job = ResumableExtractJob(
        spark,
        pages_path,
        str(tmp_path / "out"),
        n_buckets=2,
        page_transform=lambda pf: ocr_pages(pf, call, error_value="<failed>"),
    )
    job.run()
    docs = {
        r["url"]: r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    prompts = _expected_page_prompts(rows)

    # 1. per-page requests hit the server: one per clean pdf page, the
    # bounded 3 for poison (503 every time) and flaky (429,429,ok)
    for url, plist in prompts.items():
        for page, prompt, has_poison in plist:
            key = hashlib.md5(prompt.encode()).hexdigest()
            expected_attempts = 3 if (has_poison or FLAKY in prompt) else 1
            assert endpoint.attempts.get(key) == expected_attempts, (url, page)
    # html/junk never reach the endpoint: total request keys == pdf pages
    assert len(endpoint.attempts) == sum(len(v) for v in prompts.values())

    # 2. the poisoned document fails; clean documents succeed
    assert not docs["https://t/mixed"]["success"]
    assert docs["https://t/ok1"]["success"] and docs["https://t/ok2"]["success"]

    # 3. assembled text: parsed model responses joined in page order,
    # poison page dropped from the join (error-as-row, not a crash)
    for url in ("https://t/ok1", "https://t/ok2", "https://t/mixed"):
        expected = "\n\n".join(
            _resp_text(prompt)
            for _, prompt, has_poison in prompts[url]
            if not has_poison
        )
        assert docs[url]["extracted_text"] == expected, url

    # non-pdf rows pass through the transform untouched
    assert "plain html doc" in docs["https://t/html"]["extracted_text"]
    assert not docs["https://t/junk"]["success"]

    # 4. the bucket counters are taken after the transform: the failed
    # model calls of the poison pages count as errors, with the junk row
    n_poison = sum(p for plist in prompts.values() for _, _, p in plist)
    assert n_poison == 1
    assert sum(m["n_error"] for m in job.metrics()) == n_poison + 1


def test_ocr_document_resume_no_duplicate_calls(spark, tmp_path):
    """Crash after the first bucket commit, rerun: committed pages'
    model calls are NOT re-issued (manifest exactly-once), uncommitted
    pages complete."""
    ep = _OcrEndpoint()
    try:
        rows = [r for r in _corpus() if r[0] != "https://t/mixed"]
        pages_path = str(tmp_path / "pages.parquet")
        spark.createDataFrame(rows, "url string, html binary").write.parquet(pages_path)

        call = _call_udf(ep.port)

        def build(run_id=None):
            return ResumableExtractJob(
                spark, pages_path, str(tmp_path / "out"), n_buckets=2,
                run_id=run_id,
                page_transform=lambda pf: ocr_pages(pf, call, error_value="<failed>"),
            )

        job = build("run-a")
        with pytest.raises(RuntimeError, match="injected failure"):
            job.run(fail_after=1)
        calls_after_crash = dict(ep.attempts)
        assert calls_after_crash  # first bucket really called out

        build("run-b").run()
        n_pdf_pages = sum(
            len(v) for v in _expected_page_prompts(rows).values()
        )
        assert len(ep.attempts) == n_pdf_pages
        # every key called in bucket 0 kept its original count
        for key, n in calls_after_crash.items():
            assert ep.attempts[key] == n
        docs = spark.read.parquet(str(tmp_path / "out")).collect()
        assert sum(1 for d in docs if d["kind"] == "pdf") == 2
    finally:
        ep.close()


class _ChatEndpoint:
    """OpenAI-compatible /v1/chat/completions mock (the wire shape the
    reference's OpenAI client emits, ocr_utils.py:700-709): JSON body
    in, choices[0].message.content out. Records auth headers, model
    names and request bodies for the contract asserts."""

    def __init__(self):
        state = self
        state.requests = []
        state._lock = threading.Lock()

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                body = json.loads(
                    self.rfile.read(int(self.headers["Content-Length"])).decode()
                )
                with state._lock:
                    state.requests.append(
                        {
                            "path": self.path,
                            "auth": self.headers.get("Authorization"),
                            "body": body,
                        }
                    )
                prompt = body["messages"][0]["content"][0]["text"]
                content = json.dumps({"natural_text": _resp_text(prompt)})
                out = json.dumps(
                    {"choices": [{"message": {"content": content}}]}
                ).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self):
        self.server.shutdown()
        self.server.server_close()


def test_job_cli_live_endpoint_via_spark_submit(spark, tmp_path):
    """Round-5 verdict #4: the full job CLI — spark-submit --py-files,
    --endpoint-url against an OpenAI-compatible server — runs the
    complete composition and the assembled documents byte-match the
    oracle expectation."""
    import subprocess
    import zipfile

    rows = [r for r in _corpus() if r[0] != "https://t/mixed"]
    pages_path = str(tmp_path / "pages.parquet")
    spark.createDataFrame(rows, "url string, html binary").write.parquet(pages_path)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "engine.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(repo, "typhoon_ocr_spark")
        for root, _dirs, files in os.walk(pkg):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, repo))

    ep = _ChatEndpoint()
    try:
        env = dict(os.environ)
        env["PYTHONPATH"] = repo
        env["TYPHOON_OCR_API_KEY"] = "test-key-123"
        out_dir = str(tmp_path / "out")
        proc = subprocess.run(
            [
                "spark-submit",
                "--master", "local[4]",
                "--py-files", zip_path,
                os.path.join(repo, "tools", "submit_job.py"),
                "--input", pages_path,
                "--output", out_dir,
                "--mode", "resumable",
                "--buckets", "2",
                "--endpoint-url", f"http://127.0.0.1:{ep.port}/v1",
                "--model", "test-model",
                "--attempts", "2",
            ],
            env=env,
            cwd=repo,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]

        # wire contract: every request hit /v1/chat/completions with the
        # bearer key from env and the CLI model name, reference sampling
        # params included
        assert ep.requests
        for r in ep.requests:
            assert r["path"] == "/v1/chat/completions"
            assert r["auth"] == "Bearer test-key-123"
            assert r["body"]["model"] == "test-model"
            assert r["body"]["max_tokens"] == 16384
            assert r["body"]["repetition_penalty"] == 1.2
        prompts = _expected_page_prompts(rows)
        assert len(ep.requests) == sum(len(v) for v in prompts.values())

        docs = {
            r["url"]: r for r in spark.read.parquet(out_dir).collect()
        }
        for url in ("https://t/ok1", "https://t/ok2"):
            expected = "\n\n".join(
                _resp_text(prompt) for _, prompt, _p in prompts[url]
            )
            assert docs[url]["extracted_text"] == expected, url
            assert docs[url]["success"]
        assert "plain html doc" in docs["https://t/html"]["extracted_text"]
        assert not docs["https://t/junk"]["success"]
    finally:
        ep.close()
