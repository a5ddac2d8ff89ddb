"""Compare the extraction kernels of a git revision with the working tree,
payload by payload.

Usage: python tools/kernel_diff.py <git-rev> [pages_dir ...]

Every payload in the ``html`` column of ``data/pages_*/pages.parquet`` and
of every parquet file under each ``pages_dir`` (a perfbench input cache,
say) is run through the kernels its kind reaches
(``oracle.docpipe.sniff_kind``), twice, each time in a fresh interpreter:
once by the revision, exported with ``git archive`` into a temporary
directory, and once by the working tree.

- ``parse_pdf``: ``repr`` of the page reports of a PDF, or of the
  exception raised, so a changed exception type or message is a mismatch
  too;
- ``cleanup_element_text``: the cleaned text of every text element of
  those reports;
- ``strip_html_boilerplate``: the stripped text of an HTML page.

Each mismatch is printed with the first differing position of the two
outcomes; the exit status is 1 if there is any. The summed time of each
kernel on each side is printed for reference (one process per side, same
inputs).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
USAGE = "usage: python tools/kernel_diff.py <git-rev> [pages_dir ...]"
KERNELS = ("parse_pdf", "cleanup_element_text", "strip_html_boilerplate")

_RUN = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
import pyarrow.parquet as pq
from typhoon_ocr_spark.oracle.docpipe import sniff_kind
from typhoon_ocr_spark.oracle.htmlstrip import strip_html_boilerplate
from typhoon_ocr_spark.oracle.pdfmini import parse_pdf
from typhoon_ocr_spark.oracle.textops import cleanup_element_text

out = {"parse_pdf": [], "cleanup_element_text": [], "strip_html_boilerplate": []}
spent = dict.fromkeys(out, 0.0)
clock = time.perf_counter
for path in json.loads(sys.argv[2]):
    payloads = pq.read_table(path, columns=["html"]).column("html").to_pylist()
    for row, payload in enumerate(payloads):
        key, kind = f"{path}#{row}", sniff_kind(payload)
        if kind == "html":
            t0 = clock()
            text = strip_html_boilerplate(payload)
            spent["strip_html_boilerplate"] += clock() - t0
            out["strip_html_boilerplate"].append([key, text])
        if kind != "pdf":
            continue
        t0 = clock()
        try:
            reports = parse_pdf(payload)
            outcome = repr(reports)
        except Exception as exc:
            reports, outcome = [], "raise " + repr(exc)
        spent["parse_pdf"] += clock() - t0
        out["parse_pdf"].append([key, outcome])
        texts = [el.text for report in reports for el in report.text_elements]
        t0 = clock()
        cleaned = [cleanup_element_text(t) for t in texts]
        spent["cleanup_element_text"] += clock() - t0
        out["cleanup_element_text"].extend(
            [f"{key}/{i}", [t, c]] for i, (t, c) in enumerate(zip(texts, cleaned))
        )
json.dump({"seconds": spent, "outcomes": out}, sys.stdout)
"""


def parquet_files(dirs) -> list:
    files = []
    for path in sorted(glob.glob(os.path.join(ROOT, "data", "pages_*", "pages.parquet"))):
        # a tier written by Spark holds its table as a directory of parts
        files += sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    for d in dirs:
        files += sorted(glob.glob(os.path.join(os.path.abspath(d), "**", "*.parquet"),
                                  recursive=True))
    import pyarrow.parquet as pq

    return [f for f in files if "html" in pq.read_schema(f).names]


def run_kernels(tree: str, files: list) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _RUN, tree, json.dumps(files)],
        cwd=tempfile.gettempdir(), env={**os.environ, "PYTHONPATH": ""},
        capture_output=True, check=True,
    )
    return json.loads(out.stdout)


def export_rev(rev: str, dest: str) -> None:
    archive = os.path.join(dest, "rev.tar")
    with open(archive, "wb") as fh:
        subprocess.run(["git", "-C", ROOT, "archive", rev, "typhoon_ocr_spark"],
                       stdout=fh, check=True)
    with tarfile.open(archive) as tar:
        tar.extractall(os.path.join(dest, "tree"))


def first_difference(a: str, b: str) -> int:
    return next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))


def compare(kernel: str, rev: str, old: list, new: list) -> int:
    """Print each differing outcome of ``kernel``; the mismatch count."""
    old_out, new_out = dict(old), dict(new)
    mismatches = 0
    for key in sorted(old_out.keys() | new_out.keys()):
        a = json.dumps(old_out.get(key, "<absent>"), ensure_ascii=False)
        b = json.dumps(new_out.get(key, "<absent>"), ensure_ascii=False)
        if a == b:
            continue
        mismatches += 1
        at = first_difference(a, b)
        print(f"MISMATCH {kernel} {key} at char {at}\n"
              f"  {rev}: {a[max(0, at - 80):at + 160]!r}\n"
              f"  tree: {b[max(0, at - 80):at + 160]!r}")
    return mismatches


def main(argv) -> int:
    if not argv:
        print(USAGE, file=sys.stderr)
        return 2
    rev, dirs = argv[0], argv[1:]
    files = parquet_files(dirs)
    with tempfile.TemporaryDirectory(prefix="kernel-diff-") as tmp:
        export_rev(rev, tmp)
        old = run_kernels(os.path.join(tmp, "tree"), files)
    new = run_kernels(ROOT, files)
    total = 0
    print(f"{len(files)} parquet files")
    print(f"{'kernel':<24}{'inputs':>9}{'mismatches':>12}{rev[:12]:>14}{'tree':>10}")
    for kernel in KERNELS:
        mismatches = compare(kernel, rev, old["outcomes"][kernel], new["outcomes"][kernel])
        total += mismatches
        print(f"{kernel:<24}{len(new['outcomes'][kernel]):>9}{mismatches:>12}"
              f"{old['seconds'][kernel]:>13.3f}s{new['seconds'][kernel]:>9.3f}s")
    raised = sum(1 for _, v in new["outcomes"]["parse_pdf"] if v.startswith("raise "))
    print(f"{raised} pdfs raise; {total} mismatches")
    return 1 if total else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
