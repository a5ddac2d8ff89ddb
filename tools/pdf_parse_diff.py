"""Compare ``oracle.pdfmini.parse_pdf`` of a git revision with the working
tree, PDF by PDF.

Usage: python tools/pdf_parse_diff.py <git-rev> [pages_dir ...]

Every PDF payload (``%PDF-`` prefix) in the ``html`` column of
``data/pages_*/pages.parquet`` and of every parquet file under each
``pages_dir`` (a perfbench input cache, say) is parsed twice, each time
in a fresh interpreter: once by the revision, exported with
``git archive`` into a temporary directory, and once by the working
tree. The outcome compared is ``repr`` of the page reports, or of the
exception raised, so a changed exception type or message is a mismatch
too. Each mismatch is printed with the first differing position of the
two reprs; the exit status is 1 if there is any. The summed parse time
of each side is printed for reference (one process, same inputs).
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
USAGE = "usage: python tools/pdf_parse_diff.py <git-rev> [pages_dir ...]"

_PARSE = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
import pyarrow.parquet as pq
from typhoon_ocr_spark.oracle.pdfmini import parse_pdf

out, spent = [], 0.0
for path in json.loads(sys.argv[2]):
    for row, payload in enumerate(pq.read_table(path, columns=["html"]).column("html").to_pylist()):
        if not payload or not payload.startswith(b"%PDF-"):
            continue
        t0 = time.perf_counter()
        try:
            outcome = repr(parse_pdf(payload))
        except Exception as exc:
            outcome = "raise " + repr(exc)
        spent += time.perf_counter() - t0
        out.append([f"{path}#{row}", outcome])
json.dump({"seconds": spent, "outcomes": out}, sys.stdout)
"""


def parquet_files(dirs) -> list:
    files = sorted(glob.glob(os.path.join(ROOT, "data", "pages_*", "pages.parquet")))
    for d in dirs:
        files += sorted(glob.glob(os.path.join(os.path.abspath(d), "**", "*.parquet"),
                                  recursive=True))
    import pyarrow.parquet as pq

    return [f for f in files if "html" in pq.read_schema(f).names]


def run_parse(tree: str, files: list) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _PARSE, tree, json.dumps(files)],
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


def main(argv) -> int:
    if not argv:
        print(USAGE, file=sys.stderr)
        return 2
    rev, dirs = argv[0], argv[1:]
    files = parquet_files(dirs)
    with tempfile.TemporaryDirectory(prefix="pdf-parse-diff-") as tmp:
        export_rev(rev, tmp)
        old = run_parse(os.path.join(tmp, "tree"), files)
    new = run_parse(ROOT, files)
    old_out, new_out = dict(old["outcomes"]), dict(new["outcomes"])
    mismatches = 0
    for key in sorted(old_out.keys() | new_out.keys()):
        a, b = old_out.get(key, "<absent>"), new_out.get(key, "<absent>")
        if a == b:
            continue
        mismatches += 1
        at = first_difference(a, b)
        print(f"MISMATCH {key} at char {at}\n  {rev}: {a[max(0, at - 80):at + 160]!r}\n"
              f"  tree: {b[max(0, at - 80):at + 160]!r}")
    raised = sum(1 for v in new_out.values() if v.startswith("raise "))
    print(f"{len(new_out)} pdfs in {len(files)} parquet files ({raised} raise), "
          f"{mismatches} mismatches; parse_pdf {old['seconds']:.3f} s at {rev}, "
          f"{new['seconds']:.3f} s in the working tree")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
