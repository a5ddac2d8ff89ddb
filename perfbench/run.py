"""Repository benchmark: one command, seeded inputs, checked outputs.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_cc --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for the metric map):

* ``extract_cc``   -- ``extract_documents`` over a Common-Crawl-like pages
  table into a parquet sink; output byte-identical per url to the oracle.
* ``corpus_dedup`` -- five dedup / similarity / text-stats queries over
  ``documents`` and ``embeddings``; each result equals its DuckDB twin.

Each run makes its inputs from ``--seed`` (cached per seed under
``.bench_build/perfbench``), then starts a fresh session process on
``local[k]``, k = min(4, cpus), that sets up from scratch and times passes
for ``--seconds``. With ``--trace 1`` the run pairs an untraced session, which
also times the layer prefixes (and, on ``extract_cc``, one
``ResumableExtractJob`` crash-and-resume pass), with a session that writes a
Spark event log; the last stdout line then carries the per-layer metrics
instead of the end-to-end ones.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from inputs import CORPUS_QUERIES, LAYER_ONLY

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = min(4, os.cpu_count() or 1)
SESSION_TIMEOUT_S = 150
INPUTS_TIMEOUT_S = 120
MB = 1e6
# the layer prefixes must account for the timed passes' wall_s within 1 ± this
PREFIX_COVER_TOL = 0.3

WORKLOADS = {
    "extract_cc": {"kind": "extract", "docs": 2500, "files": 16,
                   "skew_every": 2500, "skew_pages": 400, "buckets": 4},
    "corpus_dedup": {"kind": "corpus", "docs": 1000, "vecs": 1000},
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------------------
# child processes: every process a run starts ends before the run does
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent exits first (a session's JVM and Python workers,
    the input generator's multiprocessing resource tracker) is re-parented
    here instead of to init, so ``reap`` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        fail(f"prctl(PR_SET_CHILD_SUBREAPER): errno {ctypes.get_errno()}")


def _children() -> list:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(name))
    return kids


def reap(grace: float = 30.0) -> None:
    """Wait until this process has no child left, adopted orphans
    included; SIGKILL every child that outlives ``grace`` seconds."""
    deadline = time.time() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child at all
            return
        if time.time() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def make_inputs(wl: dict, seed: int) -> dict:
    """Inputs for ``seed``, made (or found in the cache) by ``inputs.py``
    in a child process, so its worker pool has ended before Spark starts."""
    if wl["kind"] == "corpus":
        family, shape = "corpus", {"n_docs": wl["docs"], "n_vecs": wl["vecs"]}
    else:
        family, shape = "pages", {"n_docs": wl["docs"], "n_files": wl["files"],
                                  "skew_every": wl["skew_every"],
                                  "skew_pages": wl["skew_pages"]}
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), family, str(seed),
         json.dumps(shape)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=INPUTS_TIMEOUT_S,
    )
    reap()
    if proc.returncode != 0:
        fail(f"input generation exited with code {proc.returncode}")
    path = proc.stdout.strip().splitlines()[-1]
    if family == "corpus":
        return {"documents": os.path.join(path, "documents.parquet"),
                "embeddings": os.path.join(path, "embeddings.parquet"),
                "expected": os.path.join(path, "expected.json")}
    return {"pages": os.path.join(path, "pages"),
            "expected": os.path.join(path, "expected.parquet")}


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------

def run_session(spec: dict, index: int) -> dict:
    work = spec["work"]
    spec = dict(spec, result=os.path.join(work, f"session-{index}.json"))
    spec_path = os.path.join(work, f"session-{index}.spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               SPARK_GRAFT_CPUS=str(CPUS), SPARK_DRIVER_MEMORY="2g",
               # no JVM (launcher or driver) writes /tmp/hsperfdata_<user>
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    spawned = time.time()
    # its own process group, so a timed-out session goes down with its JVM
    # and Python workers
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "session.py"), spec_path],
        cwd=ROOT, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=SESSION_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"session {index} timed out")
    finally:
        reap()
    result = {}
    if os.path.exists(spec["result"]):
        with open(spec["result"]) as fh:
            result = json.load(fh)
    if proc.returncode != 0 or "ready" not in result:
        sys.stderr.write(err[-4000:])
        fail(f"session {index} exited with code {proc.returncode}")
    for tb in result["errors"]:
        sys.stderr.write(tb)
    result["setup_s"] = result["ready"] - spawned
    walls = " ".join(f"{p['wall_s']:.2f}" for p in result["passes"])
    print(f"session {index}: setup {result['setup_s']:.2f}s "
          f"(build_session {result['build_s']:.2f}s), passes [{walls}]s",
          file=sys.stderr)
    for label, p in (("warm-up", result["warmup"]), ("last", result["passes"][-1])):
        for name, q in (p.get("queries") or {}).items():
            print(f"  {label} {name}: build {q['build_s']:.2f}s ({q['build_jobs']} jobs), "
                  f"action {q['action_s']:.2f}s, {q['rows']} rows", file=sys.stderr)
    return result


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def check_extract(expected_path: str, out_dirs) -> tuple:
    """Per pass, every expected url must appear exactly once with
    byte-identical extracted_text, page_count and success; an output
    url the oracle does not know is a failure too."""
    import pyarrow.parquet as pq

    cols = ["url", "extracted_text", "page_count", "success"]
    exp = pq.read_table(expected_path, columns=cols).to_pydict()
    want = {u: (t, int(p), bool(s)) for u, t, p, s in zip(*(exp[c] for c in cols))}
    attempted = failed = 0
    for out in out_dirs:
        attempted += len(want)
        if out is None:
            failed += len(want)
            continue
        got = pq.read_table(out, columns=cols).to_pydict()
        seen: dict = {}
        for u, t, p, s in zip(*(got[c] for c in cols)):
            seen.setdefault(u, []).append((t, int(p), bool(s)))
        for u, row in want.items():
            rows = seen.get(u, [])
            if len(rows) != 1 or rows[0] != row:
                failed += 1
        failed += sum(1 for u in seen if u not in want)
    return attempted, failed


def committed_dirs(out_root: str) -> list:
    manifests = os.path.join(out_root, "_manifest")
    return [os.path.join(out_root, "bucket=" + name[len("bucket-"):-len(".json")])
            for name in sorted(os.listdir(manifests)) if name.endswith(".json")]


def _bucket_union(out_root: str) -> str:
    """Hard-link the committed bucket files into one directory so the
    union reads as one table (what ResumableExtractJob.read_output sees)."""
    union = out_root + "-committed"
    os.makedirs(union, exist_ok=True)
    for d in committed_dirs(out_root):
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                os.link(os.path.join(d, name),
                        os.path.join(union, f"{os.path.basename(d)}-{name}"))
    return union


def check(wl: dict, paths: dict, sessions: list) -> tuple:
    passes = [(s, p) for s in sessions for p in [s["warmup"]] + s["passes"]]
    if wl["kind"] == "corpus":
        with open(paths["expected"]) as fh:
            expected = json.load(fh)
        attempted = failed = 0
        for s in sessions:
            tags = ["warm"] + [str(i) for i in range(len(s["passes"]))]
            runs = [(tag, q) for tag in tags for q in CORPUS_QUERIES if q not in LAYER_ONLY]
            if "layers" in s:
                runs += [("layers", q) for q in LAYER_ONLY]
            for tag, query in runs:
                attempted += 1
                got = s.get("digests", {}).get(f"{tag}|{query}")
                failed += got != expected[query]["digest"]
        return attempted, failed
    outs = [None if p.get("failed") else p["out"] for _, p in passes]
    layered = [s for s in sessions if "runner" in s.get("layers", {})]
    outs += [_bucket_union(s["layers"]["runner"]["out"]) for s in layered]
    attempted, failed = check_extract(paths["expected"], outs)
    for s in layered:
        attempted += 2
        failed += layer_failures(s)
    return attempted, failed


def prefix_cover(session: dict) -> float:
    wall = _median([p["wall_s"] for p in _ok_passes(session)])
    return session["layers"]["full"] / wall if wall else 0.0


def layer_failures(session: dict) -> int:
    """Two checks of a traced extraction run: the rerun after the crash
    reprocesses no committed bucket, and the full prefix pass accounts for
    the timed passes' ``wall_s`` within ``PREFIX_COVER_TOL``."""
    redo = session["layers"]["runner"]["redo"] != 0
    cover = abs(prefix_cover(session) - 1.0) > PREFIX_COVER_TOL
    return int(redo) + int(cover)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _ok_passes(session: dict) -> list:
    return [p for p in session["passes"] if not p.get("failed")]


def end_to_end(wl: dict, session: dict) -> dict:
    ok = _ok_passes(session)
    wall = _median([p["wall_s"] for p in ok])
    return {
        "setup_s": (session["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (wl["docs"] / wall if wall else 0.0, "docs/s"),
        "peak_rss_mb": (_median([p["peak_rss_bytes"] for p in ok]) / MB, "MB"),
    }


def oracle_layers(wl: dict, paths: dict) -> dict:
    """Single-process time of the oracle functions on this run's docs:
    the compute floor of the parse UDF."""
    import pyarrow.parquet as pq

    from typhoon_ocr_spark.oracle.docpipe import extract_document, sniff_kind
    from typhoon_ocr_spark.oracle.htmlstrip import strip_html_boilerplate
    from typhoon_ocr_spark.oracle.linearize import linearize_page, truncation_rng
    from typhoon_ocr_spark.oracle.pdfmini import parse_pdf

    docs = pq.read_table(paths["pages"], columns=["url", "html"]).to_pydict()
    pairs = list(zip(docs["url"], docs["html"]))
    t0 = time.perf_counter()
    for url, payload in pairs:
        extract_document(url, payload)
    extract_s = time.perf_counter() - t0

    pdf_s = lin_s = html_s = 0.0
    for url, payload in pairs:
        kind = sniff_kind(payload)
        if kind == "html":
            t0 = time.perf_counter()
            strip_html_boilerplate(payload)
            html_s += time.perf_counter() - t0
        elif kind == "pdf":
            t0 = time.perf_counter()
            try:
                reports = parse_pdf(payload)
            except Exception:
                reports = []
            t1 = time.perf_counter()
            for idx, report in enumerate(reports, start=1):
                linearize_page(report, rng=truncation_rng(url, idx))
            pdf_s += t1 - t0
            lin_s += time.perf_counter() - t1
    return {"oracle.extract_s": extract_s, "oracle.pdf_parse_s": pdf_s,
            "oracle.linearize_s": lin_s, "oracle.htmlstrip_s": html_s}


def shape_counts(paths: dict) -> dict:
    import pyarrow.parquet as pq

    from typhoon_ocr_spark.plans.session import PipelineConfig

    exp = pq.read_table(paths["expected"]).to_pydict()
    threshold = PipelineConfig().spread_page_threshold
    return {
        "extract.page_rows": sum(exp["page_count"]),
        "extract.ir_page_rows": sum(
            n for k, n, ok in zip(exp["kind"], exp["page_count"], exp["success"])
            if k == "pdf" and ok and n > threshold),
        "extract.error_docs": sum(1 for ok in exp["success"] if not ok),
    }


PER_LAYER_UNITS = {
    "session.build_s": "s",
    "sources.scan_s": "s",
    "oracle.extract_s": "s",
    "oracle.pdf_parse_s": "s",
    "oracle.linearize_s": "s",
    "oracle.htmlstrip_s": "s",
    "extract.classify_s": "s",
    "extract.pages_s": "s",
    "extract.docs_s": "s",
    "extract.write_s": "s",
    "extract.prefix_cover": "ratio",
    "extract.compute_share": "ratio",
    "extract.page_rows": "count",
    "extract.ir_page_rows": "count",
    "extract.error_docs": "count",
    "runner.stage_s": "s",
    "runner.bucket_s": "s",
    "runner.resume_s": "s",
    "runner.redo_buckets": "count",
    "dedup.minhash_pairs_s": "s",
    "dedup.minhash_pairs_rows": "count",
    "dedup.simhash_near_dups_s": "s",
    "dedup.simhash_near_dups_rows": "count",
    "similarity.cosine_topk_s": "s",
    "similarity.cosine_topk_rows": "count",
    "similarity.emb_near_dups_s": "s",
    "similarity.emb_near_dups_rows": "count",
    "textstats.quality_lang_s": "s",
    "textstats.quality_lang_rows": "count",
    "corpus.build_s": "s",
    "corpus.build_jobs": "count",
    "trace.shuffle_write_mb": "MB",
    "trace.spill_mb": "MB",
    "trace.tasks": "count",
    "trace.task_skew": "ratio",
    "trace.python_data_sent_mb": "MB",
    "trace.python_run_s": "s",
    "trace.executor_run_s": "s",
    "trace.overhead_s": "s",
}

QUERY_LAYERS = {
    "minhash_pairs": "dedup.minhash_pairs",
    "simhash_near_dups": "dedup.simhash_near_dups",
    "ann_topk": "similarity.cosine_topk",
    "embedding_near_dups": "similarity.emb_near_dups",
    "quality_lang": "textstats.quality_lang",
}


def per_layer(wl: dict, paths: dict, untraced: dict, traced: dict,
              event_log: str, oracle: dict) -> dict:
    """Every per-layer metric; a layer this workload does not run reads 0."""
    import eventlog

    m = {name: 0.0 for name in PER_LAYER_UNITS}
    m["session.build_s"] = _median([untraced["build_s"], traced["build_s"]])
    wall = _median([p["wall_s"] for p in _ok_passes(untraced)])
    if wl["kind"] == "extract":
        m.update(oracle)
        m.update(shape_counts(paths))
        lay = untraced["layers"]
        m["sources.scan_s"] = lay["scan"]
        m["extract.classify_s"] = lay["classify"]
        m["extract.pages_s"] = lay["pages"]
        m["extract.docs_s"] = lay["docs"]
        m["extract.write_s"] = lay["full"] - lay["docs"]
        m["extract.prefix_cover"] = prefix_cover(untraced)
        m["extract.compute_share"] = m["oracle.extract_s"] / (lay["docs"] * CPUS)
        run = lay["runner"]
        m["runner.stage_s"] = run["first_s"] - sum(run["first_bucket_s"])
        m["runner.bucket_s"] = _median(run["bucket_s"])
        m["runner.resume_s"] = run["resume_s"]
        m["runner.redo_buckets"] = run["redo"]
    if wl["kind"] == "corpus":
        ok = _ok_passes(untraced)
        for query, layer in QUERY_LAYERS.items():
            if query in LAYER_ONLY:
                runs = [untraced["layers"]["queries"][query]]
            else:
                runs = [p["queries"][query] for p in ok]
            m[f"{layer}_s"] = _median([q["build_s"] + q["action_s"] for q in runs])
            m[f"{layer}_rows"] = _median([q["rows"] for q in runs])
            m["corpus.build_s"] += _median([q["build_s"] for q in runs])
            m["corpus.build_jobs"] += _median([q["build_jobs"] for q in runs])
    m.update(eventlog.trace_metrics(event_log, len(traced["passes"])))
    m["trace.overhead_s"] = _median([p["wall_s"] for p in _ok_passes(traced)]) - wall
    return {name: (value, PER_LAYER_UNITS[name]) for name, value in m.items()}


# ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "typhoon_ocr_spark")):
        fail(f"engine package typhoon_ocr_spark not found under {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    adopt_orphans()
    wl = WORKLOADS[args.workload]
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    try:
        paths = make_inputs(wl, args.seed)
        oracle = oracle_layers(wl, paths) if args.trace and wl["kind"] == "extract" else {}
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        # an untraced run is one session; a traced run pairs an untraced
        # session (layer prefixes) with a traced one
        n = 2 if args.trace else 1
        spec = dict(paths, kind=wl["kind"], work=work, cpus=CPUS,
                    seconds=args.seconds / n, buckets=wl.get("buckets", 0))
        sessions = []
        event_log = os.path.join(work, "eventlog")
        for i in range(n):
            traced = bool(args.trace) and i == n - 1
            if traced:
                os.makedirs(event_log)
            sessions.append(run_session(
                dict(spec, layers=bool(args.trace) and i == 0,
                     event_log=event_log if traced else None), i))
        attempted, failed = check(wl, paths, sessions)
        if args.trace:
            metrics = per_layer(wl, paths, sessions[0], sessions[-1], event_log, oracle)
        else:
            metrics = end_to_end(wl, sessions[0])
    finally:
        reap()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
