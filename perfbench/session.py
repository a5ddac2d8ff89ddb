"""One benchmark session: a fresh process that sets up Spark exactly as
a user would and times workload passes.

Run by ``run.py`` as ``python3 perfbench/session.py <spec.json>``. The
spec names the workload, its inputs, the measuring budget, whether to
write a Spark event log and whether to time the layer prefixes. The
session writes its results to ``spec["result"]`` as JSON; the parent
checks outputs and turns the results into metrics.

Set-up is everything from process start to the first timed pass:
imports, ``build_session`` (including its warm-up), shipping the engine
to the Python workers, input registration and one untimed warm-up pass.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from typhoon_ocr_spark.operators import dedup, similarity, textstats  # noqa: E402
from typhoon_ocr_spark.operators.extract import (  # noqa: E402
    classify_pages,
    extract_documents,
    extract_pages,
)
from typhoon_ocr_spark.plans.session import (  # noqa: E402
    PipelineConfig,
    build_session,
    ship_engine,
)
from typhoon_ocr_spark.streaming.runner import ResumableExtractJob  # noqa: E402

from inputs import LAYER_ONLY, result_digest  # noqa: E402

PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# memory: peak RSS of this process tree (driver, JVM, Python workers)
# ---------------------------------------------------------------------------

def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_SIZE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Samples the summed RSS of the process tree every ``interval`` s
    while ``measuring`` is set; ``take_peak`` returns the largest sum seen
    since the previous call."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.measuring = threading.Event()
        self.stopped = threading.Event()
        self.lock = threading.Lock()
        self.peak = 0

    def take_peak(self) -> int:
        with self.lock:
            peak, self.peak = self.peak, 0
        return peak

    def run(self) -> None:
        while not self.stopped.wait(self.interval):
            if self.measuring.is_set():
                total = sum(_rss_bytes(p) for p in process_tree(os.getpid()))
                with self.lock:
                    self.peak = max(self.peak, total)


# ---------------------------------------------------------------------------
# workloads: register inputs, run one pass, optional layer prefixes
# ---------------------------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def resume_pass(spark, pages: str, out: str, buckets: int, tag: str) -> dict:
    """``ResumableExtractJob`` from an empty ``out``: a crash is injected
    after half the buckets, then a rerun commits the rest."""
    t0 = time.perf_counter()
    first = ResumableExtractJob(spark, pages, out, n_buckets=buckets, run_id=f"{tag}a")
    try:
        first.run(fail_after=buckets // 2)
    except RuntimeError as exc:
        if "injected failure" not in str(exc):
            raise
    t1 = time.perf_counter()
    committed = len(first.committed_buckets())
    rerun = ResumableExtractJob(spark, pages, out, n_buckets=buckets, run_id=f"{tag}b")
    processed = rerun.run()["processed"]
    t2 = time.perf_counter()
    walls: dict = {}
    for m in rerun.metrics():
        walls.setdefault(m["run_id"], []).append(m["wall_ms"] / 1000.0)
    return {
        "out": out,
        "first_s": t1 - t0,
        "resume_s": t2 - t1,
        "first_bucket_s": walls.get(f"{tag}a", []),
        "bucket_s": [w for v in walls.values() for w in v],
        "redo": processed - (buckets - committed),
    }


class Extract:
    """``extract_documents`` over the pages table into a parquet sink;
    each pass writes its own directory for the parent to check."""

    def __init__(self, spark, spec) -> None:
        self.spark, self.spec = spark, spec
        self.pages = spark.read.parquet(spec["pages"])

    def run_pass(self, tag: str) -> dict:
        out = os.path.join(self.spec["work"], f"out-{tag}")
        extract_documents(self.pages, PipelineConfig()).write.mode("overwrite").parquet(out)
        return {"out": out}

    def layers(self) -> dict:
        """Cumulative noop-sink prefixes, each timed once in turn; ``full``
        is the complete pass into a parquet sink. Then one crash-and-resume
        pass of the resumable runner."""
        # ``full`` runs first, right after the timed passes it is compared
        # with: each pass runs warmer than the one before it
        prefixes = {
            "full": lambda: self.run_pass("prefix"),
            "scan": lambda: _noop(self.pages.select("url", "html")),
            "classify": lambda: _noop(classify_pages(self.pages)),
            "pages": lambda: _noop(extract_pages(self.pages, PipelineConfig())),
            "docs": lambda: _noop(extract_documents(self.pages, PipelineConfig())),
        }
        out = {}
        for name, fn in prefixes.items():
            t0 = time.perf_counter()
            fn()
            out[name] = time.perf_counter() - t0
        out["runner"] = resume_pass(
            self.spark, self.spec["pages"], os.path.join(self.spec["work"], "out-resume"),
            self.spec["buckets"], "resume")
        return out


class Corpus:
    """The corpus queries, each built (timed, with the Spark jobs that
    construction fires) and then fetched to the driver as Arrow (timed).
    A pass runs every query but those in ``LAYER_ONLY``."""

    def __init__(self, spark, spec) -> None:
        self.spark, self.spec = spark, spec
        self.docs = spark.read.parquet(spec["documents"])
        self.emb = spark.read.parquet(spec["embeddings"])
        dims = similarity.EMB_DIMS
        docs, emb = self.docs, self.emb
        self.queries = {
            "minhash_pairs": lambda: dedup.minhash_candidate_pairs(docs),
            "simhash_near_dups": lambda: dedup.simhash_near_dups(docs),
            "ann_topk": lambda: similarity.cosine_topk(emb),
            "embedding_near_dups": lambda: similarity.embedding_near_dups(emb, n_dims=dims),
            "quality_lang": lambda: textstats.quality_scores(docs).join(
                textstats.language_id(docs), "doc_id"
            ),
        }
        self.results: dict = {}

    def run_pass(self, tag: str, names=None) -> dict:
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        names = names or [q for q in self.queries if q not in LAYER_ONLY]
        out = {}
        for name in names:
            build = self.queries[name]
            build_group = f"build-{tag}-{name}"
            sc.setJobGroup(build_group, "construction")
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(build_group))
            sc.setJobGroup(group or f"action-{tag}", "action")
            table = df.toArrow()
            t2 = time.perf_counter()
            out[name] = {"build_s": t1 - t0, "build_jobs": jobs,
                         "action_s": t2 - t1, "rows": table.num_rows}
            self.results[(tag, name)] = table
        return {"queries": out}

    def digests(self) -> dict:
        return {f"{tag}|{name}": result_digest(
                    table.column_names, zip(*(c.to_pylist() for c in table.columns)))
                for (tag, name), table in self.results.items()}

    def layers(self) -> dict:
        return self.run_pass("layers", LAYER_ONLY)


WORKLOADS = {"extract": Extract, "corpus": Corpus}


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    result: dict = {"passes": [], "errors": []}
    sampler = RssSampler()
    sampler.start()

    conf = {
        "spark.sql.warehouse.dir": os.path.join(spec["work"], "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if spec.get("event_log"):
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + spec["event_log"]
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{spec['cpus']}]",
                          extra_conf=conf)
    result["build_s"] = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        ship_engine(spark)
        workload = WORKLOADS[spec["kind"]](spark, spec)
        sc.setJobGroup("warmup", "warm-up pass")
        result["warmup"] = workload.run_pass("warm")
        result["ready"] = time.time()

        sampler.measuring.set()
        sampler.take_peak()
        started = time.perf_counter()
        while (not result["passes"]
               or time.perf_counter() - started < spec["seconds"]):
            i = len(result["passes"])
            sc.setJobGroup(f"timed-{i}", "timed pass")
            t0 = time.perf_counter()
            try:
                info = workload.run_pass(str(i))
            except Exception:  # a pass that raises is a failed pass
                result["errors"].append(traceback.format_exc())
                info = {"failed": True}
            info["wall_s"] = time.perf_counter() - t0
            info["peak_rss_bytes"] = sampler.take_peak()
            result["passes"].append(info)
        sampler.measuring.clear()

        sc.setJobGroup("layers", "layer prefixes")
        if spec.get("layers"):
            result["layers"] = workload.layers()
        if isinstance(workload, Corpus):
            result["digests"] = workload.digests()
    finally:
        sampler.stopped.set()
        spark.stop()
        with open(spec["result"], "w") as fh:
            json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
