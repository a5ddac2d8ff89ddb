"""Dump .explain("formatted") for named declared queries to
plans/<outdir>/<query>_<tag>.txt (judge evidence for OPTIMIZATION_rNN.md).

Expression ids (``#N``), exchange ids (``plan_id=N``) and the JVM's
fresh lambda-variable suffixes (``lambda x_N``) are renumbered to their
first-appearance ordinals within each file, so dumps of the same plan
from two checkouts compare with plain ``diff`` even when the session's
id counters differ (e.g. column construction moved into a helper).

Usage: python tools/dump_plans.py <outdir> <tag> <sf_dir> <query> [query...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from typhoon_ocr_spark.plans.session import build_session  # noqa: E402

_IDS = re.compile(r"(#|plan_id=|lambda \w+?_)(\d+)")


def renumber_ids(plan: str) -> str:
    """Replace each ``#N`` / ``plan_id=N`` / ``lambda x_N`` number with
    its first-appearance ordinal (one counter per kind), keeping
    repeated ids equal."""
    seen: dict = {}

    def ordinal(m: re.Match) -> str:
        kind = "lambda" if m.group(1).startswith("lambda") else m.group(1)
        ids = seen.setdefault(kind, {})
        return f"{m.group(1)}{ids.setdefault(m.group(2), len(ids) + 1)}"

    return _IDS.sub(ordinal, plan)


def main() -> int:
    outdir, tag, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    os.makedirs(outdir, exist_ok=True)
    spark = build_session(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(renumber_ids(plan))
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
