#!/usr/bin/env python
"""Capture .explain("formatted") for named registry queries.

Usage: python tools/capture_plans.py <suffix> [name ...]
Writes plans/r12/<name>_<suffix>.txt for each query (default: all
HEADLINE queries).  suffix is e.g. "before" or "after".

Two captures of the same commit are byte-identical, so captures diff:

- each query is built in its own fresh process (and so a fresh JVM
  and session). Expression ids come from one JVM-wide counter, and a
  distinct aggregate's ``Expand`` orders its columns by them, so a
  plan otherwise depends on everything built before it;
- expression ids are renumbered in order of first appearance, and
  ``plan_id``s, RDD ids (a cut's ``MapPartitionsRDD[86]``) and
  ``osmx_*`` temp-dir names blanked.
"""

from __future__ import annotations

import multiprocessing
import os
import re
import sys
import tempfile
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("PLANS_ROUND", "r12"),
)
_TMP_NAME = re.compile(re.escape(tempfile.gettempdir()) + r"/osmx_[\w.-]*")


def normalize(plan: str) -> str:
    """``plan`` with its session-history-dependent names made stable."""
    ids: dict[str, int] = {}
    plan = re.sub(r"#(\d+)", lambda m: f"#{ids.setdefault(m[1], len(ids))}", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    plan = re.sub(r"(\w+RDD)\[\d+\]", r"\1[_]", plan)
    return _TMP_NAME.sub(tempfile.gettempdir() + "/osmx_*", plan)


def capture(name: str, path: str) -> str:
    """Build query ``name`` in this (fresh) process and write its
    normalized formatted plan to ``path``."""
    import bench
    from osmexpress_spark import get_spark, registry

    spark = get_spark(app_name="osmx-plans", cpus=bench.CPUS,
                      shuffle_partitions=int(bench.CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = registry.queries()[name](spark, SF_DIR)
        plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
    except Exception as e:  # noqa: BLE001 - capture what we can
        plan = f"ERROR capturing plan: {e!r}\n"
    finally:
        spark.stop()
    with open(path, "w") as f:
        f.write(plan)
    return path


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]

    import bench
    from osmexpress_spark import registry

    if not names:
        live = registry.queries()
        names = [n for n in bench.HEADLINE if n in live]
    os.makedirs(OUT_DIR, exist_ok=True)
    paths = [os.path.join(OUT_DIR, f"{name}_{suffix}.txt") for name in names]
    # one process per query, one at a time: each plan starts from a
    # fresh JVM, and only one Spark session runs at once
    with ProcessPoolExecutor(
        max_workers=1, max_tasks_per_child=1,
        mp_context=multiprocessing.get_context("spawn"),
    ) as pool:
        for path in pool.map(capture, names, paths):
            print(f"wrote {path}")


if __name__ == "__main__":
    main()
