#!/usr/bin/env python
"""Capture .explain("formatted") for named registry queries.

Usage: python tools/capture_plans.py <suffix> [name ...]
Writes plans/r11/<name>_<suffix>.txt for each query (default: all
HEADLINE queries).  suffix is e.g. "before" or "after".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("PLANS_ROUND", "r12"),
)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]

    import bench
    from osmexpress_spark import get_spark, registry

    live = registry.queries()
    if not names:
        names = [n for n in bench.HEADLINE if n in live]

    spark = get_spark(app_name="osmx-plans", cpus=bench.CPUS,
                      shuffle_partitions=int(bench.CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        try:
            df = live[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 - capture what we can
            plan = f"ERROR capturing plan: {e!r}\n"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
