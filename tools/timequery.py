#!/usr/bin/env python
"""Time named registry queries in a fresh session with bench.py's
method: the same warm-up, then build + execute through the noop sink
(osmexpress_spark.registry.warm_up / run). Use it for isolated medians
of a few lines without a full bench run.

Usage: python tools/timequery.py [-n REPS] name [name ...]
Prints one JSON line {"name": [t1, t2, ...], ...}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    args = sys.argv[1:]
    reps = 1
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args

    from osmexpress_spark import get_spark, registry

    spark = get_spark(app_name="osmx-timequery", cpus=CPUS,
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    registry.warm_up(spark, SF_DIR)

    out: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"timequery:{name}")
        out[name] = [
            round(registry.run(spark, name, SF_DIR), 3) for _ in range(reps)
        ]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
