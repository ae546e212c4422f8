"""SparkSession factory tuned for the engine.

The reference engine is a single-process LMDB reader (`/root/reference/
src/storage.cpp:6-19`); our unit of deployment is a SparkSession. The
defaults here are scale-aware:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  at 100 TB the static `shuffle.partitions` guess is always wrong, AQE
  fixes it after the first map stage.
- `QUERY_CONF`: the UTC session timezone, so timestamps hash-match
  DuckDB oracles, and parquet TIMESTAMP(NANOS) read as long (round-1
  testdata wrote `events.ts` that way; `queries.events` converts it).
  Query functions never write session conf: they run 4-way concurrently
  in one session. A session built elsewhere gets these pinned once by
  `registry.prepare` where it is handed to the registry.
- Arrow enabled for the (rare) Pandas-UDF paths.
- `shuffle.partitions` defaults to the local core count; on a real
  cluster set it ~2-3x total cores (AQE coalesces the excess).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# runtime conf every registered query relies on
QUERY_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "osmexpress-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # Python workers must be able to import this package regardless of
    # the driver's cwd (RDD/UDF closures reference our modules). Local
    # mode: extend the workers' PYTHONPATH; a real cluster additionally
    # ships the package via --py-files / spark.submit.pyFiles.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in worker_pp.split(os.pathsep):
        worker_pp = f"{pkg_root}{os.pathsep}{worker_pp}" if worker_pp else pkg_root
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Parquet scans: keep row groups prunable and reads vectorized.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**QUERY_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
