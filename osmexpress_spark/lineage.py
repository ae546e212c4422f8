"""Lineage cuts for multiply-referenced frames (guide §2.4/§5).

Catalyst has no common-subtree elimination: a derived DataFrame
referenced from two plan branches re-evaluates its entire lineage per
reference.  The r11 fix was `localCheckpoint(eager=True)` at each such
site.  This module centralizes that cut and adds the two things the
r11 verdict flagged for cluster scale:

* **Failure story / size guard** (VERDICT r11 "what's wrong" #3):
  `localCheckpoint` stores blocks only on executors with no lineage to
  recompute from — an executor loss (or dynamic-allocation scale-in)
  fails the job.  Fine on a single node and for bounded proxy frames;
  NOT fine for corpus-sized cuts on a cluster.  `cut()` therefore
  estimates the frame from optimizer statistics and, past
  ``spark.osmexpress_spark.cut.maxLocalBytes`` (default 8g), uses a
  *reliable* ``checkpoint()`` into ``sparkContext.setCheckpointDir``
  storage when one is configured.  With no checkpoint dir it keeps the
  local cut (single-node deployments have no safer option and
  recomputation-by-lineage is exactly what the cut exists to avoid);
  cluster deployments should set a checkpoint dir.

* **Block hygiene** (ADVICE r11): checkpointed blocks are freed only
  when the JVM object is garbage-collected, and reliable-checkpoint
  files not even then by default.  Driver loops that chain one cut per
  round (kcenter) can call `release()` on the superseded round once its
  successor is materialized; it frees the blocks or deletes the files.
  `release()` is best-effort: it must only be called when the frame's
  data can no longer be needed (a cut frame has no lineage to
  recompute from).

Config (all scale-dependent knobs parameterised per the bench rules;
local defaults keep the sf0.1 plans bit-identical to r11):

* ``spark.osmexpress_spark.cut.maxLocalBytes`` — estimated-size
  threshold above which a configured checkpoint dir is preferred over
  executor-local blocks.  Default ``8589934592`` (8 GiB).
* ``spark.osmexpress_spark.cut.eager`` — set ``false`` to defer every
  cut's materialization to its first consuming action (the blocks
  still guarantee one evaluation); default ``true`` keeps the measured
  r11 behavior of materializing at operator-construction time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_DEFAULT_MAX_LOCAL_BYTES = 8 * 1024 * 1024 * 1024


def _conf(spark, key: str, default: str) -> str:
    try:
        return spark.conf.get(key, default)
    except Exception:
        return default


def _estimated_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate for the frame (no job; the optimized
    plan is computed anyway by the checkpoint that follows)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(stats.sizeInBytes())
    except Exception:
        return None


def _checkpoint_dir_set(spark) -> bool:
    try:
        return spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    except Exception:
        return False


def eager_enabled(spark) -> bool:
    """Whether cuts materialize at construction time (the default).
    `release()` of an intermediate cut is only safe when its consumer
    was eagerly materialized — callers gate on this."""
    return _conf(spark, "spark.osmexpress_spark.cut.eager", "true") != "false"


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once and truncate its lineage.

    Local (executor-block) checkpoint by default — the measured r11
    shape.  Past the configured size threshold, prefer a reliable
    ``checkpoint()`` when a checkpoint dir is configured, so an
    executor loss at cluster scale degrades to a re-read instead of a
    failed job.  At bench scale every operator frame sits far below
    the default threshold and the plan is bit-identical to
    ``localCheckpoint``.
    """
    spark = df.sparkSession
    if _conf(spark, "spark.osmexpress_spark.cut.eager", "true") == "false":
        eager = False
    try:
        max_local = int(
            _conf(
                spark,
                "spark.osmexpress_spark.cut.maxLocalBytes",
                str(_DEFAULT_MAX_LOCAL_BYTES),
            )
        )
    except ValueError:
        max_local = _DEFAULT_MAX_LOCAL_BYTES
    est = _estimated_bytes(df)
    if est is not None and est > max_local and _checkpoint_dir_set(spark):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive fan-out: round-robin ``df`` across the session's
    task slots (defaultParallelism) when its physical scan yields
    fewer partitions, else return it unchanged.  The bench fixtures
    are single parquet row groups, one scan partition, which would run
    per-row Python or interpreted work serially; at corpus scale the
    file fan-out already exceeds the slots and the plan keeps its
    zero-Exchange scan shape.  The ``.rdd`` probe costs ~0.7 ms/call
    on classic sessions; Spark Connect sessions have no
    ``DataFrame.rdd``, so there the scan shape is kept."""
    try:
        slots = df.sparkSession.sparkContext.defaultParallelism
        narrow = df.rdd.getNumPartitions() < slots
    except Exception:
        return df
    return df.repartition(slots) if narrow else df


def release(df: DataFrame) -> None:
    """Best-effort free of a cut frame's storage: its blocks (local
    cut) or its checkpoint-dir files (reliable cut).

    Only call when the frame (and everything derived solely from it
    that is not itself materialized) is no longer needed: a cut frame
    has no lineage, so released data cannot be recomputed.  Failures
    are swallowed — the ContextCleaner frees the blocks on GC anyway
    (checkpoint files only with ``spark.cleaner.referenceTracking.
    cleanCheckpoints``); this just makes driver loops (one cut per
    round) not accumulate O(rounds) of superseded cuts while they run.
    """
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.unpersist(False)
        ckpt = rdd.getCheckpointFile()
        if ckpt.isDefined():
            jvm = df.sparkSession.sparkContext._jvm
            path = jvm.org.apache.hadoop.fs.Path(ckpt.get())
            conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
            path.getFileSystem(conf).delete(path, True)
    except Exception:
        pass
