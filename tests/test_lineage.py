"""lineage.cut / release: the r12 scale guard for checkpoint cuts
(VERDICT r11 "what's wrong" #3 / next-round #6).

At bench scale cut() must behave exactly like the r11
localCheckpoint(eager=True) sites it replaced; past the configured
size threshold with a checkpoint dir set it must switch to a reliable
checkpoint so executor loss at cluster scale degrades to a re-read
instead of a failed job."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from osmexpress_spark import lineage


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cut_default_is_local_and_release_frees_blocks(spark):
    before = _persistent_rdd_count(spark)
    df = spark.range(500).select("id", (F.col("id") * 3).alias("v"))
    c = lineage.cut(df)
    assert [r["v"] for r in c.orderBy("id").collect()] == [
        i * 3 for i in range(500)
    ]
    assert _persistent_rdd_count(spark) == before + 1
    lineage.release(c)
    assert _persistent_rdd_count(spark) == before


def test_cut_size_guard_prefers_reliable_checkpoint(spark):
    d = tempfile.mkdtemp(prefix="osmx_ckpt_")
    old_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
    spark.sparkContext.setCheckpointDir(d)
    spark.conf.set("spark.osmexpress_spark.cut.maxLocalBytes", "1")
    try:
        df = spark.range(500).select("id", (F.col("id") * 3).alias("v"))
        c = lineage.cut(df)
        # identical results through the reliable path
        assert c.count() == 500
        written = [
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
        ]
        assert written, "reliable checkpoint wrote no files"
    finally:
        spark.conf.unset("spark.osmexpress_spark.cut.maxLocalBytes")
        if old_dir.isDefined():
            spark.sparkContext.setCheckpointDir(old_dir.get())


def test_cut_estimate_present_for_file_scans(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    est = lineage._estimated_bytes(spark.read.parquet(p))
    assert est is not None and est > 0


def test_cut_eager_conf_defers_materialization(spark):
    spark.conf.set("spark.osmexpress_spark.cut.eager", "false")
    try:
        before = _persistent_rdd_count(spark)
        df = spark.range(100).select("id")
        c = lineage.cut(df)
        # lazy: no job has run yet, but the RDD is registered for
        # persistence and materializes on first action
        assert c.count() == 100
        assert _persistent_rdd_count(spark) >= before
        lineage.release(c)
    finally:
        spark.conf.unset("spark.osmexpress_spark.cut.eager")


def _checkpoint_rdd_dirs(root) -> set[str]:
    return {r for r, _, _ in os.walk(root) if os.path.basename(r).startswith("rdd-")}


def test_release_deletes_reliable_checkpoint_files(spark):
    """On the reliable branch a cut's data lives in checkpoint-dir
    files, not blocks: release() deletes the superseded cut's files and
    leaves its successor readable."""
    d = tempfile.mkdtemp(prefix="osmx_ckpt_")
    old_dir = spark.sparkContext._jsc.sc().getCheckpointDir()
    spark.sparkContext.setCheckpointDir(d)
    spark.conf.set("spark.osmexpress_spark.cut.maxLocalBytes", "0")
    try:
        first = lineage.cut(
            spark.range(500).select("id", (F.col("id") * 3).alias("v"))
        )
        first_dirs = _checkpoint_rdd_dirs(d)
        assert first_dirs, "reliable checkpoint wrote no files"
        second = lineage.cut(first.select("id", (F.col("v") + 1).alias("v")))
        second_dirs = _checkpoint_rdd_dirs(d) - first_dirs
        assert second_dirs
        lineage.release(first)
        assert not any(os.path.exists(p) for p in first_dirs)
        assert all(os.path.isdir(p) for p in second_dirs)
        assert [r["v"] for r in second.orderBy("id").collect()] == [
            i * 3 + 1 for i in range(500)
        ]
    finally:
        spark.conf.unset("spark.osmexpress_spark.cut.maxLocalBytes")
        if old_dir.isDefined():
            spark.sparkContext.setCheckpointDir(old_dir.get())
