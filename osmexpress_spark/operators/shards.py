"""Training-shard sink: deterministic sharding, integrity manifest, verify.

The OUTPUT side of a curation pipeline. After dedup / filter / mix /
pack, the corpus materializes as N parquet shards a trainer streams.
At 100 TB the write itself is the easy part; the hard parts are

- **deterministic membership** — task retries, AQE re-plans, and
  re-runs must put every row in the same shard, or a resumed write
  produces silent duplicates/losses. Assignment here is the scan-side
  Knuth multiplicative hash (`sample.hash_bucket`), a pure column
  expression: zero shuffle to *decide* membership, and the decision is
  a function of the row alone.
- **an integrity manifest** — a trainer (or a resumed writer) must be
  able to verify every shard without trusting a job-success flag. The
  manifest is ONE map-side-combined aggregate per shard: row count,
  weight total (e.g. chars or tokens), and a content checksum.
- **order-independent checksums** — the checksum is `bit_xor` over a
  60-bit md5 prefix of ``id:content``. XOR is commutative/associative
  and cannot overflow, so the value is invariant to partition layout,
  task scheduling, and row order — the only things that change it are
  the rows themselves. (A sum would need modular arithmetic to stay
  exact at 10^11 rows; XOR needs nothing.)
- **verification that scales** — `verify_training_shards` recomputes
  the same aggregate from the written files and full-outer-joins it
  against the stored manifest (a broadcast: the manifest is one row
  per shard). Zero result rows == intact. Checking a single shard
  reads only that shard's directory (the write is
  ``partitionBy(shard)``, so partition pruning applies).

No reference counterpart: the reference's single sink is the ordered
PBF stream (src/osmx/... via sources/sink.py); this module is part of
the training-data pipeline surface the brief adds on top.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import epoch_dirs, read_parquet
from .sample import hash_bucket

__all__ = [
    "shard_checksum",
    "shard_manifest",
    "write_training_shards",
    "verify_training_shards",
    "manifest_diff",
    "manifest_merge",
    "compact_epochs",
]


def shard_checksum(id_col, content_col):
    """60-bit row digest for the XOR checksum: md5 over ``id:content``
    (content-covering, so a corrupted or substituted payload changes
    the shard checksum even when ids survive). Engine-portable: the
    identical value in DuckDB is
    ``CAST('0x' || substring(md5(id || ':' || content), 1, 15) AS BIGINT)``.
    """
    digest = F.md5(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.coalesce(F.col(content_col), F.lit("")),
        )
    )
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")


def _checked_shard(id_col: str, shards: int):
    """Shard id with the NULL-id guard (same contract as
    sample.global_shuffle_sharded): a NULL id has no deterministic
    shard, and silently hashing it would put every such row in one
    shard on one engine and drop it on another."""
    return F.when(
        F.col(id_col).isNull(),
        F.raise_error(
            F.lit(
                "write_training_shards: NULL id has no deterministic "
                f"shard (id_col={id_col!r})"
            )
        ).cast("long"),
    ).otherwise(hash_bucket(F.col(id_col), shards))


def shard_manifest(
    df: DataFrame,
    id_col: str,
    content_col: str,
    weight_col: str,
    shards: int,
) -> DataFrame:
    """Per-shard integrity manifest: ``(shard, n_docs, n_tokens,
    checksum)``.

    One aggregate with map-side partial combine — at 100 TB the
    shuffle is ``shards`` rows of four BIGINTs per map task, nothing
    corpus-sized moves. ``weight_col`` is whatever budget the trainer
    meters (token count, chars, bytes).
    """
    return (
        df.select(
            _checked_shard(id_col, shards).alias("shard"),
            F.col(weight_col).cast("long").alias("_w"),
            shard_checksum(id_col, content_col).alias("_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").alias("n_tokens"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
    )


def _manifest_from_shard_col(
    data: DataFrame,
    id_col: str,
    content_col: str,
    weight_col: str,
) -> DataFrame:
    """Manifest rows for a frame that already carries a ``shard``
    column (the on-disk partition column after a read-back): no
    re-hashing, so a row sitting in the WRONG directory changes that
    directory's checksum instead of being silently re-derived into the
    right one. Shared by the writer (manifest-from-written-files) and
    the verifier (recompute side)."""
    return (
        data.select(
            F.col("shard").cast("long").alias("shard"),
            F.col(weight_col).cast("long").alias("_w"),
            shard_checksum(id_col, content_col).alias("_h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").alias("n_tokens"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    content_col: str,
    weight_col: str,
    shards: int,
    data_format: str = "parquet",
) -> DataFrame:
    """Materialize ``df`` as ``path/shards/shard=K/`` files plus a
    ``path/manifest/`` parquet of per-shard integrity rows; returns the
    manifest re-read from disk (what a verifier will see, not what the
    writer hoped). The returned frame is lazy over the files just
    written — consume it before any later overwrite of the same path
    replaces them.

    ``data_format`` is "parquet" (default) or "json" — json writes one
    JSON object per line (JSONL), the shape non-Spark trainer loaders
    stream directly; the manifest stays parquet either way, and the
    read-back uses the WRITER's schema explicitly so json type
    inference can never drift the checksum input types. Verification
    must pass the same format (verify_training_shards(data_format=)).

    Both writes go through Spark's Hadoop FS layer, so the layout is
    whole on hdfs:// and s3a:// paths (`store.py`'s persisted-store
    contract: never split a store between driver-local open() and the
    cluster filesystem). ``mode("overwrite")`` makes a re-run
    idempotent — the retry story is "overwrite the epoch", the same
    shape as the streaming sinks (watermark_ops epoch writes).

    The manifest is computed FROM THE FILES JUST WRITTEN (grouping by
    the on-disk ``shard`` partition column), never from a second scan
    of ``df`` — a non-deterministic input (``rand()`` columns, a source
    mutated between actions, an uncached sample) would otherwise yield
    a manifest that silently disagrees with the shards on disk
    (ADVICE r06). One extra read of the epoch is the price of a
    manifest that describes what a verifier will actually see.
    """
    if data_format not in ("parquet", "json"):
        raise ValueError(f"unsupported shard format {data_format!r}")
    with_shard = df.withColumn("shard", _checked_shard(id_col, shards))
    with_shard.write.partitionBy("shard").mode("overwrite").format(
        data_format
    ).save(os.path.join(path, "shards"))
    spark = df.sparkSession
    written = (
        spark.read.schema(with_shard.schema)
        .format(data_format)
        .load(os.path.join(path, "shards"))
    )
    manifest = _manifest_from_shard_col(
        written, id_col, content_col, weight_col
    )
    manifest.write.mode("overwrite").parquet(os.path.join(path, "manifest"))
    return read_parquet(spark, os.path.join(path, "manifest"))


def verify_training_shards(
    spark: SparkSession,
    path: str,
    id_col: str,
    content_col: str,
    weight_col: str,
    data_format: str = "parquet",
    schema=None,
) -> DataFrame:
    """Recompute the manifest from the written shard files and diff it
    against the stored one. Returns the mismatch rows — empty result ==
    every shard intact; a non-empty result names the shard and both
    sides' (n_docs, n_tokens, checksum).

    The recompute groups by the on-disk partition column (no
    re-hashing), so a row that was written into the WRONG directory is
    caught by the checksum, not masked by re-deriving its shard. The
    join compares two ``shards``-row frames (full outer, so a shard
    missing on either side surfaces as a mismatch row instead of
    vanishing); the only corpus-sized work is the one recompute scan.
    """
    reader = spark.read.format(data_format)
    if schema is not None:
        reader = reader.schema(schema)
    elif data_format == "json":
        raise ValueError(
            "verify_training_shards: json shards need the writer's "
            "schema (json type inference could silently change the "
            "checksum input types)"
        )
    data = reader.load(os.path.join(path, "shards"))
    actual = _manifest_from_shard_col(
        data, id_col, content_col, weight_col
    ).select(
        F.col("shard"),
        F.col("n_docs").alias("a_docs"),
        F.col("n_tokens").alias("a_tokens"),
        F.col("checksum").alias("a_checksum"),
    )
    expected = read_parquet(spark, os.path.join(path, "manifest")).select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").alias("e_docs"),
        F.col("n_tokens").alias("e_tokens"),
        F.col("checksum").alias("e_checksum"),
    )
    joined = actual.join(expected, "shard", "full_outer")
    return joined.where(
        ~(
            (F.col("a_docs") == F.col("e_docs"))
            & (F.col("a_tokens") == F.col("e_tokens"))
            & (F.col("a_checksum") == F.col("e_checksum"))
        )
        | F.col("a_docs").isNull()
        | F.col("e_docs").isNull()
    ).orderBy("shard")


def manifest_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Shard-level delta between two manifests (yesterday's publish vs
    today's re-publish): one row per shard whose content changed —
    ``(shard, status, old_docs, new_docs, old_tokens, new_tokens)``
    with status ``added`` / ``removed`` / ``changed``. Unchanged
    shards (equal count, weight, AND checksum) are absent.

    This answers the 100 TB rsync question — "which shards does the
    trainer actually need to refetch" — from two ``shards``-row
    frames, reading no shard data at all; the checksum makes it safe
    (a same-size shard with substituted content still diffs)."""
    o = old.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").alias("old_docs"),
        F.col("n_tokens").alias("old_tokens"),
        F.col("checksum").alias("old_checksum"),
    )
    n = new.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").alias("new_docs"),
        F.col("n_tokens").alias("new_tokens"),
        F.col("checksum").alias("new_checksum"),
    )
    j = o.join(n, "shard", "full_outer")
    status = (
        F.when(F.col("old_docs").isNull(), F.lit("added"))
        .when(F.col("new_docs").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.where(
            F.col("old_docs").isNull()
            | F.col("new_docs").isNull()
            | (F.col("old_checksum") != F.col("new_checksum"))
            | (F.col("old_docs") != F.col("new_docs"))
            | (F.col("old_tokens") != F.col("new_tokens"))
        )
        .select(
            "shard", status.alias("status"),
            "old_docs", "new_docs", "old_tokens", "new_tokens",
        )
        .orderBy("shard")
    )


def manifest_merge(manifests: list[DataFrame]) -> DataFrame:
    """Combine per-epoch (or per-partition-of-work) manifests into the
    manifest of the union corpus: per shard, counts and weights ADD and
    checksums XOR — the same merge algebra as the sketches
    (sketch.quantile_sketch_merge), and for the same reason: XOR over
    disjoint row sets composes exactly, so
    ``manifest_merge(epoch manifests) == shard_manifest(union of
    epochs)`` holds bit-for-bit WITHOUT rereading any data. This is
    what lets epoch compaction verify itself from metadata alone.

    Caveat (inherent to XOR, documented not hidden): the algebra is
    over DISJOINT row sets — feeding the same epoch twice cancels its
    checksum contribution while doubling its counts, so the count
    column, not the checksum, is what catches double-merges."""
    if not manifests:
        raise ValueError("manifest_merge: need at least one manifest")
    u = manifests[0]
    for m in manifests[1:]:
        u = u.unionByName(m)
    return u.groupBy("shard").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.expr("bit_xor(checksum)").alias("checksum"),
    )


def compact_epochs(
    spark: SparkSession,
    sink_path: str,
    out_path: str,
    id_col: str,
    content_col: str,
    weight_col: str,
    shards: int,
) -> DataFrame:
    """Compact a streaming shard sink's epochs (watermark_ops.
    shard_sink_stream layout: ``sink/epoch=N/{shards,manifest}``) into
    ONE training sink at ``out_path``, verified by manifest ALGEBRA —
    a metadata-only proof that the rewrite lost and invented nothing,
    costing a <= epochs*shards-row fold instead of a second corpus
    scan. Raises ValueError if the algebra does not hold.

    Two levels of check, both free: the GLOBAL fold (total docs, total
    weight, XOR of all checksums) is grouping-invariant — regrouping
    rows into any shard count preserves all three — so it always
    applies, even when ``shards`` differs from the epochs' shard
    count; when the compacted manifest happens to be row-compatible
    with the epoch merge (same shard count), the per-shard diff runs
    too and localizes any disagreement.

    The rewrite itself is the one unavoidable corpus read (small epoch
    files -> consolidated shard files, the classic small-file
    compaction); rows re-hash deterministically under the new count."""
    base = sink_path.rstrip("/")
    epochs = [f"{base}/epoch={e}" for e in epoch_dirs(spark, base)]
    epoch_manifests = [read_parquet(spark, f"{e}/manifest") for e in epochs]
    data = None
    for e in epochs:
        part = read_parquet(spark, f"{e}/shards").drop("shard")
        data = part if data is None else data.unionByName(part)
    compacted = write_training_shards(
        data, out_path, id_col, content_col, weight_col, shards
    )
    merged = manifest_merge(epoch_manifests)

    def _fold(m: DataFrame) -> tuple:
        [r] = m.agg(
            F.sum("n_docs").alias("d"),
            F.sum("n_tokens").alias("t"),
            F.expr("bit_xor(checksum)").alias("c"),
        ).collect()
        return (r["d"], r["t"], r["c"])

    want, got = _fold(merged), _fold(compacted)
    if want != got:
        raise ValueError(
            "compact_epochs: compacted manifest disagrees with the "
            f"epoch-manifest merge: merged (docs, weight, xor)={want}, "
            f"compacted={got}"
        )
    if sorted(r["shard"] for r in merged.collect()) == sorted(
        r["shard"] for r in compacted.collect()
    ):
        bad = manifest_diff(merged, compacted).collect()
        if bad:
            raise ValueError(
                "compact_epochs: per-shard manifest disagreement on "
                f"shards {[r['shard'] for r in bad]}"
            )
    return read_parquet(spark, os.path.join(out_path, "manifest"))
