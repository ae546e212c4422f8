"""Extract sinks (operator S5 + O3 output ordering).

The reference emits extracts as a single ordered `.osm.pbf` / XML file:
nodes, then ways, then relations, ids ascending
(`/root/reference/src/extract.cpp:280-426`). From a distributed engine
that global order is the expensive part: it needs either a total sort +
single-stream writer or a per-type sorted write + concatenation.

Three sinks, cheapest first:
- `write_dataset`: the native sink — per-type parquet, cell-/id-sorted
  (full pruning layout, re-extractable). No global order needed;
  this is what downstream Spark jobs should consume.
- `write_xml`: ordered single-file .osm XML via three sorted
  toLocalIterator passes — streams through the driver without
  collecting, exactly the reference's three-pass write. Fine for
  region-sized extracts (the reference's use case); planet-sized
  exports should use write_dataset.
- `write_pbf`: single ordered `.osm.pbf`. The expensive part — blob
  encoding (string tables, delta/zigzag packing, zlib) — runs
  DISTRIBUTED via mapPartitions after a range-partition sort; the
  driver only concatenates pre-framed byte blocks in partition order
  (toLocalIterator preserves it), so driver work is O(bytes copied),
  not O(elements encoded). That is the scalable shape of an
  order-sensitive single-file sink.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.extract import ExtractResult
from ..store import read_parquet, write_sorted


def _strip_user_data(df):
    """GDPR projection (the reference's --noUserData, src/extract.cpp:73,
    111): null out changeset/uid/user inside the metadata struct, keeping
    the table schema stable."""
    if "metadata" not in df.columns:
        return df
    return df.withColumn(
        "metadata",
        F.struct(
            F.col("metadata.version").alias("version"),
            F.col("metadata.timestamp").alias("timestamp"),
            F.lit(None).cast("long").alias("changeset"),
            F.lit(None).cast("long").alias("uid"),
            F.lit(None).cast("string").alias("user"),
        ),
    )


def write_dataset(
    result: ExtractResult, path: str, partitions: int = 8, user_data: bool = True
) -> None:
    import os

    tables = {
        "locations": result.locations,
        "nodes": result.nodes,
        "ways": result.ways,
        "relations": result.relations,
    }
    for name, df in tables.items():
        if not user_data:
            df = _strip_user_data(df)
        write_sorted(df, os.path.join(path, name), name, partitions)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _tag_lines(tags) -> list[str]:
    return [
        f'    <tag k="{_xml_escape(k)}" v="{_xml_escape(v)}"/>'
        for k, v in (tags or {}).items()
    ]


def write_xml(result: ExtractResult, path: str) -> None:
    """Ordered single-file .osm XML: three sorted passes streamed via
    toLocalIterator (one partition in driver memory at a time —
    extract.cpp:304-421's ordering without its single-process scan).
    Node tags are joined into the locations stream distributedly (the
    same left join write_pbf uses), so driver memory stays O(one
    partition) even for planet-scale tag-heavy extracts — round 1
    collected the whole tagged payload into a driver dict."""
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        f.write('<osm version="0.6" generator="osmexpress_spark">\n')
        for row in _flat_nodes(result).orderBy("id").toLocalIterator():
            lon, lat = row["lon"] / 1e7, row["lat"] / 1e7
            head = (
                f'  <node id="{row["id"]}" lon="{lon:.7f}" lat="{lat:.7f}" '
                f'version="{row["version"]}"'
            )
            if row["tags"]:
                f.write(head + ">\n")
                f.write("\n".join(_tag_lines(row["tags"])) + "\n")
                f.write("  </node>\n")
            else:
                f.write(head + "/>\n")
        for row in result.ways.orderBy("id").toLocalIterator():
            f.write(f'  <way id="{row["id"]}">\n')
            for ref in row["nodes"]:
                f.write(f'    <nd ref="{ref}"/>\n')
            f.write("\n".join(_tag_lines(row["tags"])))
            f.write("\n  </way>\n" if row["tags"] else "  </way>\n")
        for row in result.relations.orderBy("id").toLocalIterator():
            f.write(f'  <relation id="{row["id"]}">\n')
            for m in row["members"]:
                f.write(
                    f'    <member type="{m["type"]}" ref="{m["ref"]}" '
                    f'role="{_xml_escape(m["role"] or "")}"/>\n'
                )
            f.write("\n".join(_tag_lines(row["tags"])))
            f.write("\n  </relation>\n" if row["tags"] else "  </relation>\n")
        f.write("</osm>\n")


_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _flat_nodes(result: ExtractResult):
    """locations ⟕ tagged payload -> XML/PBF-shaped node rows. The
    untagged majority (ref docs/MANUAL.md:118) joins to NULL payload."""
    payload = result.nodes.select(
        "id",
        F.col("tags").alias("p_tags"),
        F.col("metadata").alias("m"),
    )
    return result.locations.join(payload, "id", "left").select(
        "id",
        "lon",
        "lat",
        F.coalesce(F.col("m.version"), F.col("version")).alias("version"),
        F.coalesce(F.col("p_tags"), F.create_map().cast("map<string,string>"))
        .alias("tags"),
        F.date_format("m.timestamp", _ISO_FMT).alias("timestamp"),
        F.coalesce(F.col("m.changeset"), F.lit(0)).alias("changeset"),
        F.coalesce(F.col("m.uid"), F.lit(0)).alias("uid"),
        F.coalesce(F.col("m.user"), F.lit("")).alias("user"),
    )


def _flat_elements(df, list_col: str):
    return df.select(
        "id",
        list_col,
        F.coalesce(F.col("metadata.version"), F.lit(1)).alias("version"),
        "tags",
        F.date_format("metadata.timestamp", _ISO_FMT).alias("timestamp"),
        F.coalesce(F.col("metadata.changeset"), F.lit(0)).alias("changeset"),
        F.coalesce(F.col("metadata.uid"), F.lit(0)).alias("uid"),
        F.coalesce(F.col("metadata.user"), F.lit("")).alias("user"),
    )


def write_pbf(
    result: ExtractResult,
    path: str,
    block_size: int = 8000,
    partitions: int | None = None,
    stream: bool = True,
    user_data: bool = True,
    replication_timestamp: int | None = None,
) -> None:
    """Ordered single-file .osm.pbf (extract.cpp:280-426's three passes:
    nodes, ways, relations, ids ascending). Encode is distributed; the
    driver writes pre-framed blobs in partition order.

    The export is TWO actions total: one header-bbox+count aggregate,
    then ONE job whose RDD is the union of the three encoded passes —
    each pass range-partitions and sorts by id, encodes per partition,
    and the union evaluates all three shuffle pipelines in a single
    job (vs one job per pass, and 3×partitions sequential jobs in the
    round-1 toLocalIterator stream — ~100 ms scheduling each, minutes
    of pure overhead at planet partition counts).

    `partitions=None` sizes the range partitioning from the node count
    (folded into the bbox aggregate, so it costs nothing): ~1M
    elements per partition, so the fixture-scale export skips range
    sampling entirely (1 partition) while planet-scale gets ~8k
    partitions. Pass an explicit int to pin it.

    stream=True (the default — safe at any extract size): executors
    spill pre-framed blobs to an ordered parquet spill (uncompressed —
    frames are already zlib blocks) and the driver concatenates in
    (pass, partition, seq) order, reading bounded record batches.
    stream=False collects all frames in one job — a small-extract
    optimization whose driver memory is bounded by the COMPRESSED
    output size; opt in only when the extract is known-small.

    user_data=False is the reference's --noUserData GDPR switch
    (src/extract.cpp:73,111): changeset/uid/user are zeroed at the
    projection, before anything is shuffled or encoded.

    The sink runs actions over `result`; pass `cache_ids=True` to the
    extract that produced it, or the shared id-set DAG re-executes per
    action."""
    import math

    from . import pbf_codec

    def frames(kind):
        def fn(it):
            rows = (tuple(r) for r in it)
            yield from pbf_codec.iter_blob_frames(kind, rows, block_size)

        return fn

    def gdpr(df):
        if user_data:
            return df
        return df.withColumn("changeset", F.lit(0).cast("long")).withColumn(
            "uid", F.lit(0).cast("long")
        ).withColumn("user", F.lit(""))

    passes = [
        ("node", gdpr(_flat_nodes(result))),
        ("way", gdpr(_flat_elements(result.ways, "nodes"))),
        ("relation", gdpr(_flat_elements(result.relations, "members"))),
    ]
    # count folds into the bbox pass: sizes the range partitioning for
    # free (ways/relations are bounded by node count on any real map)
    bbox = result.locations.agg(
        F.min("lon"), F.min("lat"), F.max("lon"), F.max("lat"),
        F.count(F.lit(1)),
    ).collect()[0]
    if partitions is None:
        partitions = max(1, min(4096, math.ceil((bbox[4] or 1) / 1_000_000)))
    spark = result.locations.sparkSession
    rdds = []
    for p, (kind, df) in enumerate(passes):
        fn = frames(kind)
        rdds.append(
            df.repartitionByRange(max(1, partitions), "id")
            .sortWithinPartitions("id")
            .rdd.mapPartitionsWithIndex(
                lambda pid, it, _fn=fn, _p=p: (
                    (_p, pid, i, frame) for i, frame in enumerate(_fn(it))
                )
            )
        )
    # union evaluates all three pass pipelines in ONE spark job (the
    # shuffle stages schedule concurrently); row order under collect is
    # (pass, partition, seq) ascending by RDD-union construction
    encoded = spark.sparkContext.union(rdds)
    with open(path, "wb") as f:
        # reference stamps the snapshot's replication timestamp into the
        # output header (src/extract.cpp:282-283)
        header = pbf_codec.encode_header_block(
            bbox=(bbox[0], bbox[1], bbox[2], bbox[3])
            if bbox[0] is not None
            else None,
            replication_timestamp=replication_timestamp,
        )
        f.write(pbf_codec.frame_blob("OSMHeader", header))
        if stream:
            _spill_concat(spark, encoded, f)
        else:
            for _, _, _, frame in encoded.collect():
                f.write(frame)


def _spill_concat(spark, encoded, f) -> None:
    """One job: executors write (p, pid, seq, frame) to a parquet spill
    partitioned by (p, pid) (no re-compression — frames are zlib
    already); the driver then appends each (pass, pid) directory's
    frames in order, reading bounded record batches. Total driver
    memory: one batch."""
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    spill = tempfile.mkdtemp(prefix="osmx_pbf_spill_")
    try:
        (
            spark.createDataFrame(
                encoded, "p int, pid int, seq int, frame binary"
            )
            .write.partitionBy("p", "pid")
            .option("compression", "none")
            .mode("overwrite")
            .parquet(spill)
        )
        pid_dirs = sorted(
            (
                int(os.path.basename(os.path.dirname(d)).split("=", 1)[1]),
                int(os.path.basename(d).split("=", 1)[1]),
                d,
            )
            for d in glob.glob(os.path.join(spill, "p=*", "pid=*"))
        )
        for _, _, d in pid_dirs:
            last_seq = -1
            for part in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                pf = pq.ParquetFile(part)
                for batch in pf.iter_batches(
                    batch_size=1024, columns=["seq", "frame"]
                ):
                    seqs = batch.column("seq").to_pylist()
                    # one task writes one (p, pid)'s single file in
                    # iterator order; assert that invariant rather than
                    # sort (a sort would need the partition in memory)
                    assert seqs == sorted(seqs) and seqs[0] > last_seq, (
                        "pbf spill out of order"
                    )
                    last_seq = seqs[-1]
                    for frame in batch.column("frame"):
                        f.write(frame.as_py())
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def header_bbox(result: ExtractResult) -> tuple[float, float, float, float]:
    """The extract header box (extract.cpp:288-294) from the result's own
    locations — min/max aggregation, A4."""
    row = result.locations.agg(
        F.min("lon").alias("lon0"),
        F.min("lat").alias("lat0"),
        F.max("lon").alias("lon1"),
        F.max("lat").alias("lat1"),
    ).collect()[0]
    return (
        row["lon0"] / 1e7,
        row["lat0"] / 1e7,
        row["lon1"] / 1e7,
        row["lat1"] / 1e7,
    )


def write_training_shards(
    df,
    path: str,
    shards: int,
    id_col: str = "doc_id",
) -> list[str]:
    """Deterministic training-shard layout: rows hash into `shards`
    near-uniform shards (sample.global_shuffle_sharded — md5-derived
    order, no global sort), each shard lands as exactly one parquet
    file under shard=<s>/, sorted by the within-shard position so a
    reader streaming shard files round-robin replays the canonical
    training order.

    Spark-first shape: ONE hash shuffle (repartition on the shard
    column) + sortWithinPartitions(pos) + partitionBy write — no
    driver collection, no coalesce(1) bottleneck; each shard is
    written by its own task. Returns the shard directory names.

    At 100 TB pick `shards` so a shard fits a trainer's streaming
    budget (e.g. corpus_bytes / 1 GiB); the layout is stable under
    re-runs because both the shard hash and the order key derive from
    the id alone."""
    import os

    from pyspark.sql import functions as F

    from ..operators.sample import global_shuffle_sharded

    ordered = global_shuffle_sharded(df, id_col, shards)
    (
        ordered.repartition(shards, F.col("shard"))
        # shard-first sort satisfies the dynamic-partition writer's
        # required ordering, so it will not inject its own (unstable)
        # sort on the partition column and scramble pos
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return sorted(
        (d for d in os.listdir(path) if d.startswith("shard=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )


def read_training_shards(spark, path: str):
    """Reader mate of write_training_shards: the canonical global
    training order is round-robin across shards by within-shard
    position — ORDER BY (pos, shard). Equivalent to the unsharded
    global_shuffle order in distribution (md5-derived assignment on
    both axes) while letting trainer workers each stream ONE shard
    file sequentially; this reader is for validation and small jobs,
    not the trainer hot path."""
    return read_parquet(spark, path).orderBy("pos", "shard")
