"""Expand: bulk-load a source file into the engine's table layout
(the reference's flagship ingest, `osmx expand` —
`/root/reference/src/expand.cpp:128-296`).

Reference pipeline: libosmium streams the PBF; a handler writes
locations + tagged-node payloads + ways + relations, derives the S2
cell per node (`src/expand.cpp:151-153`), and bulk-builds the four
reverse indexes with an external sort + k-way merge + ordered append
(`src/expand.cpp:40-121`). Our Spark mapping (SURVEY.md §2.1 S1, §2.5
O1/O2):

- source scan: the osmpbf/osmxml Python DataSource — one input
  partition per PBF blob, so a planet file fans out over the cluster.
- cell derivation: `cell_col`, a pure column expression (JVM-side,
  whole-stage codegen; the reference pays a C++ S2 call per node).
- the external sort + merge + ordered append is EXACTLY Spark's
  sort-shuffle: `repartitionByRange(key).sortWithinPartitions(key)`
  then a parquet write (`store.write_sorted`, keys from
  `store.DEFAULT_SORT`) — zero custom code, spills managed by Tungsten.
- reverse indexes: explode + the same range-sorted write
  (operators/edges.py).

Sizing: `partitions` should scale with input bytes (a planet-scale run
wants thousands); the default suits the fixtures. All downstream
pruning (extract's covering ranges, point lookups) depends on this
layout — locations sorted by cell, payloads and edges by id.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spatial import cells
from ..store import read_parquet, write_meta, write_sorted
from . import edges as edges_mod

_SOURCE_FORMATS = {
    ".pbf": "osmpbf",
    ".osm": "osmxml",
    ".xml": "osmxml",
    # the reference's native LMDB artifact (sources/osmx.py) — a user
    # migrating an existing planet.osmx ingests it directly
    ".osmx": "osmx",
}


def _fmt_for(path: str) -> str:
    low = path.lower()
    # compressed XML: planet.osm.gz / .osm.bz2 / .xml.gz — the XML
    # source decompresses transparently (libosmium extension parity).
    # Only strip the suffix when XML remains underneath: the PBF source
    # cannot decompress, so planet.pbf.gz must keep raising the clear
    # unsupported-extension error instead of failing deep in decode
    for comp in (".gz", ".bz2"):
        if low.endswith(comp):
            inner = os.path.splitext(low[: -len(comp)])[1]
            if inner in (".osm", ".xml"):
                low = low[: -len(comp)]
            break
    ext = os.path.splitext(low)[1]
    try:
        return _SOURCE_FORMATS[ext]
    except KeyError:
        raise ValueError(
            f"cannot infer source format from {path!r}; pass fmt="
        ) from None


def _write_metadata(
    spark: SparkSession, source_path: str, dest: str, fmt: str | None
) -> None:
    """Dataset-level metadata, mirroring the reference's metadata table
    writes at expand time (src/expand.cpp:283-287): import filename +
    the PBF header's osmosis replication timestamp/seqnum when present.
    The `timestamp` key is what the replication bootstrap resolves to a
    starting seqnum (streaming/feedstate.bootstrap_seqnum). Published
    with `store.write_meta`'s rename-commit."""
    import time
    from datetime import datetime, timezone

    meta: dict = {
        "import_filename": source_path,
        "imported_at": datetime.fromtimestamp(
            time.time(), tz=timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
    resolved = fmt or _fmt_for(source_path)
    if resolved == "osmpbf":
        from ..sources import pbf

        header = pbf.read_header(source_path)
        ts = header.get("osmosis_replication_timestamp")
        if ts is not None:
            meta["timestamp"] = datetime.fromtimestamp(
                ts, tz=timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")
        seq = header.get("osmosis_replication_sequence_number")
        if seq is not None:
            meta["seqnum"] = int(seq)
    elif resolved == "osmx":
        # the source file's own metadata table carries the replication
        # state (src/expand.cpp:285-286) — preserve it so catch-up
        # resumes from the migrated snapshot's position
        from ..sources import osmx

        with osmx.OsmxFile(source_path) as f:
            fm = f.metadata()
        ts = fm.get("osmosis_replication_timestamp")
        if ts:
            meta["timestamp"] = ts
        seq = fm.get("osmosis_replication_sequence_number")
        if seq:
            try:
                meta["seqnum"] = int(seq)
            except ValueError:
                pass
    write_meta(spark, dest, meta, name="_metadata.json")


def _register(spark: SparkSession, fmt: str) -> None:
    if fmt == "osmpbf":
        from ..sources import pbf

        pbf.register(spark)
    elif fmt == "osmxml":
        from ..sources import osm_xml

        osm_xml.register(spark)
    elif fmt == "osmx":
        from ..sources import osmx

        osmx.register(spark)
    else:
        raise ValueError(f"unknown source format {fmt!r}")


def _metadata_struct():
    return F.struct(
        F.col("version").cast("int").alias("version"),
        F.to_timestamp(F.col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "timestamp"
        ),
        F.col("changeset").cast("long").alias("changeset"),
        F.col("uid").cast("long").alias("uid"),
        F.col("user").alias("user"),
    ).alias("metadata")


def _tags_kv():
    # interleaved [k0,v0,k1,v1,...] — kept for byte-level round trips
    # (include/osmx/util.h:28-40); map_entries preserves source order.
    return F.flatten(
        F.transform(
            F.map_entries("tags"), lambda e: F.array(e["key"], e["value"])
        )
    ).alias("tags_kv")


def unified_source(
    spark: SparkSession, source_path: str, fmt: str | None = None
) -> DataFrame:
    """One scan over the source with every element type (ALL_SCHEMA) —
    the bulk-ingest read: the Python-side decode of each PBF blob runs
    ONCE, not once per element type."""
    fmt = fmt or _fmt_for(source_path)
    _register(spark, fmt)
    return spark.read.format(fmt).option("element", "all").load(source_path)


def tables_from_unified(all_df: DataFrame) -> dict[str, DataFrame]:
    """ALL_SCHEMA rows -> the four logical tables (lazy)."""
    nodes_src = all_df.where(F.col("type") == "node")
    ways_src = all_df.where(F.col("type") == "way")
    relations_src = all_df.where(F.col("type") == "relation")

    # locations: EVERY node, cell-derived (expand.cpp:151-169)
    locations = nodes_src.select(
        "id",
        "lon",
        "lat",
        F.col("version").cast("int").alias("version"),
        cells.cell_col(F.col("lon"), F.col("lat")).alias("cell"),
    )
    # nodes: tagged payloads only (expand.cpp:156; the P1 projection)
    nodes = nodes_src.where(F.size("tags") > 0).select(
        "id", "tags", _tags_kv(), _metadata_struct()
    )
    ways = ways_src.select("id", "nodes", "tags", _tags_kv(), _metadata_struct())
    relations = relations_src.select(
        "id",
        F.col("members").cast(
            "array<struct<ref:long,type:string,role:string>>"
        ).alias("members"),
        "tags",
        _tags_kv(),
        _metadata_struct(),
    )
    return {
        "locations": locations,
        "nodes": nodes,
        "ways": ways,
        "relations": relations,
    }


def expand(
    spark: SparkSession,
    source_path: str,
    dest: str,
    fmt: str | None = None,
    partitions: int | None = None,
    materialize_edges: bool = True,
) -> None:
    """Full `osmx expand`: source file -> dataset directory in the
    production pruning layout (locations cell-sorted, payloads and
    reverse indexes id-sorted). The source is decoded once and
    persisted across the four table writes (at planet scale this spills
    to local disk per executor — cheaper than 3 redundant PBF decodes).

    The four core writes run concurrently (thread pool), as do the four
    edge writes after them: each write is an independent job whose
    sample/shuffle/commit phases leave the cluster partly idle, so
    overlapping them raises utilization without changing any output.
    The two waves are ordered because edge derivation re-reads the
    written payload parquet instead of re-parsing the source."""
    from concurrent.futures import ThreadPoolExecutor

    all_df = unified_source(spark, source_path, fmt).persist()
    # materialize the persist once, before concurrent writes fan out,
    # so the decode of each blob runs exactly once; the count also
    # sizes the layout partitioning (None -> ~1M rows/partition: a
    # fixture-scale expand writes 1 range partition per table and
    # skips range sampling entirely; planet-scale gets thousands)
    n_rows = all_df.count()
    if partitions is None:
        partitions = max(1, min(32768, -(-n_rows // 1_000_000)))

    def write(item: tuple[str, DataFrame]) -> None:
        write_sorted(item[1], os.path.join(dest, item[0]), item[0], partitions)

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(write, tables_from_unified(all_df).items()))
    all_df.unpersist()
    _write_metadata(spark, source_path, dest, fmt)
    if materialize_edges:
        # re-read the written payloads so edge derivation scans parquet
        # instead of re-parsing the source file
        ways = read_parquet(spark, os.path.join(dest, "ways"))
        relations = read_parquet(spark, os.path.join(dest, "relations"))
        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(write, edges_mod.derive_all(ways, relations).items()))
