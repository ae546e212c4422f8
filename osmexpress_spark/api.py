"""Public dataset facade — the Spark analog of the reference's Python
embedding API (`/root/reference/python/osmx/osmx.py`: Environment /
Transaction / Locations / Nodes / Ways / Relations / Index), SURVEY.md
§3.3.

A `Dataset` is the one reader of a dataset directory. The directory
reads as its latest committed `SnapshotStore` snapshot when it has one
(after `update --commit`), else as the plain `expand` layout (locations
cell-sorted, payloads id-sorted). Opening one writes nothing. It
exposes DataFrames plus the composed operators: `.extract(region)`,
`.lookup(type, id)`, `.edges(name)`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import edges as edges_mod
from .operators.extract import ExtractResult, extract
from .spatial import Region
from .store import DEFAULT_SORT, SnapshotStore, read_meta, read_parquet, write_sorted

CORE_TABLES = ("locations", "nodes", "ways", "relations")
EDGE_TABLES = ("node_way", "node_relation", "way_relation", "relation_relation")


class Dataset:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.store = SnapshotStore(spark, path)

    @classmethod
    def expand(
        cls,
        spark: SparkSession,
        source_path: str,
        dest: str,
        **kwargs,
    ) -> "Dataset":
        """Bulk-load a .osm.pbf / .osm file into a new dataset dir
        (`osmx expand` parity — operators/expand.py)."""
        from .operators.expand import expand as _expand

        _expand(spark, source_path, dest, **kwargs)
        return cls(spark, dest)

    def _table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _read(self, *names: str) -> dict[str, DataFrame]:
        """The named tables, all of one snapshot: the latest committed
        version when there is one, else the expand layout."""
        version = self.store.latest_version()
        if version is None:
            return {n: read_parquet(self.spark, self._table_path(n)) for n in names}
        return {n: self.store.read_table(n, version) for n in names}

    def table(self, name: str) -> DataFrame:
        return self._read(name)[name]

    def locations(self) -> DataFrame:
        return self.table("locations")

    def nodes(self) -> DataFrame:
        return self.table("nodes")

    def ways(self) -> DataFrame:
        return self.table("ways")

    def relations(self) -> DataFrame:
        return self.table("relations")

    def tables(self) -> dict[str, DataFrame]:
        """Every table of the snapshot: the four core tables plus the
        reverse indexes it has materialized."""
        version = self.store.latest_version()
        if version is not None:
            return self.store.read_all(version)
        edges = [n for n in EDGE_TABLES
                 if os.path.exists(os.path.join(self._table_path(n), "_SUCCESS"))]
        return self._read(*CORE_TABLES, *edges)

    def edges(self, name: str) -> DataFrame:
        """Materialized reverse index if present, else derived on the fly."""
        tables = self.tables()
        if name in tables:
            return tables[name]
        return edges_mod.derive_all(tables["ways"], tables["relations"])[name]

    def materialize_edges(self) -> None:
        """Build the four reverse indexes once (ingest-time in the
        reference, src/expand.cpp:180,203-205), range-sorted on the
        probe key so point lookups prune. A dataset with a committed
        snapshot gets them as a new store version that carries the
        snapshot's replication metadata forward; a plain one gets them
        in the expand layout."""
        t = self._read("ways", "relations")
        edges = edges_mod.derive_all(t["ways"], t["relations"])
        version = self.store.latest_version()
        if version is not None:
            meta = self.store.metadata(version)
            self.store.commit(
                edges, {k: v for k, v in meta.items() if k != "committed_at"},
                sort_by=DEFAULT_SORT,
            )
            return
        for name, df in edges.items():
            write_sorted(df, self._table_path(name), name, 8)

    # --- S3 point lookup (src/cmd.cpp:44-86, osmx.py:53-98) ---
    def lookup(self, element_type: str, element_id: int) -> DataFrame:
        """Point lookup with the pushed id filter; the id-sorted layout
        makes this a few-row-group read, the Spark analog of the LMDB
        point get."""
        one = F.col("id") == element_id
        if element_type == "node":
            t = self._read("locations", "nodes")
            return (
                t["locations"].where(one)
                .join(t["nodes"].where(one), "id", "left_outer")
                .select("id", "lon", "lat", "version", "tags", "metadata")
            )
        if element_type in ("way", "relation"):
            return self.table(element_type + "s").where(one)
        raise ValueError(f"unknown element type: {element_type}")

    # --- S6 stats (src/cmd.cpp:96-109) ---
    def stats(self) -> dict[str, int]:
        return {name: df.count() for name, df in self._read(*CORE_TABLES).items()}

    def metadata(self) -> dict:
        """Dataset-level metadata: the expand-time `_metadata.json`
        (import filename, osmosis replication timestamp/seqnum from the
        source header), overlaid with the latest store manifest's
        metadata when the dataset has committed updates — so after
        `update --commit` the replication seqnum/timestamp reflect the
        CURRENT snapshot (reference stamps extract headers from the live
        db state, src/extract.cpp:282-283), not the stale expand."""
        try:
            static = read_meta(self.spark, self.path, name="_metadata.json")
        except FileNotFoundError:
            static = {}
        version = self.store.latest_version()
        live = {} if version is None else self.store.metadata(version)
        return {**static, **{k: v for k, v in live.items() if k != "committed_at"}}

    def extract(self, region: Region, **kwargs) -> ExtractResult:
        return extract(self.tables(), region, **kwargs)

    # --- U1-U4 / U6 (src/update.cpp; python/examples/augmented_diff.py) ---
    def update(self, changes, seqnum: int = 1, **kwargs):
        """Apply one OsmChange batch and return the derived new tables
        (UpdateResult) WITHOUT committing — the reference's dry-run
        default (src/update.cpp:287-290). `changes` is a
        CHANGES_SCHEMA DataFrame or a path to an .osc(.gz) file.
        Commit by writing the result through SnapshotStore
        (streaming.replication.apply_batch wires both)."""
        from .operators.update import apply_changes
        from .sources.osc import read_osc

        if isinstance(changes, str):
            changes = read_osc(self.spark, changes, seqnum=seqnum)
        return apply_changes(self.tables(), changes, **kwargs)

    def augmented_diff(self, changes, seqnum: int = 1) -> DataFrame:
        """Overpass-style augmented diff of one OsmChange batch against
        this snapshot (U6; python/examples/augmented_diff.py:17-305).
        `changes` is a CHANGES_SCHEMA DataFrame or an .osc(.gz) path."""
        from .operators.diff import augmented_diff
        from .sources.osc import read_osc

        if isinstance(changes, str):
            changes = read_osc(self.spark, changes, seqnum=seqnum)
        return augmented_diff(self.tables(), changes)

    # --- SQL surface --------------------------------------------------------
    def create_views(self, prefix: str = "osm_") -> list[str]:
        """Register every table as a temp view so the whole dataset is
        queryable through spark.sql() — the generic relational surface
        the reference lacks (SURVEY.md §2.4 'free builtins')."""
        names = []
        for name, df in self.tables().items():
            df.createOrReplaceTempView(prefix + name)
            names.append(prefix + name)
        return names

    def region_predicate(self, region: Region, **cover_kwargs):
        """The covering as a Column predicate on `cell` — the API-level
        rewrite of `region_contains(...)` into pushable range filters
        (SURVEY.md §4). Compose with SQL views:

            ds.create_views()
            spark.sql("SELECT * FROM osm_locations").where(
                ds.region_predicate(region))
        """
        from .spatial import cells, cover

        ranges = cover(region, **cover_kwargs)
        return cells.ranges_filter(F.col("cell"), ranges)
