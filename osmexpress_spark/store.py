"""Versioned snapshot store — ACID-ish table commits on plain parquet.

The reference gets atomicity from LMDB: one write transaction covers
all ten sub-databases plus the replication seqnum/timestamp metadata
(`/root/reference/src/update.cpp:260-291`, `docs/MANUAL.md:126`), and
MVCC readers keep seeing the old snapshot. The Spark-native equivalent
is a transaction log a la Delta/Iceberg; those jars aren't in this
environment, so this module implements the minimal same-shaped
mechanism on plain parquet:

    root/_versions/v{N:012d}.json   <- the commit (atomic rename)
    root/data/{table}/v{N}/         <- parquet written before commit

A manifest lists every table's data path (unchanged tables point at
prior versions' directories) plus user metadata (replication seqnum,
timestamp). Readers resolve the latest manifest once and read immutable
files — a concurrent commit never disturbs them (snapshot isolation).
Writers are single-process here (exactly the reference's
one-writer/many-readers model). Time travel = read an older manifest.

Two write granularities:

- `commit(changed=...)` rewrites whole tables (bootstrap / compaction).
- `merge_commit(...)` is **merge-on-read**: a batch upsert/delete lands
  as a delta LAYER — two batch-sized parquet writes (upsert rows +
  changed-key set), the base files untouched. This is the
  Iceberg-equality-delete / Delta-MERGE analog of the reference
  touching only dirtied LMDB pages per minutely diff
  (`src/update.cpp:116-125`): write cost is O(|batch|), never
  O(table) — the property that matters when the table is 100 TB and
  the batch is a minutely diff. Readers fold layers back in with ONE
  broadcast join over three scans, whatever the layer count: the
  base, every layer's `upserts` as one relation and every layer's
  `changed` keys as another (see `_fold`); a bounded layer count
  triggers compaction back into a sorted base (OPTIMIZE analog), so
  read amplification is capped.

Building a read runs no Spark job. A bare `spark.read.parquet(dir)`
runs a job only to read a footer for the schema. Every store file is
written by Spark, whose footers carry the exact Spark schema under
`org.apache.spark.sql.parquet.row.metadata`, the key Spark's own
inference reads. `read_parquet` takes it from the first data file on
the driver (pyarrow, under 1 ms per directory) and hands it to
`spark.read.schema(...)`. Directories whose footers lack the key (a
non-Spark writer) or disagree fall back to the inferring read.

Layer contract for non-Spark writers: timestamps (`metadata.timestamp`)
must be written as UTC microseconds, as Spark writes them. A
`TIMESTAMP(NANOS)` column (pyarrow's default when it rewrites Spark's
INT96) reads as BIGINT under `spark.sql.legacy.parquet.nanosAsLong`,
and the fold's `unionByName` with the base then raises
`INCOMPATIBLE_COLUMN_TYPE`.

Opening a store writes nothing: `_versions/` appears with the first
commit, so a plain `expand` directory (or a read-only mount) can be
asked for its `latest_version()` without changing it.

At production scale swap this for Delta/Iceberg — the engine only uses
`read_table`/`commit`/`merge_commit`/`metadata`, which map 1:1.

The corpus stores that `operators/` persist (MinHash signatures, image
and audio hash bands, BM25 postings, rollup partials and IVF / IVF-PQ
indexes) share one contract, and this module is its only implementation:

- A store is a directory of parquet data plus one JSON sidecar
  (`meta.json`; `centroids.json` or `model.json` for the IVF indexes)
  holding the parameters it was built with.
- Sidecars go through Spark's Hadoop FileSystem layer (`store_fs`),
  never the driver's `open()`, so on hdfs:// or s3a:// a store's
  sidecar lives on the same filesystem as its data.
- `write_meta` runs after the data is written and publishes the
  sidecar with a rename-commit (`write_text`): a reader sees the old
  sidecar or the new one, never a torn or missing one.
- `read_meta` is the one pinned-parameter check: a load whose
  parameters differ from the sidecar's raises `ValueError` ("... was
  built with ..., requested ...") instead of silently reading data laid
  out under other parameters.
- Data directories are read with `read_parquet`, so building a store
  read runs no Spark job; partitioned layouts fall back to inference.
- `epoch_dirs` lists the `epoch=N` directories of a stream sink.

A dataset directory's `_metadata.json` goes the same way: `expand`
publishes it with `write_meta` and `Dataset.metadata` reads it with
`read_meta`. `tests/test_store_seam.py` pins the sidecar bytes
of every store kind and guards that no other module keeps its own copy
of these helpers or reads package-written parquet another way.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Each table's pruning sort key: locations by cell, payloads by id,
# reverse indexes by their probe side.
DEFAULT_SORT = {
    "locations": "cell",
    "nodes": "id",
    "ways": "id",
    "relations": "id",
    "node_way": "node_id",
    "node_relation": "node_id",
    "way_relation": "way_id",
    "relation_relation": "child_id",
}

def write_sorted(df: DataFrame, path: str, name: str, partitions: int,
                 sort_by: dict[str, str] = DEFAULT_SORT) -> None:
    """Write table ``name`` to ``path`` in its pruning layout:
    range-partitioned into ``partitions`` files on its ``sort_by`` key
    and sorted on it inside each file, so a key's rows sit in one file
    and point reads prune. A table without a key is written as it is."""
    key = sort_by.get(name)
    if key:
        df = df.repartitionByRange(partitions, key).sortWithinPartitions(key)
    df.write.mode("overwrite").parquet(path)


# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> T.StructType | None:
    """The Spark schema stored in the footer of ``path``'s first data
    file, in the order Spark's listing sorts them (names starting with
    ``_`` or ``.`` are not data); None when there is no such file or
    its footer carries no Spark schema."""
    try:
        first = min(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        meta = pq.read_schema(os.path.join(path, first)).metadata or {}
        return T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    except (OSError, KeyError, ValueError):
        return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` as one relation, without the
    schema-inference job: the schema comes from the first footer of
    each directory on the driver, the same file and key Spark's
    inference reads, so the frame is identical. When a directory has no
    Spark footer schema, or the directories' schemas differ, the read
    infers instead, merging every file's schema when there are several
    directories."""
    schema = _footer_schema(paths[0])
    if schema is not None and all(_footer_schema(p) == schema for p in paths[1:]):
        return spark.read.schema(schema).parquet(*paths)
    return spark.read.option("mergeSchema", len(paths) > 1).parquet(*paths)


def store_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``, on the filesystem its
    scheme names (hdfs://, s3a://, file:, or the default one)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def write_text(spark: SparkSession, path: str, text: str,
               _force_swap: bool = False) -> None:
    """Publish a small text file with rename-commit semantics: write
    the bytes to a sibling temp path, then move the temp over ``path``.
    The move prefers Hadoop FileContext's overwrite-rename, one atomic
    metadata operation on HDFS and the local filesystem, so a reader
    sees the old file or the new one, never a torn or missing file. On
    a filesystem whose FileContext lacks atomic overwrite, the old file
    is parked at a ``.bak`` sibling first and restored if the final
    rename fails, so a failed publish keeps the prior file. Stores are
    single-writer: two concurrent writers still race on which file
    wins."""
    import uuid

    jvm = spark._jvm
    fs, hpath = store_fs(spark, path)
    tag = uuid.uuid4().hex[:12]
    _, tmp = store_fs(spark, path + ".tmp." + tag)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if not _force_swap:
        try:
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                hpath.toUri(), spark._jsc.hadoopConfiguration()
            )
            opts = spark.sparkContext._gateway.new_array(
                jvm.org.apache.hadoop.fs.Options.Rename, 1)
            opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc.rename(tmp, hpath, opts)
            return
        except Exception:
            pass  # no FileContext overwrite-rename: park-and-swap
    _, bak = store_fs(spark, path + ".bak." + tag)
    had_old = bool(fs.exists(hpath))
    if had_old and not fs.rename(hpath, bak):
        fs.delete(tmp, False)
        raise OSError(f"rename-commit of {path} failed (park)")
    if not fs.rename(tmp, hpath):
        if had_old:
            fs.rename(bak, hpath)  # restore the prior file
        fs.delete(tmp, False)
        raise OSError(f"rename-commit of {path} failed (swap)")
    if had_old:
        fs.delete(bak, False)


def read_text(spark: SparkSession, path: str) -> str:
    """Read a file `write_text` published. After its park-and-swap
    fallback there is a sub-millisecond window in which ``path`` does
    not exist, so a failed open is retried once after a short sleep.
    A file that is still absent raises FileNotFoundError."""
    fs, hpath = store_fs(spark, path)
    for attempt in (0, 1):
        try:
            stream = fs.open(hpath)
            break
        except Exception:
            if attempt == 0:
                time.sleep(0.05)
            elif not fs.exists(hpath):
                raise FileNotFoundError(path) from None
            else:
                raise
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_meta(spark: SparkSession, path: str, meta: dict,
               name: str = "meta.json") -> None:
    """Publish store ``path``'s JSON sidecar ``name`` (`write_text`).
    Call it after the store's data is written."""
    write_text(spark, path.rstrip("/") + "/" + name, json.dumps(meta))


def read_meta(spark: SparkSession, path: str, want: dict | None = None,
              what: str = "store", name: str = "meta.json") -> dict:
    """Store ``path``'s JSON sidecar ``name``, checked against the
    pinned parameters ``want``: a key whose sidecar value differs
    (an absent key reads as None) raises ValueError naming the store
    as ``what``."""
    meta = json.loads(read_text(spark, path.rstrip("/") + "/" + name))
    want = want or {}
    have = {k: meta.get(k) for k in want}
    if have != want:
        raise ValueError(f"{what} at {path} was built with {have}, requested {want}")
    return meta


def epoch_dirs(spark: SparkSession, path: str) -> list[int]:
    """The ``N`` of every ``epoch=N`` directory of the stream sink at
    ``path``, ascending. An absent sink or one without epochs raises
    FileNotFoundError: an empty sink looks the same as a wrong path."""
    fs, hpath = store_fs(spark, path.rstrip("/"))
    if not fs.exists(hpath):
        raise FileNotFoundError(f"no sink at {path}")
    epochs = sorted(
        int(st.getPath().getName()[len("epoch="):])
        for st in fs.listStatus(hpath)
        if st.isDirectory() and st.getPath().getName().startswith("epoch=")
    )
    if not epochs:
        raise FileNotFoundError(f"no epoch=* directories under {path}")
    return epochs


def _layer_of_file() -> Column:
    """The version ``N`` of the ``v{N}_layer`` directory (written by
    `SnapshotStore.merge_commit`) that holds the row's file. ``N`` rises
    with the manifest's layer order, which is all the fold needs. The
    pattern is anchored to the end of the path, so a store root that
    itself contains such a name does not match."""
    return F.regexp_extract(
        F.col("_metadata.file_path"), r"/v(\d+)_layer/[^/]+/[^/]+$", 1
    ).cast("int")


def _fold(base: DataFrame, upserts: list[DataFrame], changed: list[DataFrame],
          key: str) -> DataFrame:
    """Merge-on-read fold: the newest layer that touched a key owns it.

    ``upserts`` carry their layer in ``__layer``; ``changed`` are
    ``(__key, __by)`` pairs, the keys layer ``__by`` touched. A row of
    ``base ∪ upserts`` (the base at layer -1) survives unless a NEWER
    layer touched its key: one LEFT OUTER join on ``key == __key AND
    __by > __layer`` keeps the rows it found no match for. No aggregate
    runs, and a key listed twice changes nothing. ``changed`` is
    diff-sized and broadcast, so the base stays one streamed scan with
    no shuffle. A ``left_anti`` join would say the same, but Spark pushes
    an anti join through the union into every branch (one broadcast per
    branch); the outer join and ``IS NULL`` filter stay above it."""
    rows = reduce(DataFrame.unionByName, upserts, base.withColumn("__layer", F.lit(-1)))
    by = reduce(DataFrame.unionByName, changed)
    hit = (rows[key] == by["__key"]) & (by["__by"] > rows["__layer"])
    return (
        rows.join(F.broadcast(by), hit, "left_outer")
        .where(by["__by"].isNull())
        .select(base.columns)
    )


@dataclass
class MergeSpec:
    """One table's share of a batch merge: `upserts` are the new row
    images; `changed_keys` (single column named `key`'s value) lists
    every merge-key value the batch touches — deletes are keys present
    here but absent from `upserts` (same contract as operators.update's
    anti-join+union merge)."""

    upserts: DataFrame  # schema == table schema
    changed_keys: DataFrame  # one column, named `key`'s value
    key: str


def _stamped(metadata: dict | None, **extra) -> dict:
    """A manifest's metadata: the caller's keys, then the commit time,
    then any ``extra`` flags."""
    return {**(metadata or {}), "committed_at": time.time(), **extra}


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # --- manifest plumbing -------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "_versions", f"v{version:012d}.json")

    def versions(self) -> list[int]:
        d = os.path.join(self.root, "_versions")
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5]) for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int | None = None) -> dict:
        version = version if version is not None else self.latest_version()
        if version is None:
            raise ValueError("empty store")
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def metadata(self, version: int | None = None) -> dict:
        return self._manifest(version)["metadata"]

    def tables(self, version: int | None = None) -> list[str]:
        return sorted(self._manifest(version)["tables"])

    # --- read path ----------------------------------------------------------
    def _read(self, *rels: str) -> DataFrame:
        return read_parquet(self.spark, *(os.path.join(self.root, r) for r in rels))

    def _layer_scans(self, entry: dict) -> tuple[list[DataFrame], list[DataFrame]]:
        """The `_fold` inputs of ``entry``'s layers: all ``upserts``
        directories as one scan and all ``changed`` directories as
        another, each row's layer taken from its file's path; empty
        lists when there are no layers."""
        layers = entry.get("layers", [])
        if not layers:
            return [], []
        upserts = self._read(*(la["upserts"] for la in layers))
        changed = self._read(*(la["changed"] for la in layers))
        return (
            [upserts.withColumn("__layer", _layer_of_file())],
            [changed.select(F.col("key").alias("__key"), _layer_of_file().alias("__by"))],
        )

    def _resolve(self, entry) -> DataFrame:
        """Entry -> DataFrame. A string entry is a plain directory; a
        dict entry is a merge-on-read table: base plus ordered delta
        layers, folded by `_fold` (the newest layer that touched a key
        owns it) as one broadcast join over three scans at any layer
        count.

        Building the frame runs no Spark job: every scan takes its
        schema from the footers on the driver (`read_parquet`)."""
        if isinstance(entry, str):
            return self._read(entry)
        base = self._read(entry["base"])
        if not entry.get("layers"):
            return base
        return _fold(base, *self._layer_scans(entry), entry["key"])

    def read_table(self, name: str, version: int | None = None) -> DataFrame:
        """Snapshot read: resolves the manifest once; the files it points
        at are immutable (LMDB MVCC analog / Delta versionAsOf)."""
        return self._resolve(self._manifest(version)["tables"][name])

    def read_all(self, version: int | None = None) -> dict[str, DataFrame]:
        m = self._manifest(version)
        return {name: self._resolve(e) for name, e in m["tables"].items()}

    # --- write path ---------------------------------------------------------
    def commit(
        self,
        changed: dict[str, DataFrame],
        metadata: dict | None = None,
        sort_by: dict[str, str] | None = None,
        partitions: int = 8,
    ) -> int:
        """Write changed tables, then atomically publish a new manifest.

        Data lands before the manifest rename — a crash mid-commit
        leaves orphan data dirs but never a torn snapshot (same
        guarantee ordering as the reference's single LMDB txn and as a
        Delta log entry). `sort_by` preserves each table's pruning
        layout (cell-sorted locations, id-sorted payloads).
        """
        prev = self.latest_version()
        new_version = 0 if prev is None else prev + 1
        table_paths = {} if prev is None else dict(self._manifest(prev)["tables"])

        for name, df in changed.items():
            table_paths[name] = self._write_base(
                df, name, new_version, sort_by, partitions
            )

        manifest = {
            "version": new_version,
            "tables": table_paths,
            "metadata": _stamped(metadata),
        }
        return self._publish(manifest, new_version)

    def _publish(self, manifest: dict, new_version: int) -> int:
        vdir = os.path.join(self.root, "_versions")
        os.makedirs(vdir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=vdir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        try:
            # link (not rename): publishing a version that already exists
            # fails loudly with FileExistsError instead of silently
            # clobbering a racing writer's commit
            os.link(tmp, self._manifest_path(new_version))  # the commit point
        finally:
            os.unlink(tmp)
        return new_version

    def _write_base(self, df, name, version, sort_by, partitions) -> str:
        """Write a whole-table base, range-sorted by its ``sort_by`` key
        when it has one (its pruning layout); returns its store-relative
        path."""
        rel = os.path.join("data", name, f"v{version}")
        write_sorted(df, os.path.join(self.root, rel), name, partitions,
                     sort_by or {})
        return rel

    def set_metadata(self, metadata: dict) -> int:
        """Metadata-only commit: republish the current table entries
        under a new version with the given metadata — e.g. recording
        the post-expand `timestamp` that the replication bootstrap
        (streaming/feedstate.py) later resolves to a seqnum."""
        prev = self.latest_version()
        if prev is None:
            raise ValueError("set_metadata on empty store")
        manifest = {
            "tables": self._manifest(prev)["tables"],
            "metadata": _stamped(metadata),
        }
        return self._publish(manifest, prev + 1)

    def merge_commit(
        self,
        merges: dict[str, MergeSpec],
        metadata: dict | None = None,
        sort_by: dict[str, str] | None = None,
        max_layers: int = 16,
        partitions: int = 8,
    ) -> int:
        """Publish one batch of per-table merges as delta layers — the
        O(|batch|)-write path (see module docstring). Every touched
        table gains one layer: `upserts` parquet + single-column
        `changed` key-set parquet, both batch-sized. A table whose
        layer count would exceed `max_layers` is compacted instead:
        its folded state is rewritten as a fresh sorted base (read
        amplification stays bounded; pruning layout restored). All
        tables + metadata publish in ONE manifest rename, preserving
        the reference's whole-txn atomicity.

        Per-table writes run on a thread pool: each write is a small
        independent Spark job (layers are batch-sized), so submitting
        them concurrently overlaps their fixed job-scheduling cost —
        the batch latency driver when a minutely diff touches all 8
        tables. Nothing is visible until the single manifest rename, so
        concurrency never weakens atomicity."""
        prev = self.latest_version()
        if prev is None:
            raise ValueError("merge_commit on empty store — bootstrap with commit()")
        new_version = prev + 1
        table_entries = dict(self._manifest(prev)["tables"])

        def write_one(name: str, spec: MergeSpec):
            entry = table_entries.get(name)
            if isinstance(entry, str):
                entry = {"base": entry, "key": spec.key, "layers": []}
            layers = list(entry.get("layers", []))
            if len(layers) + 1 > max_layers:
                # compact: fold the layers and this batch, as the
                # newest layer, into a new base
                upserts, changed = self._layer_scans(entry)
                folded = _fold(
                    self._read(entry["base"]),
                    upserts + [spec.upserts.withColumn("__layer", F.lit(new_version))],
                    changed + [spec.changed_keys.select(
                        F.col(spec.key).alias("__key"),
                        F.lit(new_version).alias("__by"),
                    )],
                    spec.key,
                )
                rel = self._write_base(
                    folded, name, new_version, sort_by, partitions
                )
                return name, {"base": rel, "key": spec.key, "layers": []}
            ldir = os.path.join("data", name, f"v{new_version}_layer")
            ups_rel = os.path.join(ldir, "upserts")
            chg_rel = os.path.join(ldir, "changed")
            # minutely diffs are tiny -> one file per layer keeps the
            # merge-on-read fold cheap
            spec.upserts.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.root, ups_rel)
            )
            spec.changed_keys.select(
                F.col(spec.key).alias("key")
            ).distinct().coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.root, chg_rel)
            )
            layers.append({"upserts": ups_rel, "changed": chg_rel})
            return name, {
                "base": entry["base"],
                "key": spec.key,
                "layers": layers,
            }

        from concurrent.futures import ThreadPoolExecutor

        if len(merges) > 1:
            with ThreadPoolExecutor(max_workers=min(8, len(merges))) as pool:
                results = list(pool.map(lambda kv: write_one(*kv), merges.items()))
        else:
            results = [write_one(name, spec) for name, spec in merges.items()]
        table_entries.update(dict(results))

        manifest = {
            "version": new_version,
            "tables": table_entries,
            "metadata": _stamped(metadata),
        }
        return self._publish(manifest, new_version)

    def optimize(
        self,
        tables: list[str] | None = None,
        sort_by: dict[str, str] | None = None,
        partitions: int = 8,
    ) -> int:
        """Compact merge-on-read tables back into sorted bases (the
        OPTIMIZE / ZORDER analog, SURVEY.md §2.6 U1). No-op entries are
        carried forward; publishes one new version."""
        prev = self.latest_version()
        entries = dict(self._manifest(prev)["tables"])
        new_version = prev + 1
        for name in tables or list(entries):
            entry = entries[name]
            if isinstance(entry, str) or not entry.get("layers"):
                continue
            rel = self._write_base(
                self._resolve(entry), name, new_version, sort_by, partitions
            )
            entries[name] = {"base": rel, "key": entry["key"], "layers": []}
        manifest = {
            "version": new_version,
            "tables": entries,
            "metadata": _stamped(
                self._manifest(prev)["metadata"], optimized=True
            ),
        }
        return self._publish(manifest, new_version)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        tables: dict[str, DataFrame],
        metadata: dict | None = None,
        sort_by: dict[str, str] | None = None,
    ) -> "SnapshotStore":
        store = cls(spark, root)
        if store.latest_version() is None:
            store.commit(tables, metadata=metadata, sort_by=sort_by)
        return store


# Merge keys: the column a batch's deletes/upserts target. Element
# tables merge by element id; edge tables merge by the OWNING side
# (a way upsert replaces all of that way's node_way rows —
# src/update.cpp:116-125), which differs from their read-pruning sort
# key (the node/member side).
MERGE_KEYS = {
    "locations": "id",
    "nodes": "id",
    "ways": "id",
    "relations": "id",
    "node_way": "way_id",
    "node_relation": "relation_id",
    "way_relation": "relation_id",
    "relation_relation": "relation_id",
}
