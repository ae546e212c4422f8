"""Deterministic OSM fixture generator (FIXTURES.md).

The reference ships no storage/extract/update tests (SURVEY.md §5), so
we synthesize the datasets its semantics demand: geographic hotspots +
uniform sprinkle, relation nesting chains (depth >= 3) and a diamond
for the fixpoint closure, a dangling way reference for the existence
check (`/root/reference/src/extract.cpp:253-255`), ways straddling
region boundaries for completion back-fill (`:264-274`), and points
near the antimeridian.

Pure-Python row construction (fixture sizes are tiny/small); everything
is seeded and reproducible. Parquet layout mirrors production: the
locations table is written sorted by cell so row-group pruning works.
"""

from __future__ import annotations

import datetime
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .spatial import cells

# (lon, lat) hotspot centers; last one hugs the antimeridian
HOTSPOTS = [(-73.99, 40.74), (2.35, 48.85), (139.70, 35.68), (179.95, 0.50)]
DANGLING_WAY_REF = 999_999_999

_TAG_POOL = [
    ("amenity", ["cafe", "school", "bench", "fuel"]),
    ("name", ["alpha", "beta", "gamma", "delta", "epsilon"]),
    ("height", ["3", "12", "25", "110"]),
    ("highway", ["residential", "primary", "footway"]),
    ("building", ["yes", "house", "tower"]),
]


def _interleave(tags: dict[str, str]) -> list[str]:
    """Tags as the reference's interleaved [k0,v0,k1,v1,...] list
    (include/osmx/util.h:28-40)."""
    out: list[str] = []
    for k, v in tags.items():
        out.extend((k, v))
    return out


def _meta(rng: random.Random, version: int):
    ts = datetime.datetime(
        2019 + rng.randrange(7), 1 + rng.randrange(12), 1 + rng.randrange(28),
        rng.randrange(24), rng.randrange(60), rng.randrange(60),
    )
    return (version, ts, rng.randrange(1, 10_000_000), rng.randrange(1, 100_000),
            f"user{rng.randrange(500)}")


def _rand_tags(rng: random.Random, min_n: int = 1) -> dict[str, str]:
    n = rng.randrange(min_n, 4)
    picks = rng.sample(_TAG_POOL, n) if n else []
    return {k: rng.choice(vs) for k, vs in picks}


def generate(n_nodes: int = 1200, seed: int = 42) -> dict[str, list]:
    """Build fixture rows (plain tuples keyed by TABLE_SCHEMAS order)."""
    rng = random.Random(seed)
    locations, nodes, ways, relations = [], [], [], []

    node_ids: list[int] = []
    node_cluster: dict[int, int] = {}
    coords: dict[int, tuple[int, int]] = {}
    for i in range(n_nodes):
        nid = i * 3 + 1  # non-dense ids
        if rng.random() < 0.8:
            c = rng.randrange(len(HOTSPOTS))
            lon0, lat0 = HOTSPOTS[c]
            lon = lon0 + rng.gauss(0, 0.4)
            lat = lat0 + rng.gauss(0, 0.4)
        else:
            c = -1
            lon = rng.uniform(-180, 180)
            lat = rng.uniform(-85, 85)
        lon = max(-180.0, min(180.0, lon))
        lat = max(-90.0, min(90.0, lat))
        lon_i, lat_i = int(round(lon * 1e7)), int(round(lat * 1e7))
        version = rng.randrange(1, 4)
        locations.append((nid, lon_i, lat_i, version, cells.cell_of(lon_i, lat_i)))
        node_ids.append(nid)
        node_cluster[nid] = c
        coords[nid] = (lon_i, lat_i)
        if rng.random() < 0.3:  # tagged subset only (ref src/expand.cpp:156)
            tags = _rand_tags(rng)
            nodes.append((nid, tags, _interleave(tags), _meta(rng, version)))

    by_cluster: dict[int, list[int]] = {}
    for nid in node_ids:
        by_cluster.setdefault(node_cluster[nid], []).append(nid)

    way_ids = []
    for i in range(max(4, n_nodes // 4)):
        wid = i * 2 + 1
        pool = by_cluster.get(rng.randrange(len(HOTSPOTS))) or node_ids
        n_refs = rng.randrange(2, min(13, len(pool) + 1))
        refs = rng.sample(pool, n_refs)
        if rng.random() < 0.3 and len(refs) >= 3:
            refs.append(refs[0])  # closed ring
        tags = _rand_tags(rng, min_n=0)
        ways.append((wid, refs, tags, _interleave(tags), _meta(rng, 1)))
        way_ids.append(wid)

    rel_rows = []
    rel_ids = []
    next_rel = 1

    def add_rel(members, tags):
        nonlocal next_rel
        rid = next_rel
        next_rel += 2
        rel_rows.append((rid, members, tags, _interleave(tags), _meta(rng, 1)))
        rel_ids.append(rid)
        return rid

    for _ in range(max(3, n_nodes // 40)):
        if rng.random() < 0.4:  # multipolygon (ref src/extract.cpp:249-250)
            ws = rng.sample(way_ids, min(3, len(way_ids)))
            members = [(w, "way", "outer" if j == 0 else "inner") for j, w in enumerate(ws)]
            add_rel(members, {"type": "multipolygon"})
        else:  # route with node + way members
            ns = rng.sample(node_ids, 2)
            ws = rng.sample(way_ids, 2)
            members = [(n, "node", "stop") for n in ns] + [(w, "way", "") for w in ws]
            add_rel(members, {"type": "route", "route": "bus"})

    # nesting chain of depth 3: r1 <- r2 <- r3 (ref closure src/extract.cpp:211-237)
    r1 = add_rel([(rng.choice(way_ids), "way", "outer")], {"type": "multipolygon"})
    r2 = add_rel([(r1, "relation", "sub")], {"type": "collection"})
    r3 = add_rel([(r2, "relation", "sub")], {"type": "collection"})
    # diamond: r_top contains r_a and r_b; both contain r_base
    r_base = add_rel([(rng.choice(node_ids), "node", "")], {"type": "collection"})
    r_a = add_rel([(r_base, "relation", "a")], {"type": "collection"})
    r_b = add_rel([(r_base, "relation", "b")], {"type": "collection"})
    add_rel([(r_a, "relation", ""), (r_b, "relation", "")], {"type": "collection"})
    # dangling way reference (ref src/extract.cpp:253-255)
    add_rel(
        [(DANGLING_WAY_REF, "way", "outer"), (rng.choice(way_ids), "way", "inner")],
        {"type": "multipolygon"},
    )
    _ = r3

    return {
        "locations": locations,
        "nodes": nodes,
        "ways": ways,
        "relations": rel_rows,
    }


def generate_changes(
    rows: dict[str, list], n_batches: int = 3, per_batch: int = 40, seed: int = 99
) -> list[list[tuple]]:
    """Synthetic OsmChange batches (FIXTURES.md `changes` spec): node
    moves (cell-changing and not), tag removal (tagged -> untagged,
    ref src/update.cpp:60-62), deletes, creates, way node-list edits,
    relation member edits, and a repeated id within one batch with
    increasing version (last-wins, augmented_diff.py:28-36).
    Returns one list of CHANGES_SCHEMA tuples per batch (seqnum = batch
    index + 1)."""
    rng = random.Random(seed)
    node_ids = [r[0] for r in rows["locations"]]
    tagged_ids = [r[0] for r in rows["nodes"]]
    way_rows = {w[0]: w for w in rows["ways"]}
    rel_rows = {r[0]: r for r in rows["relations"]}
    next_node = max(node_ids) + 1
    next_way = max(way_rows) + 1
    batches: list[list[tuple]] = []
    version = 100  # monotone, above fixture versions

    def meta(v):
        return (v, datetime.datetime(2026, 1, 1, 0, 0, v % 60), 1, 1, "updater")

    for b in range(n_batches):
        seq = b + 1
        batch: list[tuple] = []
        for _ in range(per_batch):
            version += 1
            kind = rng.random()
            if kind < 0.35 and node_ids:  # node move (some cross cells)
                nid = rng.choice(node_ids)
                big = rng.random() < 0.5
                dlon = rng.randrange(1, 10_000_000 if big else 50)
                lon = max(-1_800_000_000, min(1_800_000_000, dlon * 100 - 500_000))
                lat = rng.randrange(-900_000_000, 900_000_000)
                batch.append(("modify", "node", nid, True, lon, lat,
                              None, None, {"name": f"v{version}"}, meta(version)))
            elif kind < 0.45 and tagged_ids:  # tag removal
                nid = rng.choice(tagged_ids)
                lon = rng.randrange(-1_800_000_000, 1_800_000_000)
                lat = rng.randrange(-900_000_000, 900_000_000)
                batch.append(("modify", "node", nid, True, lon, lat,
                              None, None, {}, meta(version)))
            elif kind < 0.55 and node_ids:  # node delete
                nid = rng.choice(node_ids)
                batch.append(("delete", "node", nid, False, None, None,
                              None, None, None, meta(version)))
            elif kind < 0.65:  # node create
                nid = next_node
                next_node += 3
                node_ids.append(nid)
                batch.append(("create", "node", nid, True,
                              rng.randrange(-1_800_000_000, 1_800_000_000),
                              rng.randrange(-900_000_000, 900_000_000),
                              None, None, {"amenity": "new"}, meta(version)))
            elif kind < 0.80 and way_rows:  # way node-list edit
                wid = rng.choice(list(way_rows))
                refs = list(way_rows[wid][1])
                if refs and rng.random() < 0.5:
                    refs = refs[::-1]  # reorder
                refs = refs + [rng.choice(node_ids)]
                batch.append(("modify", "way", wid, True, None, None,
                              refs, None, {"highway": "edited"}, meta(version)))
            elif kind < 0.88 and way_rows:  # way create / delete
                if rng.random() < 0.5:
                    wid = next_way
                    next_way += 2
                    refs = rng.sample(node_ids, min(3, len(node_ids)))
                    batch.append(("create", "way", wid, True, None, None,
                                  refs, None, {"building": "yes"}, meta(version)))
                else:
                    wid = rng.choice(list(way_rows))
                    batch.append(("delete", "way", wid, False, None, None,
                                  None, None, None, meta(version)))
            elif rel_rows:  # relation member edit
                rid = rng.choice(list(rel_rows))
                members = [(rng.choice(node_ids), "node", "via"),
                           (rng.choice(list(way_rows)), "way", "outer")]
                batch.append(("modify", "relation", rid, True, None, None,
                              None, members, {"type": "multipolygon"}, meta(version)))
        # repeated id in one batch with increasing version: last wins
        if node_ids:
            nid = rng.choice(node_ids)
            version += 1
            batch.append(("modify", "node", nid, True, 10, 10, None, None,
                          {"name": "stale"}, meta(version)))
            version += 1
            batch.append(("modify", "node", nid, True, 20, 20, None, None,
                          {"name": "fresh"}, meta(version)))
        batches.append([(seq, *row) for row in batch])
    return batches


def to_dataframes(spark: SparkSession, rows: dict[str, list]) -> dict[str, DataFrame]:
    return {
        name: spark.createDataFrame(rows[name], schemas.TABLE_SCHEMAS[name])
        for name in rows
    }


def write_fixture_dataset(
    spark: SparkSession, path: str, n_nodes: int = 1200, seed: int = 42
) -> None:
    """Materialize a fixture dataset dir in the production layout:
    locations cell-sorted (the spatial-pruning contract), payload tables
    id-sorted."""
    from .store import write_sorted

    for name, df in to_dataframes(spark, generate(n_nodes=n_nodes, seed=seed)).items():
        write_sorted(df, os.path.join(path, name), name, 4 if name == "locations" else 2)


def ensure_fixture_dataset(
    spark: SparkSession,
    path: str,
    n_nodes: int = 1200,
    seed: int = 42,
    materialize_edges: bool = True,
) -> str:
    if not os.path.exists(os.path.join(path, "relations", "_SUCCESS")):
        write_fixture_dataset(spark, path, n_nodes=n_nodes, seed=seed)
    if materialize_edges and not os.path.exists(
        os.path.join(path, "node_way", "_SUCCESS")
    ):
        from .api import Dataset

        Dataset(spark, path).materialize_edges()
    return path
