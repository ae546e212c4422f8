"""OSM-domain driver-contract queries.

These exercise the reference-specific pipelines — spatial extract,
fixpoint closure, WKT assembly, point lookup — over the deterministic
fixture dataset (seeded; built lazily under .fixtures/).

All carry full DuckDB oracles (each `defq`'s `_oracle(...)`): the
fixture is pure-Python deterministic, so the first oracle asked for
writes an independent pyarrow copy of it, and each emits self-contained
SQL over `read_parquet`, with the (deterministic, driver-side) covering
ranges inlined as literal BETWEEN predicates, the super-relation
fixpoint expressed as a recursive CTE, and the relation-member descent
as a level-unrolled BFS carrying the operator's visited set. The
GeoJSON Feature text itself is pinned by tests/test_functions.py as a
deterministic serialization of the oracled leaves.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import functions as fn
from . import testing
from .api import Dataset
from .registry import defq
from .spatial import Region

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           ".fixtures", "osm_small")
FIXTURE_NODES = 5000

NYC_BBOX = "40.5,-74.3,41.0,-73.7"


def _dataset(spark: SparkSession) -> Dataset:
    testing.ensure_fixture_dataset(spark, FIXTURE_DIR, n_nodes=FIXTURE_NODES, seed=42)
    return Dataset(spark, FIXTURE_DIR)


def _oracle(sql: Callable[[str], str]) -> Callable[[], str]:
    """A registry oracle: ``sql(d)`` over the pyarrow fixture copy in
    ``d``, which is written on first use rather than at import."""
    return lambda: sql(_ensure_oracle_fixture())


@defq("osm_extract_bbox", _oracle(lambda d: f"""WITH RECURSIVE {_extract_ctes(d, exact=False)}
SELECT * FROM (
  SELECT 1 AS type_rank, 'node' AS type, id FROM node_all
  UNION ALL SELECT 2, 'way', id FROM way_all
  UNION ALL SELECT 3, 'relation', id FROM rel_closure
) ORDER BY type_rank, id"""))
def osm_extract_bbox(spark, sf_dir):
    """Flagship OSM pipeline: bbox extract -> typed ordered id output
    (extract.cpp:69-426; O3 ordering).  cache_ids: the output union
    references way_ids twice (node completion + its own branch), so
    the materialized-id-set path computes each id set once — the
    reference's in-RAM id-bitmap shape (extract.cpp:149-151)."""
    res = _dataset(spark).extract(Region(NYC_BBOX, "bbox"), cache_ids=True)
    out = (
        res.node_ids.select(F.lit(1).alias("type_rank"), F.lit("node").alias("type"), "id")
        .union(res.way_ids.select(F.lit(2), F.lit("way"), "id"))
        .union(res.relation_ids.select(F.lit(3), F.lit("relation"), "id"))
    )
    return out.orderBy("type_rank", "id")


@defq("osm_extract_exact", _oracle(lambda d: f"""WITH RECURSIVE {_extract_ctes(d, exact=True)}
SELECT id FROM node_all ORDER BY id"""))
def osm_extract_exact(spark, sf_dir):
    """Extract with the exact containment refinement (P5) the reference
    defines but never wires up (src/region.cpp:122-127)."""
    res = _dataset(spark).extract(Region(NYC_BBOX, "bbox"), exact=True)
    return res.node_ids.orderBy("id")


@defq("osm_way_wkt", _oracle(lambda d: f"""WITH RECURSIVE {_extract_ctes(d, exact=False)},
verts AS (
  SELECT id AS way_id, unnest(nodes) AS node_id,
         generate_subscripts(nodes, 1) AS pos
  FROM ways WHERE id IN (SELECT id FROM way_all)
),
pts AS (
  SELECT v.way_id, v.pos, l.lon, l.lat
  FROM verts v JOIN locations l ON v.node_id = l.id
)
SELECT way_id AS id,
       'LINESTRING (' || string_agg({_COORD_SQL}, ', ' ORDER BY pos) || ')' AS wkt
FROM pts GROUP BY way_id ORDER BY id"""))
def osm_way_wkt(spark, sf_dir):
    """G6: WKT LineString assembly for every way in a bbox extract
    (examples/way_wkt.cpp:34-43)."""
    res = _dataset(spark).extract(Region(NYC_BBOX, "bbox"))
    return fn.way_linestrings(res.ways, res.locations).orderBy("id")


@defq("osm_lookup", _oracle(lambda d: f"""WITH ways AS (SELECT * FROM read_parquet('{d}/ways.parquet'))
SELECT id, CAST(len(nodes) AS INTEGER) AS n_nodes,
       CAST(len(tags_kv) AS INTEGER) AS n_tag_kv
FROM ways WHERE id = (SELECT min(id) FROM ways)"""))
def osm_lookup(spark, sf_dir):
    """S3: point lookup of one way (src/cmd.cpp:61-73)."""
    ds = _dataset(spark)
    wid = ds.ways().agg(F.min("id")).collect()[0][0]
    return ds.lookup("way", wid).select(
        "id", F.size("nodes").alias("n_nodes"), F.size("tags_kv").alias("n_tag_kv")
    )


@defq("osm_stats", _oracle(lambda d: f"""SELECT * FROM (
  SELECT 0 AS rank, 'locations' AS tbl,
         (SELECT count(*) FROM read_parquet('{d}/locations.parquet')) AS n
  UNION ALL SELECT 1, 'nodes', (SELECT count(*) FROM read_parquet('{d}/nodes.parquet'))
  UNION ALL SELECT 2, 'ways', (SELECT count(*) FROM read_parquet('{d}/ways.parquet'))
  UNION ALL SELECT 3, 'relations',
         (SELECT count(*) FROM read_parquet('{d}/relations.parquet'))
) ORDER BY rank"""))
def osm_stats(spark, sf_dir):
    """S6: per-table cardinality report (src/cmd.cpp:96-109)."""
    ds = _dataset(spark)
    out = None
    for i, name in enumerate(("locations", "nodes", "ways", "relations")):
        row = ds.table(name).agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(i).alias("rank"), F.lit(name).alias("tbl"), "n"
        )
        out = row if out is None else out.union(row)
    return out.orderBy("rank")


@defq("osm_augmented_diff", _oracle(lambda d: _augdiff_oracle_sql(d)))
def osm_augmented_diff(spark, sf_dir):
    """U6 capstone: classify a deterministic OsmChange batch against the
    fixture snapshot and propagate node moves to parent ways/relations
    (python/examples/augmented_diff.py:17-305). Oracled via
    _augdiff_oracle_sql (replaying classification + propagation
    relationally over the fixture copy); the semantics are ALSO
    golden-tested in tests/test_streaming_diff.py."""
    from .operators.diff import augmented_diff

    ds = _dataset(spark)
    fx_rows = testing.generate(n_nodes=FIXTURE_NODES, seed=42)
    batch = testing.generate_changes(fx_rows, n_batches=1, per_batch=40)[0]
    changes = spark.createDataFrame(batch, testing.schemas.CHANGES_SCHEMA)
    return augmented_diff(ds.tables(), changes).orderBy("type", "id")


# --- DuckDB oracles over an independent fixture copy ----------------------
ORACLE_FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".fixtures", "osm_small_oracle",
)


def _ensure_oracle_fixture() -> str:
    """Write a pyarrow copy of the fixture tables (same generate() rows,
    seed 42) so the oracle SQL never depends on the Spark-written files
    or on driver evaluation order. Values are identical by construction;
    only the columns the oracles read are materialized."""
    # marker keyed to schema rev + generation params: changing either
    # regenerates instead of silently serving stale rows
    done = os.path.join(ORACLE_FIXTURE_DIR, f"_DONE_v3_{FIXTURE_NODES}_42")
    if os.path.exists(done):
        return ORACLE_FIXTURE_DIR
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = testing.generate(n_nodes=FIXTURE_NODES, seed=42)
    os.makedirs(ORACLE_FIXTURE_DIR, exist_ok=True)

    loc = rows["locations"]
    pq.write_table(
        pa.table(
            {
                "id": pa.array([r[0] for r in loc], pa.int64()),
                "lon": pa.array([r[1] for r in loc], pa.int32()),
                "lat": pa.array([r[2] for r in loc], pa.int32()),
                "version": pa.array([r[3] for r in loc], pa.int32()),
                "cell": pa.array([r[4] for r in loc], pa.int64()),
            }
        ),
        os.path.join(ORACLE_FIXTURE_DIR, "locations.parquet"),
    )
    nd = rows["nodes"]
    pq.write_table(
        pa.table(
            {
                "id": pa.array([r[0] for r in nd], pa.int64()),
                "tags_kv": pa.array([r[2] for r in nd], pa.list_(pa.string())),
                "muser": pa.array([r[3][4] for r in nd], pa.string()),
                "mts": pa.array([r[3][1] for r in nd],
                                pa.timestamp("us")),
            }
        ),
        os.path.join(ORACLE_FIXTURE_DIR, "nodes.parquet"),
    )
    wy = rows["ways"]
    pq.write_table(
        pa.table(
            {
                "id": pa.array([r[0] for r in wy], pa.int64()),
                "nodes": pa.array([r[1] for r in wy], pa.list_(pa.int64())),
                "tags_kv": pa.array([r[3] for r in wy], pa.list_(pa.string())),
                "mversion": pa.array([r[4][0] for r in wy], pa.int32()),
                "muser": pa.array([r[4][4] for r in wy], pa.string()),
                "mts": pa.array([r[4][1] for r in wy], pa.timestamp("us")),
            }
        ),
        os.path.join(ORACLE_FIXTURE_DIR, "ways.parquet"),
    )
    rl = rows["relations"]
    member_t = pa.list_(
        pa.struct([("ref", pa.int64()), ("type", pa.string()), ("role", pa.string())])
    )
    pq.write_table(
        pa.table(
            {
                "id": pa.array([r[0] for r in rl], pa.int64()),
                "members": pa.array(
                    [
                        [{"ref": m[0], "type": m[1], "role": m[2]} for m in r[1]]
                        for r in rl
                    ],
                    member_t,
                ),
                "tags_kv": pa.array([r[3] for r in rl], pa.list_(pa.string())),
                "mversion": pa.array([r[4][0] for r in rl], pa.int32()),
                "muser": pa.array([r[4][4] for r in rl], pa.string()),
                "mts": pa.array([r[4][1] for r in rl], pa.timestamp("us")),
            }
        ),
        os.path.join(ORACLE_FIXTURE_DIR, "relations.parquet"),
    )
    with open(done, "w") as f:
        f.write("ok\n")
    return ORACLE_FIXTURE_DIR


def _cell_pred(exact: bool) -> str:
    """The covering ranges extract() pushes to the scan, as literal
    BETWEEN terms (deterministic pure-Python planning — same code path
    the Spark query runs), plus the exact half-open bbox containment
    (ray-casting on an axis-aligned rect reduces to lat in [min,max) and
    lon in [min,max), float math identical to Region.contains)."""
    from .spatial import cover

    ranges = cover(Region(NYC_BBOX, "bbox"))
    pred = " OR ".join(f"(cell BETWEEN {a} AND {b})" for a, b in ranges)
    min_lat, min_lon, max_lat, max_lon = (float(x) for x in NYC_BBOX.split(","))
    if exact:
        pred = (
            f"({pred}) AND (lat / 10000000.0) >= {min_lat!r} "
            f"AND (lat / 10000000.0) < {max_lat!r} "
            f"AND (lon / 10000000.0) >= {min_lon!r} "
            f"AND (lon / 10000000.0) < {max_lon!r}"
        )
    return pred


def _extract_ctes(d: str, exact: bool) -> str:
    """The extract pipeline (operators/extract.py steps 2-7) as CTEs:
    covering seeds -> node->way -> node/way->relation -> recursive
    rel->rel closure -> multipolygon completion with existence check ->
    way-completion node back-fill."""
    return f"""
locations AS (SELECT * FROM read_parquet('{d}/locations.parquet')),
ways AS (SELECT * FROM read_parquet('{d}/ways.parquet')),
relations AS (SELECT * FROM read_parquet('{d}/relations.parquet')),
seeds AS (SELECT id FROM locations WHERE {_cell_pred(exact)}),
way_edges AS (SELECT unnest(nodes) AS node_id, id AS way_id FROM ways),
way_hits AS (
  SELECT DISTINCT way_id AS id FROM way_edges JOIN seeds ON way_edges.node_id = seeds.id
),
medges AS (
  SELECT id AS relation_id, struct_extract(unnest(members), 'ref') AS ref,
         struct_extract(unnest(members), 'type') AS mtype
  FROM relations
),
rel_seeds AS (
  SELECT DISTINCT id FROM (
    SELECT relation_id AS id FROM medges JOIN seeds
      ON medges.mtype = 'node' AND medges.ref = seeds.id
    UNION ALL
    SELECT relation_id AS id FROM medges JOIN way_hits
      ON medges.mtype = 'way' AND medges.ref = way_hits.id
  )
),
rel_rel AS (SELECT ref AS child_id, relation_id FROM medges WHERE mtype = 'relation'),
rel_closure AS (
  SELECT id FROM rel_seeds
  UNION
  SELECT rel_rel.relation_id AS id FROM rel_closure JOIN rel_rel
    ON rel_rel.child_id = rel_closure.id
),
mp_rels AS (
  SELECT id FROM relations
  WHERE id IN (SELECT id FROM rel_closure)
    AND list_position(tags_kv, 'type') IS NOT NULL
    AND tags_kv[list_position(tags_kv, 'type') + 1] = 'multipolygon'
),
mp_ways AS (
  SELECT DISTINCT ref AS id FROM medges
  WHERE relation_id IN (SELECT id FROM mp_rels) AND mtype = 'way'
    AND ref IN (SELECT id FROM ways)
),
way_all AS (
  -- DISTINCT wrapper: DuckDB 1.0 evaluates UNION as UNION ALL for
  -- non-recursive CTEs inside a WITH RECURSIVE block
  SELECT DISTINCT id FROM (
    SELECT id FROM way_hits UNION ALL SELECT id FROM mp_ways
  )
),
node_all AS (
  SELECT DISTINCT id FROM (
    SELECT id FROM seeds
    UNION ALL
    SELECT node_id AS id FROM way_edges JOIN way_all ON way_edges.way_id = way_all.id
  )
)"""


def _fmt_coord_sql(col: str) -> str:
    """Exact mirror of functions._fmt_coord: sign + integer part + '.' +
    zero-padded 7-digit fraction, built from the scaled int."""
    a = f"abs(CAST({col} AS BIGINT))"
    return (
        f"(CASE WHEN {col} < 0 THEN '-' ELSE '' END || "
        f"CAST({a} // 10000000 AS VARCHAR) || '.' || "
        f"lpad(CAST({a} % 10000000 AS VARCHAR), 7, '0'))"
    )


_COORD_SQL = f"{_fmt_coord_sql('lon')} || ' ' || {_fmt_coord_sql('lat')}"


def _augdiff_oracle_sql(d: str) -> str:
    """The full U6 augmented diff as one SQL statement: the change
    batch inlined as VALUES (deterministic generate_changes output),
    last-wins dedup, 3-way classification, indirect parent propagation
    via the snapshot reverse indexes, old/new node positions, and
    per-way old/new member bboxes — mirroring operators/diff.py branch
    for branch (reference python/examples/augmented_diff.py:48-342)."""
    fx_rows = testing.generate(n_nodes=FIXTURE_NODES, seed=42)
    batch = testing.generate_changes(fx_rows, n_batches=1, per_batch=40)[0]
    vals = []
    for (seq, action, typ, id_, vis, lon, lat, nodes, _members, _tags, meta) in batch:
        nodes_sql = (
            "CAST(NULL AS BIGINT[])" if nodes is None
            else "[" + ",".join(str(n) for n in nodes) + "]"
        )
        vals.append(
            f"({seq},'{action}','{typ}',{id_},{'TRUE' if vis else 'FALSE'},"
            f"{lon if lon is not None else 'CAST(NULL AS INTEGER)'},"
            f"{lat if lat is not None else 'CAST(NULL AS INTEGER)'},"
            f"{nodes_sql},{meta[0]})"
        )
    values = ",\n      ".join(vals)
    bbox_null = ", ".join(
        f"CAST(NULL AS INTEGER) AS {c}"
        for c in ("old_minlon", "old_minlat", "old_maxlon", "old_maxlat",
                  "new_minlon", "new_minlat", "new_maxlon", "new_maxlat")
    )
    return f"""
    WITH locations AS (SELECT * FROM read_parquet('{d}/locations.parquet')),
    ways AS (SELECT * FROM read_parquet('{d}/ways.parquet')),
    relations AS (SELECT * FROM read_parquet('{d}/relations.parquet')),
    chgraw(seqnum, action, type, id, visible, lon, lat, nodes, version) AS (
      VALUES {values}
    ),
    chg AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY type, id ORDER BY version DESC, seqnum DESC) AS rn
        FROM chgraw
      ) WHERE rn = 1
    ),
    medges AS (
      SELECT id AS relation_id, struct_extract(unnest(members), 'ref') AS ref,
             struct_extract(unnest(members), 'type') AS mtype
      FROM relations
    ),
    nw AS (SELECT DISTINCT unnest(nodes) AS node_id, id AS way_id FROM ways),
    nrel AS (SELECT DISTINCT ref AS node_id, relation_id FROM medges WHERE mtype = 'node'),
    wrel AS (SELECT DISTINCT ref AS way_id, relation_id FROM medges WHERE mtype = 'way'),
    dn AS (
      SELECT 'node' AS type, c.id,
             CASE WHEN NOT c.visible THEN
                    CASE WHEN l.id IS NULL THEN 'delete_not_in_db' ELSE 'delete' END
                  WHEN l.id IS NULL THEN 'create' ELSE 'modify' END AS action,
             TRUE AS direct, l.version AS old_version,
             CAST(c.version AS INTEGER) AS new_version
      FROM (SELECT * FROM chg WHERE type = 'node') c LEFT JOIN locations l ON c.id = l.id
    ),
    dw AS (
      SELECT 'way' AS type, c.id,
             CASE WHEN NOT c.visible THEN
                    CASE WHEN w.id IS NULL THEN 'delete_not_in_db' ELSE 'delete' END
                  WHEN w.id IS NULL THEN 'create' ELSE 'modify' END AS action,
             TRUE AS direct, w.mversion AS old_version,
             CAST(c.version AS INTEGER) AS new_version
      FROM (SELECT * FROM chg WHERE type = 'way') c LEFT JOIN ways w ON c.id = w.id
    ),
    dr AS (
      SELECT 'relation' AS type, c.id,
             CASE WHEN NOT c.visible THEN
                    CASE WHEN r.id IS NULL THEN 'delete_not_in_db' ELSE 'delete' END
                  WHEN r.id IS NULL THEN 'create' ELSE 'modify' END AS action,
             TRUE AS direct, r.mversion AS old_version,
             CAST(c.version AS INTEGER) AS new_version
      FROM (SELECT * FROM chg WHERE type = 'relation') c LEFT JOIN relations r ON c.id = r.id
    ),
    chg_nodes AS (SELECT id FROM chg WHERE type = 'node'),
    chg_way_ids AS (SELECT id FROM chg WHERE type = 'way'),
    chg_rel_ids AS (SELECT id FROM chg WHERE type = 'relation'),
    parent_ways AS (
      SELECT DISTINCT way_id AS id FROM nw JOIN chg_nodes ON nw.node_id = chg_nodes.id
      WHERE way_id NOT IN (SELECT id FROM chg_way_ids)
    ),
    touched_ways AS (
      SELECT DISTINCT id FROM (
        SELECT id FROM chg_way_ids UNION ALL SELECT id FROM parent_ways)
    ),
    parent_rels AS (
      SELECT DISTINCT id FROM (
        SELECT relation_id AS id FROM nrel JOIN chg_nodes ON nrel.node_id = chg_nodes.id
        UNION ALL
        SELECT relation_id AS id FROM wrel JOIN touched_ways ON wrel.way_id = touched_ways.id
      ) WHERE id NOT IN (SELECT id FROM chg_rel_ids)
    ),
    iw AS (
      SELECT 'way' AS type, id, 'modify' AS action, FALSE AS direct,
             CAST(NULL AS INTEGER) AS old_version, CAST(NULL AS INTEGER) AS new_version
      FROM parent_ways WHERE id IN (SELECT id FROM ways)
    ),
    ir AS (
      SELECT 'relation' AS type, id, 'modify' AS action, FALSE AS direct,
             CAST(NULL AS INTEGER) AS old_version, CAST(NULL AS INTEGER) AS new_version
      FROM parent_rels WHERE id IN (SELECT id FROM relations)
    ),
    out0 AS (
      SELECT * FROM dn UNION ALL SELECT * FROM dw UNION ALL SELECT * FROM dr
      UNION ALL SELECT * FROM iw UNION ALL SELECT * FROM ir
    ),
    pos AS (
      SELECT o.type, o.id, o.action, o.direct, o.old_version, o.new_version,
             CASE WHEN o.type = 'node' THEN l.lon END AS old_lon,
             CASE WHEN o.type = 'node' THEN l.lat END AS old_lat,
             CASE WHEN o.type = 'node' THEN c2.lon END AS new_lon,
             CASE WHEN o.type = 'node' THEN c2.lat END AS new_lat
      FROM out0 o
      LEFT JOIN locations l ON o.id = l.id
      LEFT JOIN (SELECT id, lon, lat FROM chg WHERE type = 'node' AND visible) c2
        ON o.id = c2.id
    ),
    wrows AS (SELECT * FROM pos WHERE type = 'way'),
    old_bbox AS (
      SELECT way_id, min(l.lon) AS old_minlon, min(l.lat) AS old_minlat,
             max(l.lon) AS old_maxlon, max(l.lat) AS old_maxlat
      FROM nw JOIN locations l ON nw.node_id = l.id
      WHERE way_id IN (SELECT id FROM wrows) GROUP BY way_id
    ),
    new_loc AS (
      SELECT id, lon, lat FROM locations
      WHERE id NOT IN (SELECT id FROM chg WHERE type = 'node')
      UNION ALL
      SELECT id, lon, lat FROM chg WHERE type = 'node' AND visible
    ),
    wchg AS (SELECT id, nodes FROM chg
             WHERE type = 'way' AND visible AND nodes IS NOT NULL),
    new_edges AS (
      SELECT id AS way_id, unnest(nodes) AS node_id FROM wchg
      UNION ALL
      SELECT way_id, node_id FROM nw WHERE way_id NOT IN (SELECT id FROM wchg)
    ),
    new_bbox AS (
      SELECT way_id, min(nl.lon) AS new_minlon, min(nl.lat) AS new_minlat,
             max(nl.lon) AS new_maxlon, max(nl.lat) AS new_maxlat
      FROM new_edges JOIN new_loc nl ON new_edges.node_id = nl.id
      WHERE way_id IN (SELECT id FROM wrows) GROUP BY way_id
    ),
    final_ways AS (
      SELECT w.type, w.id, w.action, w.direct, w.old_version, w.new_version,
             w.old_lon, w.old_lat, w.new_lon, w.new_lat,
             ob.old_minlon, ob.old_minlat, ob.old_maxlon, ob.old_maxlat,
             CASE WHEN w.action NOT LIKE 'delete%' THEN nb.new_minlon END AS new_minlon,
             CASE WHEN w.action NOT LIKE 'delete%' THEN nb.new_minlat END AS new_minlat,
             CASE WHEN w.action NOT LIKE 'delete%' THEN nb.new_maxlon END AS new_maxlon,
             CASE WHEN w.action NOT LIKE 'delete%' THEN nb.new_maxlat END AS new_maxlat
      FROM wrows w
      LEFT JOIN old_bbox ob ON w.id = ob.way_id
      LEFT JOIN new_bbox nb ON w.id = nb.way_id
    ),
    final_others AS (
      SELECT type, id, action, direct, old_version, new_version,
             old_lon, old_lat, new_lon, new_lat, {bbox_null}
      FROM pos WHERE type != 'way'
    )
    SELECT * FROM (
      SELECT * FROM final_ways UNION ALL SELECT * FROM final_others
    ) ORDER BY type, id
    """



RADIUS_PAIRS = 100000  # deg*1e7 units ~ 0.01 degrees ~ 1.1 km


@defq("osm_radius_pairs", _oracle(lambda d: f"""
WITH locations AS (SELECT * FROM read_parquet('{d}/locations.parquet')),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         least(abs(CAST(b.lon AS BIGINT) - a.lon), {RADIUS_PAIRS}) AS dx,
         least(abs(CAST(b.lat AS BIGINT) - a.lat), {RADIUS_PAIRS}) AS dy,
         abs(CAST(b.lon AS BIGINT) - a.lon) AS adx,
         abs(CAST(b.lat AS BIGINT) - a.lat) AS ady
  FROM locations a JOIN locations b ON a.id < b.id
)
SELECT id_a, id_b, CAST(dx*dx + dy*dy AS BIGINT) AS d2
FROM cand
WHERE adx <= {RADIUS_PAIRS} AND ady <= {RADIUS_PAIRS}
  AND dx*dx + dy*dy <= CAST({RADIUS_PAIRS} AS BIGINT) * {RADIUS_PAIRS}"""))
def osm_radius_pairs(spark, sf_dir):
    """Proximity self-join over the fixture nodes (operators/
    spatial_join.py:radius_pairs): every pair within ~1.1 km planar
    distance, via the grid-bucket join (bucket side = radius, 3x3
    probe neighborhood) instead of the O(n^2) cross join the oracle
    runs. The spatial analog of the LSH-bucketed near-dup joins."""
    from .operators.spatial_join import radius_pairs

    ds = _dataset(spark)
    return radius_pairs(ds.table("locations"), RADIUS_PAIRS)


@defq("osm_nearest_neighbors", _oracle(lambda d: f"""
WITH locations AS (SELECT * FROM read_parquet('{d}/locations.parquet')),
cand AS (
  SELECT a.id AS id, b.id AS neighbor_id,
         least(abs(CAST(b.lon AS BIGINT) - a.lon), {RADIUS_PAIRS}) AS dx,
         least(abs(CAST(b.lat AS BIGINT) - a.lat), {RADIUS_PAIRS}) AS dy,
         abs(CAST(b.lon AS BIGINT) - a.lon) AS adx,
         abs(CAST(b.lat AS BIGINT) - a.lat) AS ady
  FROM locations a JOIN locations b ON a.id != b.id
),
inr AS (
  SELECT id, neighbor_id, CAST(dx*dx + dy*dy AS BIGINT) AS d2
  FROM cand
  WHERE adx <= {RADIUS_PAIRS} AND ady <= {RADIUS_PAIRS}
    AND dx*dx + dy*dy <= CAST({RADIUS_PAIRS} AS BIGINT) * {RADIUS_PAIRS}
)
SELECT id, neighbor_id, d2, nn_rank FROM (
  SELECT id, neighbor_id, d2,
         CAST(row_number() OVER (
           PARTITION BY id ORDER BY d2, neighbor_id) AS INTEGER) AS nn_rank
  FROM inr
) WHERE nn_rank <= 3"""))
def osm_nearest_neighbors(spark, sf_dir):
    """Radius-bounded kNN join over the fixture nodes (spatial_join.py:
    nearest_neighbors): each node's 3 closest neighbors within ~1.1 km,
    exact integer distances, rank ties on neighbor id."""
    from .operators.spatial_join import nearest_neighbors

    ds = _dataset(spark)
    return nearest_neighbors(ds.table("locations"), k=3, radius=RADIUS_PAIRS)


@defq("osm_way_lengths", _oracle(lambda d: f"""
WITH ways AS (SELECT * FROM read_parquet('{d}/ways.parquet')),
locations AS (SELECT * FROM read_parquet('{d}/locations.parquet')),
verts AS (
  SELECT id AS way_id, unnest(nodes) AS node_id,
         generate_subscripts(nodes, 1) AS pos
  FROM ways
),
pts AS (
  SELECT v.way_id, v.pos, l.lon, l.lat
  FROM verts v JOIN locations l ON v.node_id = l.id
),
ordered AS (
  SELECT way_id, list({{'lon': lon, 'lat': lat}} ORDER BY pos) AS ps
  FROM pts GROUP BY way_id
),
segs AS (
  SELECT way_id, CAST(len(ps) - 1 AS INTEGER) AS n_segments,
         list_transform(range(len(ps) - 1), i ->
           CAST(round(sqrt(
             (CAST(ps[i+2].lon AS DOUBLE) - ps[i+1].lon)
             * (CAST(ps[i+2].lon AS DOUBLE) - ps[i+1].lon)
             + (CAST(ps[i+2].lat AS DOUBLE) - ps[i+1].lat)
             * (CAST(ps[i+2].lat AS DOUBLE) - ps[i+1].lat)) * 1e6, 0)
           AS BIGINT)) AS seg
  FROM ordered
)
SELECT way_id AS id, n_segments,
       CAST(COALESCE(list_sum(seg), 0) AS BIGINT) AS length_micro
FROM segs"""))
def osm_way_lengths(spark, sf_dir):
    """Per-way planar polyline length (functions/__init__.py:
    way_lengths): segment lengths round to integer micro-units BEFORE
    summing, so totals are exact BIGINTs regardless of partition fold
    order."""
    from . import functions as fn

    ds = _dataset(spark)
    return fn.way_lengths(ds.table("ways"), ds.table("locations"))


TILE_ZOOM = 8


@defq("osm_tile_counts", _oracle(lambda d: f"""
WITH locations AS (SELECT * FROM read_parquet('{d}/locations.parquet')),
t AS (
  SELECT
    greatest(0, least(CAST(floor((CAST(lon AS DOUBLE)/1e7/360.0e0 + 0.5e0)
                         * {1 << TILE_ZOOM}) AS BIGINT), {(1 << TILE_ZOOM) - 1}))
      AS tile_x,
    greatest(0, least(CAST(floor((0.5e0 -
        ln(tan(radians(greatest(-85.05112877980659e0,
              least(CAST(lat AS DOUBLE)/1e7, 85.05112877980659e0))))
           + 1.0e0/cos(radians(greatest(-85.05112877980659e0,
              least(CAST(lat AS DOUBLE)/1e7, 85.05112877980659e0)))))
        / (2.0e0 * 3.141592653589793e0)) * {1 << TILE_ZOOM}) AS BIGINT),
        {(1 << TILE_ZOOM) - 1}))
      AS tile_y
  FROM locations
)
SELECT tile_x, tile_y, CAST(count(*) AS BIGINT) AS n_nodes
FROM t GROUP BY tile_x, tile_y"""))
def osm_tile_counts(spark, sf_dir):
    """Slippy-map tile census (spatial/cells.py:tile_xy): node count
    per web-mercator z8 tile — the partitioning key of every tile
    render/serve pipeline, as one scan + one map-side-combined
    aggregate."""
    from .spatial.cells import tile_xy

    ds = _dataset(spark)
    locs = ds.table("locations")
    tx, ty = tile_xy(F.col("lon"), F.col("lat"), TILE_ZOOM)
    return (
        locs.select(tx.alias("tile_x"), ty.alias("tile_y"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


@defq("osm_user_edit_stats", _oracle(lambda d: f"""
WITH el AS (
  SELECT muser AS "user", 'node' AS type, mts AS ts
  FROM read_parquet('{d}/nodes.parquet')
  UNION ALL
  SELECT muser, 'way', mts FROM read_parquet('{d}/ways.parquet')
  UNION ALL
  SELECT muser, 'relation', mts FROM read_parquet('{d}/relations.parquet')
)
SELECT "user", type, CAST(count(*) AS BIGINT) AS n_elements,
       strftime(max(ts), '%Y-%m-%dT%H:%M:%S') AS latest_edit
FROM el GROUP BY "user", type"""))
def osm_user_edit_stats(spark, sf_dir):
    """Contributor analytics (the OSMCha/taginfo-style workload): per
    user, how many tagged elements of each type they last touched and
    their newest edit timestamp — one union scan over the three
    payload tables + one map-side-combined aggregate."""
    ds = _dataset(spark)
    out = None
    for tname, typ in (("nodes", "node"), ("ways", "way"),
                       ("relations", "relation")):
        rows = ds.table(tname).select(
            F.col("metadata.user").alias("user"),
            F.lit(typ).alias("type"),
            F.col("metadata.timestamp").alias("ts"),
        )
        out = rows if out is None else out.unionByName(rows)
    return (
        out.groupBy("user", "type")
        .agg(
            F.count(F.lit(1)).alias("n_elements"),
            F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss")
            .alias("latest_edit"),
        )
    )

_WAY_GRAPH_SQL = """e0 AS (
  SELECT DISTINCT node_id, way_id FROM (
    SELECT unnest(nodes) AS node_id, id AS way_id
    FROM read_parquet('{d}/ways.parquet')
  )
),
pairs AS (
  SELECT a.way_id AS wa, b.way_id AS wb
  FROM e0 a JOIN e0 b ON a.node_id = b.node_id AND a.way_id < b.way_id
  GROUP BY a.way_id, b.way_id
),
ge AS (
  SELECT wa AS src, wb AS dst FROM pairs
  UNION ALL SELECT wb, wa FROM pairs
)"""


@defq("osm_relation_geojson", _oracle(lambda d: f"""
-- level-unrolled BFS with a per-root visited set: mirrors
-- relation_member_leaves EXACTLY (a (root, relation) pair is
-- descended only at its first-reached level; within-level
-- duplicates both descend). Plain WITH RECURSIVE would
-- re-descend pairs re-reached at deeper levels and diverge on
-- asymmetric-depth member sharing. Unroll depth 6 >= fixture
-- nesting; completeness asserted in tests/test_functions.py.
WITH rels AS (SELECT * FROM read_parquet('{d}/relations.parquet')),
memp AS (
  SELECT id AS rel_id,
         struct_extract(unnest(members), 'type') AS mtype,
         struct_extract(unnest(members), 'ref') AS ref,
         generate_subscripts(members, 1) - 1 AS pos
  FROM rels
),
f0 AS (SELECT id AS root, id AS rel_id, CAST('' AS VARCHAR) AS path FROM rels),
s0 AS (SELECT root, rel_id FROM f0),
x0 AS (
  SELECT f.root, m.mtype, m.ref,
         CASE WHEN f.path = '' THEN CAST(m.pos AS VARCHAR)
              ELSE f.path || '/' || CAST(m.pos AS VARCHAR) END AS path
  FROM f0 f JOIN memp m ON m.rel_id = f.rel_id
),
f1 AS (
  SELECT x.root, x.ref AS rel_id, x.path FROM x0 x
  WHERE x.mtype = 'relation' AND NOT EXISTS (
    SELECT 1 FROM s0 s WHERE s.root = x.root AND s.rel_id = x.ref)
),
s1 AS (SELECT * FROM s0 UNION SELECT root, rel_id FROM f1),
x1 AS (
  SELECT f.root, m.mtype, m.ref,
         CASE WHEN f.path = '' THEN CAST(m.pos AS VARCHAR)
              ELSE f.path || '/' || CAST(m.pos AS VARCHAR) END AS path
  FROM f1 f JOIN memp m ON m.rel_id = f.rel_id
),
f2 AS (
  SELECT x.root, x.ref AS rel_id, x.path FROM x1 x
  WHERE x.mtype = 'relation' AND NOT EXISTS (
    SELECT 1 FROM s1 s WHERE s.root = x.root AND s.rel_id = x.ref)
),
s2 AS (SELECT * FROM s1 UNION SELECT root, rel_id FROM f2),
x2 AS (
  SELECT f.root, m.mtype, m.ref,
         CASE WHEN f.path = '' THEN CAST(m.pos AS VARCHAR)
              ELSE f.path || '/' || CAST(m.pos AS VARCHAR) END AS path
  FROM f2 f JOIN memp m ON m.rel_id = f.rel_id
),
f3 AS (
  SELECT x.root, x.ref AS rel_id, x.path FROM x2 x
  WHERE x.mtype = 'relation' AND NOT EXISTS (
    SELECT 1 FROM s2 s WHERE s.root = x.root AND s.rel_id = x.ref)
),
s3 AS (SELECT * FROM s2 UNION SELECT root, rel_id FROM f3),
x3 AS (
  SELECT f.root, m.mtype, m.ref,
         CASE WHEN f.path = '' THEN CAST(m.pos AS VARCHAR)
              ELSE f.path || '/' || CAST(m.pos AS VARCHAR) END AS path
  FROM f3 f JOIN memp m ON m.rel_id = f.rel_id
),
f4 AS (
  SELECT x.root, x.ref AS rel_id, x.path FROM x3 x
  WHERE x.mtype = 'relation' AND NOT EXISTS (
    SELECT 1 FROM s3 s WHERE s.root = x.root AND s.rel_id = x.ref)
),
s4 AS (SELECT * FROM s3 UNION SELECT root, rel_id FROM f4),
x4 AS (
  SELECT f.root, m.mtype, m.ref,
         CASE WHEN f.path = '' THEN CAST(m.pos AS VARCHAR)
              ELSE f.path || '/' || CAST(m.pos AS VARCHAR) END AS path
  FROM f4 f JOIN memp m ON m.rel_id = f.rel_id
),
f5 AS (
  SELECT x.root, x.ref AS rel_id, x.path FROM x4 x
  WHERE x.mtype = 'relation' AND NOT EXISTS (
    SELECT 1 FROM s4 s WHERE s.root = x.root AND s.rel_id = x.ref)
),
s5 AS (SELECT * FROM s4 UNION SELECT root, rel_id FROM f5),
x5 AS (
  SELECT f.root, m.mtype, m.ref,
         CASE WHEN f.path = '' THEN CAST(m.pos AS VARCHAR)
              ELSE f.path || '/' || CAST(m.pos AS VARCHAR) END AS path
  FROM f5 f JOIN memp m ON m.rel_id = f.rel_id
)
SELECT root AS id, path, mtype, ref FROM x0 WHERE mtype <> 'relation'
UNION ALL
SELECT root, path, mtype, ref FROM x1 WHERE mtype <> 'relation'
UNION ALL
SELECT root, path, mtype, ref FROM x2 WHERE mtype <> 'relation'
UNION ALL
SELECT root, path, mtype, ref FROM x3 WHERE mtype <> 'relation'
UNION ALL
SELECT root, path, mtype, ref FROM x4 WHERE mtype <> 'relation'
UNION ALL
SELECT root, path, mtype, ref FROM x5 WHERE mtype <> 'relation'
ORDER BY id, path"""))
def osm_relation_geojson(spark, sf_dir):
    """G7: the recursive member descent behind relation GeoJSON
    assembly (python/examples/web_server.py:52-71), distributed as a
    bounded-depth reverse-membership fixpoint.

    Driver contract: the descent core — (root id, member-index path,
    leaf type, leaf ref) for every relation root — which is the part of
    the pipeline that is actual query logic. The oracle is a
    level-unrolled BFS carrying the operator's per-root visited set
    (NOT plain WITH RECURSIVE, which would re-descend a relation
    re-reached at a deeper level and diverge on asymmetric-depth
    member sharing); the unroll depth exceeds the fixture's nesting,
    asserted in tests/test_functions.py. The JSON
    Feature text on top is asserted in tests/test_functions.py to be a
    deterministic serialization of exactly these leaves, so the oracle
    transitively pins the full `relation_geojson` output."""
    ds = _dataset(spark)
    rels = ds.relations()
    leaves = fn.relation_member_leaves(rels, rels.select("id"))
    return leaves.select(
        F.col("root").alias("id"),
        F.array_join(
            F.transform("path", lambda x: x.cast("string")), "/"
        ).alias("path"),
        "mtype",
        "ref",
    ).orderBy("id", "path")


@defq("osm_tag_stats", _oracle(lambda d: f"""
WITH el AS (
  SELECT 'node' AS type, tags_kv FROM read_parquet('{d}/nodes.parquet')
  UNION ALL
  SELECT 'way', tags_kv FROM read_parquet('{d}/ways.parquet')
  UNION ALL
  SELECT 'relation', tags_kv FROM read_parquet('{d}/relations.parquet')
),
kv AS (
  SELECT type, tags_kv[2*i+1] AS key, tags_kv[2*i+2] AS value
  FROM el, unnest(range(len(tags_kv) // 2)) AS u(i)
)
SELECT type, key, value, CAST(count(*) AS BIGINT) AS n
FROM kv GROUP BY type, key, value"""))
def osm_tag_stats(spark, sf_dir):
    """Taginfo-style key/value census over all three element types
    (the reference's tag inventory workload; taginfo.openstreetmap.org
    is the canonical consumer): one union scan of the payload tables,
    one explode of the tag map, one map-side-combined aggregate."""
    ds = _dataset(spark)
    out = None
    for tname, typ in (("nodes", "node"), ("ways", "way"),
                       ("relations", "relation")):
        rows = ds.table(tname).select(
            F.lit(typ).alias("type"),
            F.explode("tags").alias("key", "value"),
        )
        out = rows if out is None else out.unionByName(rows)
    return out.groupBy("type", "key", "value").agg(
        F.count(F.lit(1)).alias("n")
    )


@defq("osm_way_areas", _oracle(lambda d: f"""
WITH wa AS (
  SELECT id, nodes FROM read_parquet('{d}/ways.parquet')
  WHERE len(nodes) >= 4 AND nodes[1] = nodes[len(nodes)]
),
wv AS (
  SELECT id, unnest(nodes) AS node_id,
         generate_subscripts(nodes, 1) AS pos
  FROM wa
),
wp AS (
  SELECT wv.id, wv.pos, l.lon, l.lat
  FROM wv JOIN read_parquet('{d}/locations.parquet') l ON wv.node_id = l.id
),
wl AS (
  SELECT id,
         list(struct_pack(pos := pos, lon := lon, lat := lat)
              ORDER BY pos) AS pts
  FROM wp GROUP BY id
)
SELECT id, CAST(len(pts) AS INTEGER) AS n_vertices,
       CAST(COALESCE(list_sum(list_transform(range(len(pts) - 1), i ->
         (CAST(pts[i+1].lon AS BIGINT) - pts[1].lon)
           * (CAST(pts[i+2].lat AS BIGINT) - pts[1].lat)
         - (CAST(pts[i+2].lon AS BIGINT) - pts[1].lon)
           * (CAST(pts[i+1].lat AS BIGINT) - pts[1].lat))), 0)
         AS BIGINT) AS area2
FROM wl"""))
def osm_way_areas(spark, sf_dir):
    """Closed-ring shoelace areas (functions/__init__.py:way_areas):
    exact signed integer 2A per closed way, translated to the first
    vertex so products never overflow — the measurement step under
    multipolygon pipelines."""
    ds = _dataset(spark)
    return fn.way_areas(ds.table("ways"), ds.table("locations"))


@defq("osm_way_intersections", _oracle(lambda d: f"""
WITH e AS (
  SELECT DISTINCT node_id, way_id FROM (
    SELECT unnest(nodes) AS node_id, id AS way_id
    FROM read_parquet('{d}/ways.parquet')
  )
)
SELECT a.way_id AS way_a, b.way_id AS way_b,
       CAST(count(*) AS BIGINT) AS n_shared_nodes
FROM e a JOIN e b ON a.node_id = b.node_id AND a.way_id < b.way_id
GROUP BY a.way_id, b.way_id"""))
def osm_way_intersections(spark, sf_dir):
    """Topological way-intersection pairs over the node_way edge table
    (operators/spatial_join.py:way_intersections): the routing-graph
    junction-candidate join as an inverted-index self-join, not
    all-pairs."""
    from .operators.spatial_join import way_intersections

    ds = _dataset(spark)
    return way_intersections(ds.table("node_way"))


@defq("osm_integrity_audit", _oracle(lambda d: f"""
WITH locs AS (SELECT id FROM read_parquet('{d}/locations.parquet')),
wayt AS (SELECT id, nodes FROM read_parquet('{d}/ways.parquet')),
relt AS (SELECT id, members FROM read_parquet('{d}/relations.parquet')),
wrefs AS (SELECT unnest(nodes) AS ref FROM wayt),
mem AS (
  SELECT struct_extract(unnest(members), 'type') AS mtype,
         struct_extract(unnest(members), 'ref') AS ref
  FROM relt
)
SELECT 'way_node' AS category, CAST(count(*) AS BIGINT) AS n_refs,
       CAST(sum(CASE WHEN l.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dangling
FROM wrefs r LEFT JOIN locs l ON r.ref = l.id
UNION ALL
SELECT 'relation_node', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM (SELECT ref FROM mem WHERE mtype = 'node') r
LEFT JOIN locs l ON r.ref = l.id
UNION ALL
SELECT 'relation_way', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN w.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM (SELECT ref FROM mem WHERE mtype = 'way') r
LEFT JOIN wayt w ON r.ref = w.id
UNION ALL
SELECT 'relation_relation', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN t.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM (SELECT ref FROM mem WHERE mtype = 'relation') r
LEFT JOIN relt t ON r.ref = t.id"""))
def osm_integrity_audit(spark, sf_dir):
    """Referential-integrity census (operators/audit.py): dangling
    reference counts per category — the QA report the reference's
    extract silently works around (src/extract.cpp:253-255)."""
    from .operators.audit import integrity_audit

    ds = _dataset(spark)
    return integrity_audit(
        ds.table("locations"), ds.table("ways"), ds.relations()
    )


def _way_graph(spark) -> DataFrame:
    """Symmetric directed edge list of the fixture's way-intersection
    graph (both orientations of each junction pair)."""
    from .operators.spatial_join import way_intersections

    ds = _dataset(spark)
    pairs = way_intersections(ds.table("node_way")).select("way_a", "way_b")
    return pairs.select(
        F.col("way_a").alias("src"), F.col("way_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("way_b").alias("src"), F.col("way_a").alias("dst"))
    )


@defq("osm_pagerank", _oracle(lambda d: f"""
WITH {_WAY_GRAPH_SQL.format(d=d)},
deg AS (SELECT src, count(*) AS deg FROM ge GROUP BY src),
verts AS (SELECT DISTINCT src AS id FROM ge),
pr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM verts),
c1 AS (
  SELECT ge.dst AS id, CAST(sum(pr0.pr // deg.deg) AS BIGINT) AS s
  FROM ge JOIN pr0 ON ge.src = pr0.id JOIN deg ON ge.src = deg.src
  GROUP BY ge.dst
),
pr1 AS (
  SELECT v.id, CAST(150000 + (17 * COALESCE(c1.s, 0)) // 20 AS BIGINT) AS pr
  FROM verts v LEFT JOIN c1 ON v.id = c1.id
),
c2 AS (
  SELECT ge.dst AS id, CAST(sum(pr1.pr // deg.deg) AS BIGINT) AS s
  FROM ge JOIN pr1 ON ge.src = pr1.id JOIN deg ON ge.src = deg.src
  GROUP BY ge.dst
),
pr2 AS (
  SELECT v.id, CAST(150000 + (17 * COALESCE(c2.s, 0)) // 20 AS BIGINT) AS pr
  FROM verts v LEFT JOIN c2 ON v.id = c2.id
)
SELECT id, pr AS pr_micro FROM pr2"""))
def osm_pagerank(spark, sf_dir):
    """Integer-exact PageRank over the way-intersection graph
    (operators/graph.py:pagerank_micro, 2 damped power iterations):
    junction-importance ranking with pure-BIGINT state, so the oracle
    unrolls the same arithmetic bit-for-bit."""
    from .operators.graph import pagerank_micro

    return pagerank_micro(_way_graph(spark), iterations=2)


@defq("osm_triangle_count", _oracle(lambda d: f"""
WITH {_WAY_GRAPH_SQL.format(d=d)}
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM pairs x
JOIN pairs y ON x.wb = y.wa
JOIN pairs z ON z.wa = x.wa AND z.wb = y.wb"""))
def osm_triangle_count(spark, sf_dir):
    """Triangle census of the way-intersection graph (operators/
    graph.py:triangle_count): rank-oriented wedge join + closing
    semi-join — the clustering-coefficient numerator without a graph
    library."""
    from .operators.graph import triangle_count
    from .operators.spatial_join import way_intersections

    ds = _dataset(spark)
    pairs = way_intersections(ds.table("node_way"))
    return triangle_count(pairs, "way_a", "way_b")
