"""Driver-contract queries for the UPDATE/DIFF path (U1-U4, P4, A5,
U6) and the cell codec (G2), each paired with a full DuckDB oracle.

Round 1 left the whole update pipeline validated only by repo tests:
the driver's correctness gate never saw `apply_changes`,
`augmented_diff`, or the Morton cell codec because they run on OSM
fixture data the oracle harness can't read. These queries close that
gap by deriving deterministic OSM-SHAPED frames from the driver's own
TPC-H-ish parquet tables (customer -> node locations, lineitem ->
ways + node_way edges, orders -> a change batch with replays and
deletes), running the REAL operators on them, and replicating the
semantics in ANSI SQL:

- q_update_node_merge   — last-wins replay dedup (A5), visibility
  tombstones (P4), anti-join+union merge (U1/U4)
  (ref src/update.cpp:70-111: node upsert/delete inside one txn)
- q_update_way_edges    — way upsert with incremental node_way
  reverse-index maintenance (U2; ref src/update.cpp:116-125)
- q_augmented_diff_analog — full U6: classify create/modify/delete
  vs snapshot, indirect parent-way propagation, old/new node
  positions, per-way old/new bboxes
  (ref python/examples/augmented_diff.py:48-342)
- q_point_to_cell       — G2 Morton cell id, bit-for-bit vs a pure
  SQL re-implementation of the spread/interleave
  (ref src/expand.cpp:151-153 cell_node indexing)

Derivation constants are chosen so every path is exercised: node
changes replay (several orders per custkey), ~1/5 are deletes, some
target unknown ids (create + delete_not_in_db), way changes cover
half the base ways plus brand-new ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .operators.diff import augmented_diff
from .operators.update import apply_changes
from .queries import t
from .registry import defq
from .spatial import cells

# --------------------------------------------------------------------------
# Deterministic OSM-shaped frames from the driver's tables. Coordinates
# are scaled-int32 (degrees x 1e7) like the real schema; the multipliers
# are primes so points scatter across cells. All arithmetic is integer
# and written identically in Spark and SQL.

_LON_EXPR = "CAST((CAST({k} AS BIGINT) * 7919) % 3600000000 - 1800000000 AS INTEGER)"
_LAT_EXPR = "CAST((CAST({k} AS BIGINT) * 104729) % 1800000000 - 900000000 AS INTEGER)"


def _lon(k) -> F.Column:
    return ((F.col(k).cast("long") * 7919) % 3600000000 - 1800000000).cast("int")


def _lat(k) -> F.Column:
    return ((F.col(k).cast("long") * 104729) % 1800000000 - 900000000).cast("int")


def _meta(version) -> F.Column:
    return F.struct(
        version.cast("int").alias("version"),
        F.lit(None).cast("timestamp").alias("timestamp"),
        F.lit(0).cast("long").alias("changeset"),
        F.lit(0).cast("long").alias("uid"),
        F.lit("").alias("user"),
    )


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def _base_locations(spark, sf_dir) -> DataFrame:
    """customer -> LOCATIONS (id, lon, lat, version=1, cell)."""
    return t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
        F.lit(1).cast("int").alias("version"),
        cells.cell_col(_lon("c_custkey"), _lat("c_custkey")).alias("cell"),
    )


def _node_changes(spark, sf_dir) -> DataFrame:
    """orders -> node change batch: several changes per custkey (replay,
    exercises last-wins), ~1/5 deletes, ids beyond the customer range
    exercise create/delete_not_in_db."""
    return t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 3 == 0).select(
        F.lit("node").alias("type"),
        F.col("o_custkey").cast("long").alias("id"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("delete"))
        .otherwise(F.lit("modify"))
        .alias("action"),
        (F.col("o_orderkey") % 5 != 0).alias("visible"),
        _meta(F.col("o_orderkey") % 100 + 2).alias("metadata"),
        F.col("o_orderkey").cast("long").alias("seqnum"),
        _lon("o_orderkey").alias("lon"),
        _lat("o_orderkey").alias("lat"),
        F.lit(None).cast(schemas.TAGS_TYPE).alias("tags"),
        F.lit(None).cast("array<bigint>").alias("nodes"),
        F.lit(None)
        .cast("array<struct<ref:bigint,type:string,role:string>>")
        .alias("members"),
    )


_NODE_CHG_SQL = f"""
    SELECT o_custkey AS id,
           (o_orderkey % 5 <> 0) AS visible,
           CAST(o_orderkey % 100 + 2 AS INTEGER) AS version,
           o_orderkey AS seqnum,
           {_LON_EXPR.format(k="o_orderkey")} AS lon,
           {_LAT_EXPR.format(k="o_orderkey")} AS lat
    FROM orders WHERE o_orderkey % 3 = 0
"""

_NODE_LAST_SQL = f"""
    SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                   ORDER BY version DESC, seqnum DESC) AS rn
      FROM ({_NODE_CHG_SQL})
    ) WHERE rn = 1
"""


def _base_ways(spark, sf_dir) -> DataFrame:
    """lineitem (l_orderkey % 10 == 1) -> WAYS: nodes = partkeys in
    linenumber order."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 10 == 1)
    return (
        li.groupBy(F.col("l_orderkey").cast("long").alias("id"))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("l_linenumber").alias("ln"),
                            F.col("l_partkey").cast("long").alias("pk"),
                        )
                    )
                ),
                lambda s: s["pk"],
            ).alias("nodes")
        )
        .select(
            "id",
            "nodes",
            F.lit(None).cast(schemas.TAGS_TYPE).alias("tags"),
            F.lit(None).cast("array<string>").alias("tags_kv"),
            _meta(F.lit(1)).alias("metadata"),
        )
    )


def _way_changes(spark, sf_dir) -> DataFrame:
    """Way change batch: half the base ways (l_orderkey % 20 == 1) plus
    new ids (% 10 == 7); 1/2 of the % 40 == 1 slice are deletes; new
    member list = partkeys with l_linenumber <= 3."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_orderkey") % 20 == 1) | (F.col("l_orderkey") % 10 == 7)
    )
    return (
        li.groupBy(F.col("l_orderkey").cast("long").alias("id"))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("l_linenumber") <= 3,
                            F.struct(
                                F.col("l_linenumber").alias("ln"),
                                F.col("l_partkey").cast("long").alias("pk"),
                            ),
                        )
                    )
                ),
                lambda s: s["pk"],
            ).alias("nodes")
        )
        .select(
            F.lit("way").alias("type"),
            "id",
            F.when(F.col("id") % 40 == 1, F.lit("delete"))
            .otherwise(F.lit("modify"))
            .alias("action"),
            (F.col("id") % 40 != 1).alias("visible"),
            _meta(F.lit(2)).alias("metadata"),
            F.col("id").alias("seqnum"),
            F.lit(None).cast("int").alias("lon"),
            F.lit(None).cast("int").alias("lat"),
            F.lit(None).cast(schemas.TAGS_TYPE).alias("tags"),
            "nodes",
            F.lit(None)
            .cast("array<struct<ref:bigint,type:string,role:string>>")
            .alias("members"),
        )
    )


_BASE_EDGES_SQL = """
    SELECT DISTINCT CAST(l_partkey AS BIGINT) AS node_id,
                    CAST(l_orderkey AS BIGINT) AS way_id
    FROM lineitem WHERE l_orderkey % 10 = 1
"""

_WAY_CHG_SQL = """
    SELECT CAST(l_orderkey AS BIGINT) AS way_id,
           (l_orderkey % 40 <> 1) AS visible
    FROM lineitem
    WHERE l_orderkey % 20 = 1 OR l_orderkey % 10 = 7
    GROUP BY l_orderkey
"""

_NEW_EDGES_SQL = f"""
    SELECT DISTINCT CAST(l.l_partkey AS BIGINT) AS node_id,
                    CAST(l.l_orderkey AS BIGINT) AS way_id
    FROM lineitem l JOIN ({_WAY_CHG_SQL}) c ON CAST(l.l_orderkey AS BIGINT) = c.way_id
    WHERE c.visible AND l.l_linenumber <= 3
"""


# --------------------------------------------------------------------------
# U1/U4/A5/P4 — node merge through the real apply_changes.
@defq(
    "q_update_node_merge",
    f"""
    WITH base AS (
      SELECT c_custkey AS id,
             {_LON_EXPR.format(k="c_custkey")} AS lon,
             {_LAT_EXPR.format(k="c_custkey")} AS lat,
             CAST(1 AS INTEGER) AS version
      FROM customer
    ),
    last AS ({_NODE_LAST_SQL})
    SELECT CAST(id AS BIGINT) AS id, lon, lat, version
    FROM base WHERE id NOT IN (SELECT id FROM last)
    UNION ALL
    SELECT CAST(id AS BIGINT) AS id, lon, lat, version
    FROM last WHERE visible
    """,
)
def q_update_node_merge(spark, sf_dir):
    """One OsmChange batch applied to the locations table: last-wins
    replay dedup, delete tombstones, anti-join+union merge — the exact
    operator the replication loop commits (operators/update.py:95)."""
    tables = {
        "locations": _base_locations(spark, sf_dir),
        "nodes": _empty(spark, schemas.NODES_SCHEMA),
        "ways": _empty(spark, schemas.WAYS_SCHEMA),
        "relations": _empty(spark, schemas.RELATIONS_SCHEMA),
    }
    res = apply_changes(tables, _node_changes(spark, sf_dir), with_edges=False)
    return res.tables["locations"].select("id", "lon", "lat", "version")


# --------------------------------------------------------------------------
# U2 — way upsert + incremental node_way reverse-index maintenance.
@defq(
    "q_update_way_edges",
    f"""
    WITH chgw AS ({_WAY_CHG_SQL}),
    base_edges AS ({_BASE_EDGES_SQL}),
    new_edges AS ({_NEW_EDGES_SQL})
    SELECT node_id, way_id FROM base_edges
    WHERE way_id NOT IN (SELECT way_id FROM chgw)
    UNION ALL
    SELECT node_id, way_id FROM new_edges
    """,
)
def q_update_way_edges(spark, sf_dir):
    """Way change batch against a base node_way index: deleted ways'
    edges vanish, upserted ways' edges are recomputed from the new
    member arrays alone — O(|batch|), never touching unchanged ways
    (operators/update.py:188, ref src/update.cpp:116-125)."""
    from .operators import edges as edges_mod

    base_ways = _base_ways(spark, sf_dir)
    tables = {
        "locations": _empty(spark, schemas.LOCATIONS_SCHEMA),
        "nodes": _empty(spark, schemas.NODES_SCHEMA),
        "ways": base_ways,
        "relations": _empty(spark, schemas.RELATIONS_SCHEMA),
        "node_way": edges_mod.node_way(base_ways),
    }
    res = apply_changes(tables, _way_changes(spark, sf_dir), with_edges=True)
    return res.tables["node_way"].select("node_id", "way_id")


# --------------------------------------------------------------------------
# U6 — the full augmented diff on the synthetic frames.
@defq(
    "q_augmented_diff_analog",
    f"""
    WITH base AS (
      SELECT CAST(c_custkey AS BIGINT) AS id,
             {_LON_EXPR.format(k="c_custkey")} AS lon,
             {_LAT_EXPR.format(k="c_custkey")} AS lat,
             CAST(1 AS INTEGER) AS version
      FROM customer
    ),
    node_last AS ({_NODE_LAST_SQL}),
    base_ways AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS id
                  FROM lineitem WHERE l_orderkey % 10 = 1),
    base_edges AS ({_BASE_EDGES_SQL}),
    chgw AS ({_WAY_CHG_SQL}),
    direct_nodes AS (
      SELECT 'node' AS type, CAST(c.id AS BIGINT) AS id,
             CASE WHEN NOT c.visible THEN
                    CASE WHEN b.id IS NULL THEN 'delete_not_in_db'
                         ELSE 'delete' END
                  WHEN b.id IS NULL THEN 'create'
                  ELSE 'modify' END AS action,
             TRUE AS direct,
             b.version AS old_version, c.version AS new_version
      FROM node_last c LEFT JOIN base b ON c.id = b.id
    ),
    direct_ways AS (
      SELECT 'way' AS type, c.way_id AS id,
             CASE WHEN NOT c.visible THEN
                    CASE WHEN b.id IS NULL THEN 'delete_not_in_db'
                         ELSE 'delete' END
                  WHEN b.id IS NULL THEN 'create'
                  ELSE 'modify' END AS action,
             TRUE AS direct,
             CASE WHEN b.id IS NULL THEN NULL
                  ELSE CAST(1 AS INTEGER) END AS old_version,
             CAST(2 AS INTEGER) AS new_version
      FROM chgw c LEFT JOIN base_ways b ON c.way_id = b.id
    ),
    indirect_ways AS (
      SELECT DISTINCT 'way' AS type, e.way_id AS id,
             'modify' AS action, FALSE AS direct,
             CAST(NULL AS INTEGER) AS old_version,
             CAST(NULL AS INTEGER) AS new_version
      FROM base_edges e
      WHERE e.node_id IN (SELECT id FROM node_last)
        AND e.way_id NOT IN (SELECT way_id FROM chgw)
    ),
    out1 AS (
      SELECT * FROM direct_nodes
      UNION ALL SELECT * FROM direct_ways
      UNION ALL SELECT * FROM indirect_ways
    ),
    out2 AS (
      SELECT o.type, o.id, o.action, o.direct, o.old_version, o.new_version,
             CASE WHEN o.type = 'node' THEN op.lon END AS old_lon,
             CASE WHEN o.type = 'node' THEN op.lat END AS old_lat,
             CASE WHEN o.type = 'node' THEN np.lon END AS new_lon,
             CASE WHEN o.type = 'node' THEN np.lat END AS new_lat
      FROM out1 o
      LEFT JOIN base op ON o.id = op.id
      LEFT JOIN (SELECT id, lon, lat FROM node_last WHERE visible) np
        ON o.id = np.id
    ),
    touched AS (SELECT id FROM out2 WHERE type = 'way'),
    old_bbox AS (
      SELECT e.way_id,
             MIN(p.lon) AS old_minlon, MIN(p.lat) AS old_minlat,
             MAX(p.lon) AS old_maxlon, MAX(p.lat) AS old_maxlat
      FROM base_edges e JOIN base p ON e.node_id = p.id
      WHERE e.way_id IN (SELECT id FROM touched)
      GROUP BY e.way_id
    ),
    new_loc AS (
      SELECT id, lon, lat FROM base
      WHERE id NOT IN (SELECT id FROM node_last)
      UNION ALL
      SELECT id, lon, lat FROM node_last WHERE visible
    ),
    visible_chg_edges AS ({_NEW_EDGES_SQL}),
    new_edges AS (
      SELECT node_id, way_id FROM visible_chg_edges
      UNION ALL
      SELECT node_id, way_id FROM base_edges
      WHERE way_id NOT IN (SELECT way_id FROM chgw WHERE visible)
    ),
    new_bbox AS (
      SELECT e.way_id,
             MIN(p.lon) AS new_minlon, MIN(p.lat) AS new_minlat,
             MAX(p.lon) AS new_maxlon, MAX(p.lat) AS new_maxlat
      FROM new_edges e JOIN new_loc p ON e.node_id = p.id
      WHERE e.way_id IN (SELECT id FROM touched)
      GROUP BY e.way_id
    )
    SELECT o.type, o.id, o.action, o.direct, o.old_version, o.new_version,
           o.old_lon, o.old_lat, o.new_lon, o.new_lat,
           CASE WHEN o.type = 'way' THEN ob.old_minlon END AS old_minlon,
           CASE WHEN o.type = 'way' THEN ob.old_minlat END AS old_minlat,
           CASE WHEN o.type = 'way' THEN ob.old_maxlon END AS old_maxlon,
           CASE WHEN o.type = 'way' THEN ob.old_maxlat END AS old_maxlat,
           CASE WHEN o.type = 'way' AND o.action NOT LIKE 'delete%'
                THEN nb.new_minlon END AS new_minlon,
           CASE WHEN o.type = 'way' AND o.action NOT LIKE 'delete%'
                THEN nb.new_minlat END AS new_minlat,
           CASE WHEN o.type = 'way' AND o.action NOT LIKE 'delete%'
                THEN nb.new_maxlon END AS new_maxlon,
           CASE WHEN o.type = 'way' AND o.action NOT LIKE 'delete%'
                THEN nb.new_maxlat END AS new_maxlat
    FROM out2 o
    LEFT JOIN old_bbox ob ON o.id = ob.way_id
    LEFT JOIN new_bbox nb ON o.id = nb.way_id
    """,
)
def q_augmented_diff_analog(spark, sf_dir):
    """The reference's most analytic pipeline, end-to-end on oracled
    frames: classify vs snapshot (J4), indirect parent propagation
    (J1), old/new node positions, per-way old/new member bboxes (A4)
    — augmented_diff.py:48-342 re-expressed on driver-checkable data
    (operators/diff.py:33)."""
    # Materialize the synthetic snapshot once: in real usage these are
    # parquet-backed store tables, not inline groupBy derivations — the
    # diff references ways/node_way in several branches, and without a
    # cut each branch would re-run the lineitem aggregation (and JIT a
    # copy of it).
    from concurrent.futures import ThreadPoolExecutor

    from .operators import edges as edges_mod

    # the three materialization jobs are independent except node_way ->
    # ways; overlap ways+locations, then node_way (each job alone
    # leaves most of the cluster idle at batch sizes)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_ways = pool.submit(
            lambda: _base_ways(spark, sf_dir).localCheckpoint(eager=True)
        )
        f_locs = pool.submit(
            lambda: _base_locations(spark, sf_dir).localCheckpoint(eager=True)
        )
        ways = f_ways.result()
        locations = f_locs.result()
    tables = {
        "locations": locations,
        "nodes": _empty(spark, schemas.NODES_SCHEMA),
        "ways": ways,
        "relations": _empty(spark, schemas.RELATIONS_SCHEMA),
        "node_way": edges_mod.node_way(ways).localCheckpoint(eager=True),
    }
    changes = _node_changes(spark, sf_dir).unionByName(
        _way_changes(spark, sf_dir)
    )
    return augmented_diff(tables, changes)


# --------------------------------------------------------------------------
# G2 — Morton cell codec vs a pure-SQL spread/interleave.
@defq(
    "q_point_to_cell",
    f"""
    WITH pts AS (
      SELECT CAST(c_custkey AS BIGINT) AS id,
             {_LON_EXPR.format(k="c_custkey")} AS lon,
             {_LAT_EXPR.format(k="c_custkey")} AS lat
      FROM customer
    ),
    g AS (
      SELECT id, lon, lat,
             (CAST(lon AS BIGINT) + 1800000000 << 16) // 3600000001 AS ix,
             (CAST(lat AS BIGINT) + 900000000 << 16) // 1800000001 AS iy
      FROM pts
    ),
    s1 AS (SELECT id, lon, lat,
                  (ix | (ix << 8)) & 16711935 AS ix,
                  (iy | (iy << 8)) & 16711935 AS iy FROM g),
    s2 AS (SELECT id, lon, lat,
                  (ix | (ix << 4)) & 252645135 AS ix,
                  (iy | (iy << 4)) & 252645135 AS iy FROM s1),
    s3 AS (SELECT id, lon, lat,
                  (ix | (ix << 2)) & 858993459 AS ix,
                  (iy | (iy << 2)) & 858993459 AS iy FROM s2),
    s4 AS (SELECT id, lon, lat,
                  (ix | (ix << 1)) & 1431655765 AS ix,
                  (iy | (iy << 1)) & 1431655765 AS iy FROM s3)
    SELECT id, lon, lat, CAST(ix | (iy << 1) AS BIGINT) AS cell FROM s4
    """,
)
def q_point_to_cell(spark, sf_dir):
    """G2: the level-16 Morton cell id column expression, cross-checked
    bit-for-bit against an independent SQL implementation of the
    spread/interleave (spatial/cells.py:79; ref src/expand.cpp:151-153,
    include/osmx/util.h:9)."""
    return t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
        cells.cell_col(_lon("c_custkey"), _lat("c_custkey")).alias("cell"),
    )


# --------------------------------------------------------------------------
# G6 — WKT LineString assembly, hash-checked (was rows-only via the OSM
# fixture). The oracle re-implements the exact fixed-7-decimal
# coordinate text from the scaled int (functions/__init__.py:_fmt_coord;
# ref examples/way_wkt.cpp:40) and the vertex-order-preserving
# reassembly as an ordered string_agg.
def _fmt_coord_sql(col: str) -> str:
    return (
        f"(CASE WHEN {col} < 0 THEN '-' ELSE '' END"
        f" || CAST(abs(CAST({col} AS BIGINT)) // 10000000 AS VARCHAR)"
        f" || '.'"
        f" || lpad(CAST(abs(CAST({col} AS BIGINT)) % 10000000 AS VARCHAR),"
        f" 7, '0'))"
    )


@defq(
    "q_way_wkt_analog",
    f"""
    WITH v AS (
      SELECT CAST(l_orderkey AS BIGINT) AS way_id, l_linenumber AS pos,
             l_partkey AS node_id
      FROM lineitem WHERE l_orderkey % 10 = 1
    ), loc AS (
      SELECT p_partkey AS node_id,
             {_LON_EXPR.format(k="p_partkey")} AS lon,
             {_LAT_EXPR.format(k="p_partkey")} AS lat
      FROM part
    ), pts AS (
      SELECT v.way_id, v.pos, v.node_id, loc.lon, loc.lat
      FROM v JOIN loc USING (node_id)
    )
    SELECT way_id AS id,
           'LINESTRING (' || string_agg(
               {_fmt_coord_sql('lon')} || ' ' || {_fmt_coord_sql('lat')},
               ', ' ORDER BY pos, node_id) || ')' AS wkt
    FROM pts GROUP BY way_id
    """,
)
def q_way_wkt_analog(spark, sf_dir):
    """G6 through the real assembly operator (functions/
    way_linestrings: posexplode -> narrow locations join -> ordered
    reassembly) on derived frames where every member node resolves —
    the WKT strings, including the exact coordinate formatting, are
    value-checked against SQL."""
    from . import functions as fns

    ways = _base_ways(spark, sf_dir)
    locs = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        _lon("p_partkey").alias("lon"),
        _lat("p_partkey").alias("lat"),
    )
    return fns.way_linestrings(ways, locs).select("id", "wkt")


# --------------------------------------------------------------------------
# G7 — the recursive member descent behind relation GeoJSON assembly,
# hash-checked. The derived relation graph is a tree (nation -> level-1
# relations holding node/way members; region -> level-2 super-relations
# holding the level-1s), so the operator's visited-set BFS equals plain
# recursion and a WITH RECURSIVE oracle reproduces it exactly. The
# checked output is the descent core — (root, member-index path, leaf
# type, leaf ref) — the part of web_server.py:52-71 that is actual
# query logic; the JSON text assembly on top is golden-tested in
# tests/test_functions.py.
@defq(
    "q_relation_descent_analog",
    """
    WITH RECURSIVE wids AS (
      SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS wid
      FROM lineitem WHERE l_orderkey % 10 = 1
    ), mem AS (
      SELECT CAST(s_nationkey + 9000 AS BIGINT) AS rel_id,
             'node' AS mtype, CAST(s_suppkey AS BIGINT) AS ref
      FROM supplier
      UNION ALL
      SELECT CAST((wid % 25) + 9000 AS BIGINT), 'way', wid FROM wids
      UNION ALL
      SELECT CAST(n_regionkey + 9100 AS BIGINT), 'relation',
             CAST(n_nationkey + 9000 AS BIGINT)
      FROM nation
    ), memp AS (
      SELECT rel_id, mtype, ref,
             CAST(ROW_NUMBER() OVER (PARTITION BY rel_id
                                     ORDER BY mtype, ref) - 1
                  AS INTEGER) AS pos
      FROM mem
    ), roots AS (
      SELECT DISTINCT rel_id AS id FROM mem
    ), d AS (
      SELECT id AS root, id AS rel_id, CAST('' AS VARCHAR) AS path
      FROM roots
      UNION ALL
      SELECT d.root, m.ref,
             CASE WHEN d.path = '' THEN CAST(m.pos AS VARCHAR)
                  ELSE d.path || '/' || CAST(m.pos AS VARCHAR) END
      FROM d JOIN memp m ON m.rel_id = d.rel_id AND m.mtype = 'relation'
    )
    SELECT d.root,
           CASE WHEN d.path = '' THEN CAST(m.pos AS VARCHAR)
                ELSE d.path || '/' || CAST(m.pos AS VARCHAR) END AS path,
           m.mtype, m.ref
    FROM d JOIN memp m ON m.rel_id = d.rel_id AND m.mtype <> 'relation'
    """,
)
def q_relation_descent_analog(spark, sf_dir):
    """G7's recursion through the real operator (functions/
    relation_member_leaves: level-wise reverse-membership joins with a
    visited set and member-index paths) on a derived two-level relation
    tree."""
    from . import functions as fns

    rels = _rel_tree(spark, sf_dir)
    leaves = fns.relation_member_leaves(rels, rels.select("id"))
    return leaves.select(
        "root",
        F.array_join(
            F.transform("path", lambda x: x.cast("string")), "/"
        ).alias("path"),
        "mtype",
        "ref",
    )


def _rel_tree(spark, sf_dir) -> DataFrame:
    """The derived two-level relation tree: level-1 relations (one per
    nation, id 9000+nationkey) hold node members (suppliers of that
    nation) and way members (base ways mapped by id % 25); level-2
    super-relations (one per region, id 9100+regionkey) hold the
    region's level-1 relations. Members sorted by (type, ref)."""
    sup = t(spark, sf_dir, "supplier").select(
        (F.col("s_nationkey").cast("long") + 9000).alias("id"),
        F.lit("node").alias("t"),
        F.col("s_suppkey").cast("long").alias("r"),
    )
    wy = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 10 == 1)
        .select(F.col("l_orderkey").cast("long").alias("wid"))
        .distinct()
        .select(
            ((F.col("wid") % 25) + 9000).alias("id"),
            F.lit("way").alias("t"),
            F.col("wid").alias("r"),
        )
    )
    nat = t(spark, sf_dir, "nation").select(
        (F.col("n_regionkey").cast("long") + 9100).alias("id"),
        F.lit("relation").alias("t"),
        (F.col("n_nationkey").cast("long") + 9000).alias("r"),
    )
    return (
        sup.unionByName(wy)
        .unionByName(nat)
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("t", "r"))),
                lambda x: F.struct(
                    x["r"].alias("ref"),
                    x["t"].alias("type"),
                    F.lit("m").alias("role"),
                ),
            ).alias("members")
        )
    )


# --------------------------------------------------------------------------
# U3 — relation upsert with 3-way reverse-index maintenance (the last
# update operator without driver-side evidence; ref src/update.cpp:
# 189-212). A relation change batch (modify with all-new member lists,
# deletes, creates) runs through the real apply_changes against the
# derived relation tree; the oracle recomputes all three edge tables
# set-theoretically: base edges minus changed relations, plus edges of
# the upserted member arrays.
@defq(
    "q_update_relation_edges",
    """
    WITH wids AS (
      SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS wid
      FROM lineitem WHERE l_orderkey % 10 = 1
    ), base_edges AS (
      SELECT 'node' AS kind, CAST(s_suppkey AS BIGINT) AS key_id,
             CAST(s_nationkey + 9000 AS BIGINT) AS relation_id
      FROM supplier
      UNION ALL
      SELECT 'way', wid, CAST((wid % 25) + 9000 AS BIGINT) FROM wids
      UNION ALL
      SELECT 'relation', CAST(n_nationkey + 9000 AS BIGINT),
             CAST(n_regionkey + 9100 AS BIGINT)
      FROM nation
    ), changed AS (
      SELECT CAST(n_nationkey + 9000 AS BIGINT) AS relation_id
      FROM nation WHERE n_nationkey % 3 IN (0, 1)
      UNION ALL
      SELECT CAST(r_regionkey + 9200 AS BIGINT) FROM region
    ), new_edges AS (
      SELECT 'node' AS kind, CAST(n_nationkey * 7 + 1 AS BIGINT) AS key_id,
             CAST(n_nationkey + 9000 AS BIGINT) AS relation_id
      FROM nation WHERE n_nationkey % 3 = 0
      UNION ALL
      SELECT 'way', CAST((n_nationkey % 5) * 3 + 1 AS BIGINT),
             CAST(n_nationkey + 9000 AS BIGINT)
      FROM nation WHERE n_nationkey % 3 = 0
      UNION ALL
      SELECT 'relation', CAST((n_nationkey % 5) + 9100 AS BIGINT),
             CAST(n_nationkey + 9000 AS BIGINT)
      FROM nation WHERE n_nationkey % 3 = 0
      UNION ALL
      SELECT 'node', CAST(r_regionkey + 2 AS BIGINT),
             CAST(r_regionkey + 9200 AS BIGINT)
      FROM region
      UNION ALL
      SELECT 'relation', CAST(r_regionkey * 5 + 9000 AS BIGINT),
             CAST(r_regionkey + 9200 AS BIGINT)
      FROM region
    )
    SELECT kind, key_id, relation_id FROM base_edges
    WHERE relation_id NOT IN (SELECT relation_id FROM changed)
    UNION ALL
    SELECT kind, key_id, relation_id FROM new_edges
    """,
)
def q_update_relation_edges(spark, sf_dir):
    """U3 through the real operator: deleted relations' edges vanish
    from all three indexes, upserted relations' edges are recomputed
    from the new member arrays alone — O(|batch|), never touching
    unchanged relations (operators/update.py:199)."""
    from .operators import edges as edges_mod

    base_rels = _rel_tree(spark, sf_dir).select(
        "id",
        "members",
        F.lit(None).cast(schemas.TAGS_TYPE).alias("tags"),
        F.lit(None).cast("array<string>").alias("tags_kv"),
        _meta(F.lit(1)).alias("metadata"),
    )
    tables = {
        "locations": _empty(spark, schemas.LOCATIONS_SCHEMA),
        "nodes": _empty(spark, schemas.NODES_SCHEMA),
        "ways": _empty(spark, schemas.WAYS_SCHEMA),
        "relations": base_rels,
        "node_relation": edges_mod.node_relation(base_rels),
        "way_relation": edges_mod.way_relation(base_rels),
        "relation_relation": edges_mod.relation_relation(base_rels),
    }

    def mem(ref, typ):
        return F.struct(
            ref.cast("long").alias("ref"),
            F.lit(typ).alias("type"),
            F.lit("m").alias("role"),
        )

    def chg_row(id_col, action, visible, members):
        return [
            F.lit("relation").alias("type"),
            id_col.alias("id"),
            F.lit(action).alias("action"),
            F.lit(visible).alias("visible"),
            _meta(F.lit(2)).alias("metadata"),
            id_col.alias("seqnum"),
            F.lit(None).cast("int").alias("lon"),
            F.lit(None).cast("int").alias("lat"),
            F.lit(None).cast(schemas.TAGS_TYPE).alias("tags"),
            F.lit(None).cast("array<bigint>").alias("nodes"),
            members.alias("members"),
        ]

    k = F.col("n_nationkey").cast("long")
    nation = t(spark, sf_dir, "nation")
    mod = nation.where(F.col("n_nationkey") % 3 == 0).select(
        *chg_row(
            k + 9000,
            "modify",
            True,
            F.array(
                mem(k * 7 + 1, "node"),
                mem((k % 5) * 3 + 1, "way"),
                mem((k % 5) + 9100, "relation"),
            ),
        )
    )
    dele = nation.where(F.col("n_nationkey") % 3 == 1).select(
        *chg_row(
            k + 9000,
            "delete",
            False,
            F.lit(None).cast(
                "array<struct<ref:bigint,type:string,role:string>>"
            ),
        )
    )
    r = F.col("r_regionkey").cast("long")
    crt = t(spark, sf_dir, "region").select(
        *chg_row(
            r + 9200,
            "modify",
            True,
            F.array(mem(r + 2, "node"), mem(r * 5 + 9000, "relation")),
        )
    )
    changes = mod.unionByName(dele).unionByName(crt)
    res = apply_changes(tables, changes, with_edges=True)
    return (
        res.tables["node_relation"]
        .select(
            F.lit("node").alias("kind"),
            F.col("node_id").alias("key_id"),
            "relation_id",
        )
        .unionByName(
            res.tables["way_relation"].select(
                F.lit("way").alias("kind"),
                F.col("way_id").alias("key_id"),
                "relation_id",
            )
        )
        .unionByName(
            res.tables["relation_relation"].select(
                F.lit("relation").alias("kind"),
                F.col("child_id").alias("key_id"),
                "relation_id",
            )
        )
    )


# --------------------------------------------------------------------------
# Multi-region spatial join — the extract plan generalized to N regions
# in one pass (operators/spatial_join.py). The oracle is the exact
# containment predicate join; the Spark plan's covering candidates are
# a strict superset that the refine collapses to the same set.
@defq(
    "q_spatial_join",
    f"""
    WITH pts AS (
      SELECT CAST(c_custkey AS BIGINT) AS id,
             {_LON_EXPR.format(k="c_custkey")} AS lon,
             {_LAT_EXPR.format(k="c_custkey")} AS lat
      FROM customer
    ), boxes AS (
      -- derived points cluster near (-180,-90): custkey*prime spreads
      -- ~0.1 deg/key, so boxes sit inside that neighborhood to make
      -- the join selective but non-empty at every sf
      SELECT CAST(n_nationkey AS BIGINT) AS box_id,
             CAST(-1800000000 + n_nationkey * 3000000 AS INTEGER) AS minlon,
             CAST(-900000000 + n_nationkey * 5000000 AS INTEGER) AS minlat,
             CAST(-1800000000 + n_nationkey * 3000000 + 6000000 AS INTEGER) AS maxlon,
             CAST(-900000000 + n_nationkey * 5000000 + 12000000 AS INTEGER) AS maxlat
      FROM nation
    )
    SELECT p.id, b.box_id
    FROM pts p JOIN boxes b
      ON p.lon BETWEEN b.minlon AND b.maxlon
     AND p.lat BETWEEN b.minlat AND b.maxlat
    """,
)
def q_spatial_join(spark, sf_dir):
    """Points x regions containment join through the real covering +
    broadcast-range + exact-refine plan (spatial_join.point_in_box_join):
    24x18-degree boxes derived per nation, customer-derived points."""
    from .operators.spatial_join import point_in_box_join

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    n = F.col("n_nationkey").cast("long")
    boxes = t(spark, sf_dir, "nation").select(
        n.alias("box_id"),
        (F.lit(-1_800_000_000) + n * 3_000_000).cast("int").alias("minlon"),
        (F.lit(-900_000_000) + n * 5_000_000).cast("int").alias("minlat"),
        (F.lit(-1_800_000_000) + n * 3_000_000 + 6_000_000)
        .cast("int")
        .alias("maxlon"),
        (F.lit(-900_000_000) + n * 5_000_000 + 12_000_000)
        .cast("int")
        .alias("maxlat"),
    )
    return point_in_box_join(pts, boxes)


# --------------------------------------------------------------------------
# examples/bbox_wkt.cpp end-to-end: bbox -> covering cell filter ->
# reverse-membership (node_way) -> way LineString WKT. The reference's
# output is covering-approximate ("may include ways outside the
# bounding box", README.md:64); the analog refines exactly so the SQL
# predicate join is the oracle.
_BWK_BOX = (-1_800_000_000, -900_000_000, -1_792_000_000, -800_000_000)


@defq(
    "q_bbox_way_wkt_analog",
    f"""
    WITH loc AS (
      SELECT p_partkey AS node_id,
             {_LON_EXPR.format(k="p_partkey")} AS lon,
             {_LAT_EXPR.format(k="p_partkey")} AS lat
      FROM part
    ), sel AS (
      SELECT node_id FROM loc
      WHERE lon BETWEEN {_BWK_BOX[0]} AND {_BWK_BOX[2]}
        AND lat BETWEEN {_BWK_BOX[1]} AND {_BWK_BOX[3]}
    ), v AS (
      SELECT CAST(l_orderkey AS BIGINT) AS way_id, l_linenumber AS pos,
             l_partkey AS node_id
      FROM lineitem WHERE l_orderkey % 10 = 1
    ), hit AS (
      SELECT DISTINCT way_id FROM v JOIN sel USING (node_id)
    ), pts AS (
      SELECT v.way_id, v.pos, v.node_id, loc.lon, loc.lat
      FROM v JOIN loc USING (node_id)
      WHERE v.way_id IN (SELECT way_id FROM hit)
    )
    SELECT way_id AS id,
           'LINESTRING (' || string_agg(
               {_fmt_coord_sql('lon')} || ' ' || {_fmt_coord_sql('lat')},
               ', ' ORDER BY pos, node_id) || ')' AS wkt
    FROM pts GROUP BY way_id
    """,
)
def q_bbox_way_wkt_analog(spark, sf_dir):
    """The bbox_wkt example through the real pipeline: driver covering
    of the box (G3/G4) -> pushed cell-range + exact refine on the
    derived locations (S4/P5 shape) -> node_way reverse-membership
    semi-join (J1) -> ordered LineString assembly (G6)."""
    from . import functions as fns
    from .spatial import covering as cov_mod
    from .spatial import cells as cells_mod
    from .spatial.region import Region

    minlon, minlat, maxlon, maxlat = _BWK_BOX
    locs = t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        _lon("p_partkey").alias("lon"),
        _lat("p_partkey").alias("lat"),
    )
    reg = Region(
        f"{minlat / 1e7},{minlon / 1e7},{maxlat / 1e7},{maxlon / 1e7}", "bbox"
    )
    ranges = cov_mod.covering(reg)
    sel = locs.where(
        cells_mod.ranges_filter(
            cells_mod.cell_col(F.col("lon"), F.col("lat")), ranges
        )
    ).where(
        F.col("lon").between(minlon, maxlon)
        & F.col("lat").between(minlat, maxlat)
    )
    ways = _base_ways(spark, sf_dir)
    verts = ways.select(
        F.col("id").alias("way_id"), F.explode("nodes").alias("node_id")
    )
    hit = (
        verts.join(sel.select(F.col("id").alias("node_id")), "node_id", "left_semi")
        .select("way_id")
        .distinct()
    )
    hit_ways = ways.join(
        hit.withColumnRenamed("way_id", "id"), "id", "left_semi"
    )
    return fns.way_linestrings(hit_ways, locs).select("id", "wkt")
