"""Merge-on-read store tests: a replication batch must land as a
batch-sized delta layer (base parquet untouched — the O(|batch|)
write-cost property that matters at 100 TB), fold back to exactly the
state a whole-table merge would produce, compact once the layer bound
is hit, and keep snapshot-isolation/time-travel semantics."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from osmexpress_spark import schemas, testing
from osmexpress_spark.operators import edges as edges_mod
from osmexpress_spark.operators.update import apply_changes
from osmexpress_spark.store import DEFAULT_SORT, SnapshotStore, read_parquet
from osmexpress_spark.streaming import replication
from tests.test_update import python_model_apply, state_from_rows


@pytest.fixture()
def fresh(spark, tmp_path):
    rows = testing.generate(n_nodes=300, seed=11)
    batches = testing.generate_changes(rows, n_batches=3, per_batch=30, seed=7)
    dfs = testing.to_dataframes(spark, rows)
    dfs.update(edges_mod.derive_all(dfs["ways"], dfs["relations"]))
    store = SnapshotStore.create(
        spark, str(tmp_path / "ds"), dfs, metadata={"seqnum": 0},
        sort_by=DEFAULT_SORT,
    )
    return rows, batches, store


def _base_files(store, name):
    entry = store._manifest()["tables"][name]
    rel = entry if isinstance(entry, str) else entry["base"]
    d = os.path.join(store.root, rel)
    return rel, sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


@pytest.mark.slow
def test_merge_layers_match_model_and_reuse_base(spark, fresh):
    rows, batches, store = fresh
    state = state_from_rows(rows)
    base_before = {n: _base_files(store, n) for n in store.tables()}

    # apply through the replication merge path
    applied = replication.catch_up(
        store,
        spark.createDataFrame(
            [row for b in batches for row in b], schemas.CHANGES_SCHEMA
        ),
    )
    assert applied  # at least one seqnum went through merge_commit

    for batch in batches:
        state = python_model_apply(state, batch)

    got_loc = {
        r.id: (r.id, r.lon, r.lat, r.version, r.cell)
        for r in store.read_table("locations").collect()
    }
    assert got_loc == state["locations"]
    got_nodes = {
        r.id: (r.id, dict(r.tags)) for r in store.read_table("nodes").collect()
    }
    assert got_nodes == state["nodes"]
    got_ways = {
        r.id: (r.id, list(r.nodes), dict(r.tags))
        for r in store.read_table("ways").collect()
    }
    assert got_ways == state["ways"]
    got_rels = {
        r.id: (r.id, [tuple(m) for m in r.members], dict(r.tags))
        for r in store.read_table("relations").collect()
    }
    assert got_rels == state["relations"]

    # the U2/U3 mirror invariant holds through layered reads
    fresh_edges = edges_mod.derive_all(
        store.read_table("ways"), store.read_table("relations")
    )
    for name, df in fresh_edges.items():
        maintained = store.read_table(name)
        assert sorted(map(tuple, maintained.collect())) == sorted(
            map(tuple, df.collect())
        ), name

    # O(|batch|) write property: every touched table's BASE files are the
    # v0 files, byte-for-byte untouched — only layers were added
    for name in store.tables():
        entry = store._manifest()["tables"][name]
        if isinstance(entry, dict):
            assert (entry["base"], _base_files(store, name)[1]) == base_before[name]
            assert entry["layers"], name


@pytest.mark.slow
def test_compaction_bounds_layers(spark, fresh):
    rows, batches, store = fresh
    state = state_from_rows(rows)
    # max_layers=1 => second merge on a table compacts it
    result1 = apply_changes(
        store.read_all(), spark.createDataFrame(batches[0], schemas.CHANGES_SCHEMA)
    )
    store.merge_commit(
        result1.merge_specs, metadata={"seqnum": 1},
        sort_by=DEFAULT_SORT, max_layers=1,
    )
    result2 = apply_changes(
        store.read_all(), spark.createDataFrame(batches[1], schemas.CHANGES_SCHEMA)
    )
    store.merge_commit(
        result2.merge_specs, metadata={"seqnum": 2},
        sort_by=DEFAULT_SORT, max_layers=1,
    )
    for batch in batches[:2]:
        state = python_model_apply(state, batch)

    got_loc = {
        r.id: (r.id, r.lon, r.lat, r.version, r.cell)
        for r in store.read_table("locations").collect()
    }
    assert got_loc == state["locations"]
    # locations was merged twice -> compacted back to zero layers
    entry = store._manifest()["tables"]["locations"]
    assert isinstance(entry, dict) and entry["layers"] == []


@pytest.mark.slow
def test_optimize_folds_layers_and_preserves_state(spark, fresh):
    rows, batches, store = fresh
    chg = spark.createDataFrame(batches[0], schemas.CHANGES_SCHEMA)
    replication.catch_up(store, chg)
    before = sorted(map(tuple, store.read_table("locations").collect()))
    v = store.optimize(sort_by=DEFAULT_SORT)
    after = sorted(map(tuple, store.read_table("locations", version=v).collect()))
    assert before == after
    for name in store.tables():
        entry = store._manifest()["tables"][name]
        assert isinstance(entry, str) or entry["layers"] == []


@pytest.mark.slow
def test_time_travel_spans_merge_commits(spark, fresh):
    rows, batches, store = fresh
    v0 = store.latest_version()
    n0 = store.read_table("locations").count()
    replication.catch_up(
        store,
        spark.createDataFrame(
            [row for b in batches for row in b], schemas.CHANGES_SCHEMA
        ),
    )
    assert store.read_table("locations", version=v0).count() == n0


@pytest.mark.slow
def test_double_publish_same_version_fails_loudly(fresh):
    # two writers racing to the same version number must not silently
    # clobber each other's manifest: the second publish raises
    _, _, store = fresh
    v = store.latest_version()
    manifest = store._manifest(v)
    with pytest.raises(FileExistsError):
        store._publish(manifest, v)
    # the original manifest is untouched
    assert store._manifest(v) == manifest


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"jobpin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "store job pin")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _model_edges(state):
    """The four edge tables as the explode of the model's forward
    arrays (operators/edges.py), as sets of column-ordered tuples."""
    out = {"node_way": {(n, wid) for wid, nodes, _ in state["ways"].values()
                        for n in nodes}}
    for name, kind in (("node_relation", "node"), ("way_relation", "way"),
                       ("relation_relation", "relation")):
        out[name] = {(ref, rid) for rid, members, _ in state["relations"].values()
                     for ref, typ, _role in members if typ == kind}
    return out


def _check_snapshot(spark, store, state, every_dir=False):
    """Rows equal the model, schemas equal Spark's inference, and
    building the merge-on-read frames runs no job. ``every_dir`` also
    compares the footer schema of every base and layer directory."""
    frames, jobs = _jobs(spark, store.read_all)
    assert jobs == 0
    for name in store.tables():
        _, jobs = _jobs(spark, lambda: store.read_table(name))
        assert jobs == 0, name
        entry = store._manifest()["tables"][name]
        base = os.path.join(store.root, entry["base"] if isinstance(entry, dict) else entry)
        assert frames[name].schema == spark.read.parquet(base).schema, name
        if every_dir and isinstance(entry, dict):
            for layer in entry["layers"]:
                for d in layer.values():
                    d = os.path.join(store.root, d)
                    assert read_parquet(spark, d).schema == spark.read.parquet(d).schema
    assert {
        r.id: (r.id, r.lon, r.lat, r.version, r.cell)
        for r in frames["locations"].collect()
    } == state["locations"]
    assert {
        r.id: (r.id, dict(r.tags)) for r in frames["nodes"].collect()
    } == state["nodes"]
    assert {
        r.id: (r.id, list(r.nodes), dict(r.tags)) for r in frames["ways"].collect()
    } == state["ways"]
    assert {
        r.id: (r.id, [tuple(m) for m in r.members], dict(r.tags))
        for r in frames["relations"].collect()
    } == state["relations"]
    for name, want in _model_edges(state).items():
        got = list(map(tuple, frames[name].collect()))
        assert len(got) == len(want) and set(got) == want, name


def test_merge_on_read_fold_schema_and_job_pin(spark, tmp_path):
    """Default-tier check of the merge-on-read fold at 0, 1 and 3
    layers and after one forced compaction, plus the job pin: building
    a read runs no job, and a point lookup's job count does not grow
    with layer depth."""
    rows = testing.generate(n_nodes=100, seed=3)
    batches = testing.generate_changes(rows, n_batches=4, per_batch=12, seed=5)
    dfs = testing.to_dataframes(spark, rows)
    dfs.update(edges_mod.derive_all(dfs["ways"], dfs["relations"]))
    store = SnapshotStore.create(
        spark, str(tmp_path / "ds"), dfs, metadata={"seqnum": 0},
        sort_by=DEFAULT_SORT,
    )
    state = state_from_rows(rows)
    probe = rows["locations"][0][0]

    def lookup_jobs():
        _, jobs = _jobs(spark, lambda: store.read_table("locations").where(
            F.col("id") == probe).collect())
        return jobs

    def layers():
        entry = store._manifest()["tables"]["locations"]
        return len(entry["layers"]) if isinstance(entry, dict) else 0

    _check_snapshot(spark, store, state)
    lookup = {}
    for i, batch in enumerate(batches, start=1):
        result = apply_changes(
            store.read_all(), spark.createDataFrame(batch, schemas.CHANGES_SCHEMA)
        )
        store.merge_commit(
            result.merge_specs, metadata={"seqnum": i}, sort_by=DEFAULT_SORT,
            # the fourth batch forces a compaction of every 3-layer table
            max_layers=2 if i == 4 else 16,
        )
        state = python_model_apply(state, batch)
        assert layers() == (i if i < 4 else 0)
        if i in (1, 3, 4):
            _check_snapshot(spark, store, state, every_dir=i == 3)
        if i in (1, 3):
            lookup[i] = lookup_jobs()
    assert lookup[1] == lookup[3], lookup
