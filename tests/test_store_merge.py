"""Merge-on-read store tests: a replication batch must land as a
batch-sized delta layer (base parquet untouched — the O(|batch|)
write-cost property that matters at 100 TB), fold back to exactly the
state a whole-table merge would produce, compact once the layer bound
is hit, and keep snapshot-isolation/time-travel semantics."""

from __future__ import annotations

import copy
import datetime
import os
import shutil
import uuid
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmexpress_spark import schemas, testing
from osmexpress_spark.operators import edges as edges_mod
from osmexpress_spark.operators.update import apply_changes, merge_specs_for
from osmexpress_spark.store import (
    DEFAULT_SORT,
    SnapshotStore,
    _footer_schema,
    read_parquet,
)
from osmexpress_spark.streaming import replication
from conftest import assert_range_sorted
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


def _check_snapshot(spark, store, state, every_dir=False, version=None):
    """Rows of ``version`` (default: the latest) equal the model,
    schemas equal Spark's inference, and building the merge-on-read
    frames runs no job. ``every_dir`` also compares the footer schema
    of every base and layer directory."""
    frames, jobs = _jobs(spark, lambda: store.read_all(version))
    assert jobs == 0
    for name in store.tables(version):
        _, jobs = _jobs(spark, lambda: store.read_table(name, version))
        assert jobs == 0, name
        entry = store._manifest(version)["tables"][name]
        base = os.path.join(store.root, entry["base"] if isinstance(entry, dict) else entry)
        assert frames[name].schema == spark.read.parquet(base).schema, name
        if every_dir and isinstance(entry, dict):
            for layer in entry["layers"]:
                for d in layer.values():
                    d = os.path.join(store.root, d)
                    assert read_parquet(spark, d).schema == spark.read.parquet(d).schema
    _check_rows(frames, state)


def _check_rows(frames, state):
    """Every table of ``frames`` holds the model's rows."""
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


# Executed-plan shape of a folded table read at any layer count: the
# base, all `upserts` and all `changed` directories as three scans, one
# broadcast, no aggregate and no shuffle.
FOLD_PLAN = {"FileScan": 3, "BroadcastExchange": 1, "HashAggregate": 0,
             "Exchange hashpartitioning": 0}


def _plan_counts(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {node: plan.count(node) for node in FOLD_PLAN}


def test_merge_on_read_fold_schema_and_job_pin(spark, tmp_path):
    """Default-tier check of the merge-on-read fold at 0, 1, 3 and 16
    layers and after the compaction the 17th batch triggers, plus the
    pins: building a read runs no job; a lookup of a key the newest
    layer changed runs exactly 2 jobs (the broadcast and the result);
    and every layered table's executed plan is `FOLD_PLAN`."""
    rows = testing.generate(n_nodes=100, seed=3)
    batches = testing.generate_changes(rows, n_batches=17, per_batch=12, seed=5)
    dfs = testing.to_dataframes(spark, rows)
    dfs.update(edges_mod.derive_all(dfs["ways"], dfs["relations"]))
    store = SnapshotStore.create(
        spark, str(tmp_path / "ds"), dfs, metadata={"seqnum": 0},
        sort_by=DEFAULT_SORT,
    )
    state = state_from_rows(rows)

    def lookup_jobs(batch):
        probe = min(r[3] for r in batch if r[2] == "node")
        got, jobs = _jobs(spark, lambda: store.read_table("locations").where(
            F.col("id") == probe).collect())
        assert [tuple(r) for r in got] == [
            v for k, v in state["locations"].items() if k == probe]
        return jobs

    def layers():
        return {name: len(e["layers"]) if isinstance(e, dict) else 0
                for name, e in store._manifest()["tables"].items()}

    _check_snapshot(spark, store, state)
    lookup, plans = {}, {}
    for i, batch in enumerate(batches, start=1):
        result = apply_changes(
            store.read_all(), spark.createDataFrame(batch, schemas.CHANGES_SCHEMA)
        )
        store.merge_commit(
            result.merge_specs, metadata={"seqnum": i}, sort_by=DEFAULT_SORT,
        )
        state = python_model_apply(state, batch)
        # the default max_layers=16: the 17th batch compacts locations
        assert layers()["locations"] == (i if i <= 16 else 0)
        if i in (1, 3, 17):
            _check_snapshot(spark, store, state, every_dir=i == 3)
        if i in (1, 3, 16):
            lookup[i] = lookup_jobs(batch)
            plans[i] = {name: _plan_counts(store.read_table(name))
                        for name, n in layers().items() if n}
    assert lookup == {1: 2, 3: 2, 16: 2}, lookup
    assert all(p == FOLD_PLAN for ps in plans.values() for p in ps.values()), plans
    assert all(len(ps) >= 2 for ps in plans.values()), plans


def _parent_fold(spark, store, entry):
    """Reference fold, as written before the one-join rule: each layer
    directory read on its own and ranked by manifest position, the
    newest rank per key found by a max aggregate, and the base
    anti-joined against the touched keys."""
    def read(rel):
        return read_parquet(spark, os.path.join(store.root, rel))

    if isinstance(entry, str):
        return read(entry)
    base, key, layers = read(entry["base"]), entry["key"], entry["layers"]
    if not layers:
        return base
    changed = reduce(DataFrame.unionByName, [
        read(la["changed"]).withColumnRenamed("key", key).withColumn("__layer", F.lit(r))
        for r, la in enumerate(layers)])
    upserts = reduce(DataFrame.unionByName, [
        read(la["upserts"]).withColumn("__layer", F.lit(r))
        for r, la in enumerate(layers)])
    winner = changed.groupBy(key).agg(F.max("__layer").alias("__layer"))
    survivors = upserts.join(winner, [key, "__layer"]).select(base.columns)
    return (base.join(winner.select(key), key, "left_anti")
            .select(base.columns).unionByName(survivors))


def _canon(value):
    """A collected value as comparable plain data: maps as sorted item
    tuples, rows and arrays as tuples."""
    if isinstance(value, dict):
        return tuple(sorted((k, _canon(v)) for k, v in value.items()))
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    return value


def _rows(df):
    return sorted(map(_canon, df.collect()), key=repr)


def _stack_batches(rows):
    """Five hand-made batches whose layers cover the fold's cases: node
    ``a`` deleted by layer 1 and re-created by layer 3; node ``b``, way
    ``w`` and relation ``rid`` touched in several layers (``w`` and the
    new way own several `node_way` rows each); layer 2 only deletes, so
    its `upserts` are empty; layer 4 deletes ``w``."""
    tagged = [r[0] for r in rows["nodes"]]
    plain = [r[0] for r in rows["locations"] if r[0] not in set(tagged)]
    a, b, c, d = tagged[0], tagged[1], plain[0], plain[1]
    w = next(r[0] for r in rows["ways"] if len(r[1]) >= 2)
    new_way = max(r[0] for r in rows["ways"]) + 1
    rid = rows["relations"][0][0]

    def meta(v):
        return (v, datetime.datetime(2026, 2, 1, 0, 0, v % 60), 7, 7, "stack")

    def node(seq, action, nid, v, lon=None, lat=None, tags=None):
        return (seq, action, "node", nid, action != "delete", lon, lat,
                None, None, tags, meta(v))

    def way(seq, action, wid, v, refs=None):
        tags = None if action == "delete" else {"highway": f"v{v}"}
        return (seq, action, "way", wid, action != "delete", None, None,
                refs, None, tags, meta(v))

    def rel(seq, action, v, members=None):
        tags = None if action == "delete" else {"type": f"v{v}"}
        return (seq, action, "relation", rid, action != "delete", None, None,
                None, members, tags, meta(v))

    return [
        [node(1, "delete", a, 301), node(1, "modify", b, 302, 10, 20, {"k": "1"}),
         way(1, "modify", w, 303, [c, d, b]),
         rel(1, "modify", 304, [(b, "node", "via"), (w, "way", "outer")])],
        [node(2, "delete", c, 305), node(2, "delete", d, 306)],
        [node(3, "create", a, 307, 30, 40, {"k": "back"}),
         node(3, "modify", b, 308, 11, 21, {}),
         way(3, "modify", w, 309, [b, a]), way(3, "create", new_way, 310, [a, b, d])],
        [node(4, "modify", b, 311, 12, 22, {"k": "4"}), way(4, "delete", w, 312),
         rel(4, "modify", 313, [(a, "node", "via")])],
        [node(5, "modify", b, 314, 13, 23, {"k": "5"}),
         way(5, "modify", new_way, 315, [b, a]), rel(5, "delete", 316)],
    ]


@pytest.fixture(scope="module")
def stack(spark, tmp_path_factory):
    """A store after `_stack_batches`: batches 1-4 as layers through
    `replication.apply_batch`; batch 5 through `merge_commit` with
    ``max_layers=3``, which compacts the tables at 3 or more layers and
    layers the rest. Returns (store, [(version, model state)])."""
    rows = testing.generate(n_nodes=60, seed=21)
    dfs = testing.to_dataframes(spark, rows)
    dfs.update(edges_mod.derive_all(dfs["ways"], dfs["relations"]))
    store = SnapshotStore.create(
        spark, str(tmp_path_factory.mktemp("stack") / "ds"), dfs,
        metadata={"seqnum": 0}, sort_by=DEFAULT_SORT,
    )
    states = [(store.latest_version(), state_from_rows(rows))]
    *layered, last = _stack_batches(rows)
    for batch in layered:
        df = spark.createDataFrame(batch, schemas.CHANGES_SCHEMA)
        assert replication.apply_batch(store, df, batch[0][0])
        states.append((store.latest_version(),
                       python_model_apply(copy.deepcopy(states[-1][1]), batch)))
    specs, _ = merge_specs_for(spark.createDataFrame(last, schemas.CHANGES_SCHEMA))
    v = store.merge_commit(specs, metadata={"seqnum": 5}, sort_by=DEFAULT_SORT,
                           max_layers=3)
    states.append((v, python_model_apply(copy.deepcopy(states[-1][1]), last)))
    return store, states


def test_fold_matches_model_and_parent_fold(spark, stack):
    """Every version of the stack, time travel included, reads as the
    model and as the reference fold; the compacted bases keep the
    table's columns and their range layout."""
    store, states = stack
    before = store._manifest(states[4][0])["tables"]
    locs = os.path.join(store.root, before["locations"]["layers"][1]["upserts"])
    assert spark.read.parquet(locs).count() == 0  # the delete-only layer
    for version, state in states:
        _check_snapshot(spark, store, state, version=version)
        for name, entry in store._manifest(version)["tables"].items():
            assert _rows(store.read_table(name, version)) == _rows(
                _parent_fold(spark, store, entry)), (name, version)

    after = store._manifest()["tables"]
    compacted = [n for n, e in after.items() if not e["layers"]]
    assert {"locations", "nodes", "ways", "node_way"} <= set(compacted)
    assert after["relations"]["layers"], "relations stays layered"
    for name in compacted:
        d = os.path.join(store.root, after[name]["base"])
        assert read_parquet(spark, d).columns == store.read_table(name, 0).columns
        assert_range_sorted(d, DEFAULT_SORT[name], several_files=True)


def _copy_store(spark, store, dest):
    shutil.copytree(store.root, dest)
    return SnapshotStore(spark, str(dest))


def test_fold_layer_order_ignores_store_root(spark, stack, tmp_path):
    """A layer's rank comes from its own ``v{N}_layer`` directory: a
    store whose root has a space and a component named like a layer
    directory reads every version as the model."""
    store, states = stack
    moved = _copy_store(spark, store, tmp_path / "v9_layer" / "a store")
    for version, state in states:
        _check_snapshot(spark, moved, state, version=version)


def _arrow_rewrite(path):
    """Rewrite a Spark-written parquet file with pyarrow, which stores
    no Spark schema. Timestamps become UTC microseconds, as Spark
    writes them: pyarrow reads Spark's INT96 as naive nanoseconds."""
    def utc(typ):
        if pa.types.is_timestamp(typ):
            return pa.timestamp("us", "UTC")
        if pa.types.is_struct(typ):
            return pa.struct([f.with_type(utc(f.type)) for f in typ])
        return typ

    table = pq.read_table(path)
    schema = pa.schema([f.with_type(utc(f.type)) for f in table.schema])
    pq.write_table(table.cast(schema), path)


def test_fold_reads_layer_without_spark_footer(spark, stack, tmp_path):
    """A layer whose files carry no Spark schema (written by pyarrow)
    is read through the inferring fallback, and every version still
    reads as the model."""
    store, states = stack
    copy_ = _copy_store(spark, store, tmp_path / "ds")
    for entry in copy_._manifest(states[4][0])["tables"].values():
        for rel in entry["layers"][0].values():
            d = os.path.join(copy_.root, rel)
            for f in os.listdir(d):
                path = os.path.join(d, f)
                if f.startswith((".", "_")):
                    os.remove(path)  # Spark's checksums of the old bytes
                else:
                    _arrow_rewrite(path)
            assert _footer_schema(d) is None
    for version, state in states:
        frames = copy_.read_all(version)
        assert {n: f.schema for n, f in frames.items()} == {
            n: f.schema for n, f in store.read_all(version).items()}
        _check_rows(frames, state)
