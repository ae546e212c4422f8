"""One reader for a dataset directory. After `update --commit`,
`Dataset` reads the committed snapshot, as the CLI does; opening a
plain `expand` directory writes nothing into it; and every writer of a
sorted table leaves the range-sorted layout of `store.write_sorted`."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osmexpress_spark import testing
from osmexpress_spark.__main__ import main
from osmexpress_spark.api import CORE_TABLES, EDGE_TABLES, Dataset
from osmexpress_spark.operators import expand as expand_mod
from osmexpress_spark.sources import sink
from osmexpress_spark.spatial import Region
from osmexpress_spark.store import DEFAULT_SORT, SnapshotStore

from conftest import assert_range_sorted  # noqa: E402

WORLD = Region("-90,-180,90,180", "bbox")

# moves node 1 (to version 9), deletes node 4 and adds a way over
# nodes 1 and 2, so `node_way` changes too
OSC = """<osmChange version="0.6">
<modify><node id="1" lat="10.5" lon="20.25" version="9"><tag k="name" v="moved"/></node></modify>
<delete><node id="4"/></delete>
<create><way id="999002" version="1"><nd ref="1"/><nd ref="2"/></way></create>
</osmChange>"""


def _tree(d: str) -> set[str]:
    return {os.path.join(root, n) for root, dirs, files in os.walk(d)
            for n in dirs + files}


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory):
    """A 100-node fixture dataset in the expand layout, edges included."""
    d = str(tmp_path_factory.mktemp("plain") / "ds")
    return testing.ensure_fixture_dataset(spark, d, n_nodes=100, seed=3)


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """The same fixture after `update --commit` of OSC."""
    work = tmp_path_factory.mktemp("committed")
    d = testing.ensure_fixture_dataset(spark, str(work / "ds"), n_nodes=100, seed=3)
    osc = work / "c.osc"
    osc.write_text(OSC)
    assert main(["update", d, str(osc), "--commit"]) == 0
    return d


@pytest.fixture(scope="module")
def committed_no_edges(spark, tmp_path_factory):
    """The fixture written without reverse indexes, after `update
    --commit` of OSC: its snapshot holds only the four core tables."""
    work = tmp_path_factory.mktemp("committed_no_edges")
    d = testing.ensure_fixture_dataset(spark, str(work / "ds"), n_nodes=100,
                                       seed=3, materialize_edges=False)
    osc = work / "c.osc"
    osc.write_text(OSC)
    assert main(["update", d, str(osc), "--commit"]) == 0
    return d


def test_dataset_reads_committed_lookup(spark, committed):
    (row,) = Dataset(spark, committed).lookup("node", 1).collect()
    assert (row["version"], row["lon"], row["lat"]) == (9, 202500000, 105000000)


def test_dataset_stats_match_cli_query(spark, committed, capsys):
    capsys.readouterr()
    assert main(["query", committed]) == 0
    cli = dict(line.split(": ") for line in capsys.readouterr().out.splitlines())
    assert int(cli["locations"]) == 99
    assert Dataset(spark, committed).stats()["locations"] == 99


def test_dataset_extract_drops_deleted_node(spark, committed):
    res = Dataset(spark, committed).extract(WORLD)
    assert res.locations.where(F.col("id") == 4).count() == 0
    assert res.locations.where(F.col("id") == 1).count() == 1


def test_dataset_edges_are_the_store_tables(spark, committed):
    store = SnapshotStore(spark, committed)
    got = Dataset(spark, committed).edges("node_way")
    assert _rows(got) == _rows(store.read_table("node_way"))
    assert got.where(F.col("way_id") == 999002).count() == 2


def test_opening_a_plain_dataset_writes_nothing(spark, plain):
    before = _tree(plain)
    assert SnapshotStore(spark, plain).latest_version() is None
    ds = Dataset(spark, plain)
    assert set(ds.tables()) == set(CORE_TABLES + EDGE_TABLES)
    assert "seqnum" not in ds.metadata()
    assert _tree(plain) == before


def test_sorted_writers_share_one_layout(spark, plain, tmp_path):
    """The fixture writer and `materialize_edges` (the `plain`
    fixture), `sink.write_dataset` and `expand` all write every table
    range-sorted on its `DEFAULT_SORT` key."""
    for name in CORE_TABLES + EDGE_TABLES:
        assert_range_sorted(os.path.join(plain, name), DEFAULT_SORT[name])

    res = Dataset(spark, plain).extract(WORLD)
    out = str(tmp_path / "out")
    sink.write_dataset(res, out)
    for name in CORE_TABLES:
        assert_range_sorted(os.path.join(out, name), DEFAULT_SORT[name])

    pbf = str(tmp_path / "world.osm.pbf")
    sink.write_pbf(res, pbf)
    dest = str(tmp_path / "expanded")
    expand_mod.expand(spark, pbf, dest)
    for name in CORE_TABLES + EDGE_TABLES:
        assert_range_sorted(os.path.join(dest, name), DEFAULT_SORT[name])


def test_materialize_edges_commits_to_the_store(spark, committed_no_edges):
    """On a dataset with a committed snapshot, `materialize_edges`
    commits the reverse indexes as a new store version (range-sorted,
    replication metadata carried forward) instead of writing them into
    the expand layout, which no reader opens once a snapshot exists."""
    d = committed_no_edges
    store = SnapshotStore(spark, d)
    assert set(store.tables()) == set(CORE_TABLES)
    before = store.metadata()
    Dataset(spark, d).materialize_edges()
    assert not any(os.path.exists(os.path.join(d, n)) for n in EDGE_TABLES)
    assert set(Dataset(spark, d).tables()) == set(CORE_TABLES + EDGE_TABLES)
    after = store.metadata()
    assert after["seqnum"] == before["seqnum"]
    assert {k: v for k, v in after.items() if k != "committed_at"} == {
        k: v for k, v in before.items() if k != "committed_at"}
    entries = store._manifest()["tables"]
    for name in EDGE_TABLES:
        assert_range_sorted(os.path.join(d, entries[name]), DEFAULT_SORT[name])
    got = Dataset(spark, d).edges("node_way")
    assert got.where(F.col("way_id") == 999002).count() == 2
    assert _rows(got) == _rows(store.read_table("node_way"))
