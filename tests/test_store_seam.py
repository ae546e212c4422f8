"""The persisted-store seam (`store.py`): every corpus store the
operators persist publishes and checks its JSON sidecar through
`write_meta`/`read_meta` and reads its parquet through `read_parquet`.

Pinned here: store reads build without a Spark job, the sidecar bytes
of each store kind, stores whose sidecar a plain `open()` wrote still
open, partitioned directories keep their partition column, and an
`ast` guard that keeps the seam the only one in the package."""

from __future__ import annotations

import ast
import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from osmexpress_spark.operators import dedup, multimodal, retrieval, rollup, similarity
from osmexpress_spark.store import read_parquet
from tests.test_store_merge import _jobs

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "a completely different sentence about spark stores"),
    (4, "metadata sidecars live beside the parquet data"),
]
DOC_SCHEMA = "doc_id long, text string"


def _sidecar(path: str, name: str = "meta.json") -> str:
    with open(os.path.join(path, name)) as f:
        return f.read()


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """A signature, band and BM25 store built from DOCS."""
    root = tmp_path_factory.mktemp("stores")
    docs = spark.createDataFrame(DOCS, DOC_SCHEMA)
    paths = {k: str(root / k) for k in ("sig", "bands", "bm25")}
    dedup.save_signature_store(docs, paths["sig"], "doc_id", "text", fingerprint="v1")
    bands = spark.createDataFrame(
        [(i, i, 10 + i, 20 + i, 30 + i) for i in range(6)],
        "item_id long, band_0 long, band_1 long, band_2 long, band_3 long",
    )
    multimodal.save_band_store(bands, paths["bands"])
    retrieval.save_bm25_index(docs, paths["bm25"])
    return paths


def test_store_reads_build_without_jobs(spark, stores):
    """Each store read takes its schema from the parquet footer, so
    building it runs no job; a single-document probe against the
    signature store runs only its three execution jobs."""
    sigs, jobs = _jobs(spark, lambda: dedup.load_signature_store(spark, stores["sig"], "doc_id"))
    assert jobs == 0
    assert sigs.schema == spark.read.parquet(stores["sig"] + "/signatures").schema
    bands, jobs = _jobs(spark, lambda: multimodal.load_band_store(spark, stores["bands"]))
    assert jobs == 0
    assert bands.count() == 6
    top, jobs = _jobs(spark, lambda: retrieval.bm25_topk_from_index(
        spark, stores["bm25"], ["quick", "fox"], k=2))
    assert jobs == 0
    assert sorted(r["doc_id"] for r in top.collect()) == [1, 2]

    one = spark.createDataFrame([(9, DOCS[0][1])], DOC_SCHEMA)
    got, jobs = _jobs(spark, lambda: dedup.incremental_dedup_pairs(
        None, one, "doc_id", "text",
        corpus_signatures=dedup.load_signature_store(spark, stores["sig"], "doc_id"),
    ).collect())
    assert jobs == 3
    assert {(r["new_id"], r["corpus_id"]) for r in got} >= {(9, 1)}


def test_sidecar_bytes_are_pinned(spark, stores, tmp_path):
    """Sidecar names and JSON bytes of every store kind: stores written
    before and after the seam read each other's sidecars."""
    assert _sidecar(stores["sig"]) == (
        '{"id_col": "doc_id", "n_hashes": 8, "k": 2, "fingerprint": "v1"}')
    assert _sidecar(stores["bands"]) == (
        '{"id_col": "item_id", "n_bands": 4, "fingerprint": ""}')
    assert _sidecar(stores["bm25"]) == '{"id_col": "doc_id", "tokenizer": "split-space"}'

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 3), "click", 1.25),
         (2, dt.datetime(2024, 1, 2, 4), "view", 7.5)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    day, week = str(tmp_path / "day"), str(tmp_path / "week")
    rollup.save_rollup_store(ev, day, key_cols=["event_type"])
    assert _sidecar(day) == (
        '{"time_col": "ts", "key_cols": ["event_type"], "value_col": "value", '
        '"grain": "day", "scale": 100}')
    rollup.rollup_regrain(spark, day, week, "week")
    assert _sidecar(week) == (
        '{"time_col": "ts", "key_cols": ["event_type"], "value_col": "value", '
        '"scale": 100, "grain": "week"}')

    vecs = _vectors(spark)
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    cents = similarity.ivf_build_index(vecs, ivf, 4, n_centroids=2, iters=1)
    assert _sidecar(ivf, "centroids.json") == json.dumps(
        {"dim": 4, "n_centroids": 2, "centroids": cents})
    similarity.ivfpq_build_index(vecs, ivfpq, 4, n_centroids=2, nprobe_default=1,
                                 m=2, ksub=4, iters=1)
    text = _sidecar(ivfpq, "model.json")
    assert text.startswith(
        '{"dim": 4, "n_centroids": 2, "nprobe_default": 1, "m": 2, "ksub": 4, '
        '"centroids": [[')
    assert json.dumps(json.loads(text)) == text
    assert list(json.loads(text)) == [
        "dim", "n_centroids", "nprobe_default", "m", "ksub", "centroids", "books"]


def _vectors(spark):
    """Twenty 4-d vectors in two blobs."""
    rows = [(i, [float(5 if i % 2 else -5) + i / 100] * 4) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _rewrite_with_open(path: str, name: str) -> None:
    """Rewrite sidecar ``name`` the way the IVF indexes used to: plain
    `json.dump` through `open()`, with no Hadoop checksum file."""
    meta = json.loads(_sidecar(path, name))
    crc = os.path.join(path, f".{name}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with open(os.path.join(path, name), "w") as f:
        json.dump(meta, f)


def test_ivf_store_with_open_written_sidecar_opens(spark, tmp_path):
    vecs = _vectors(spark)
    queries = vecs.where(F.col("vec_id") < 4)
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    similarity.ivf_build_index(vecs, ivf, 4, n_centroids=2, iters=1)
    similarity.ivfpq_build_index(vecs, ivfpq, 4, n_centroids=2, nprobe_default=1,
                                 m=2, ksub=4, iters=1)

    def rows():
        return (
            sorted(map(tuple, similarity.topk_ivf_indexed(spark, ivf, queries, k=2).collect())),
            sorted(map(tuple, similarity.topk_ivfpq_indexed(spark, ivfpq, queries, k=2).collect())),
        )

    before = rows()
    assert all(before)
    _rewrite_with_open(ivf, "centroids.json")
    _rewrite_with_open(ivfpq, "model.json")
    assert rows() == before


def test_read_parquet_keeps_partition_column(spark, tmp_path):
    path = str(tmp_path / "parted")
    spark.range(6).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert "p" in df.columns
    assert sorted(map(tuple, df.collect())) == [(i, i % 2) for i in range(6)]


# --- the ast guard ---------------------------------------------------------

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "osmexpress_spark")

# Bare `spark.read.parquet` calls that read data the package did not
# write: (module, enclosing function) -> number of calls. Everything
# the package writes itself is read through `store.read_parquet`.
PARQUET_READ_ALLOWLIST = {
    ("store.py", "read_parquet"): 2,  # the reader itself
    ("queries.py", "t"): 1,  # fixture tables
    ("queries.py", "events"): 1,  # the events fixture
    ("queries_data.py", "_events_stream"): 1,  # the events fixture's schema
    ("sources/corpus.py", "read_documents"): 1,  # a user's corpus
}


def _modules():
    for dirpath, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path) as f:
                    yield rel, ast.parse(f.read(), rel)


def _functions(tree):
    """(node, name of the innermost enclosing def) for every node."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            yield child, inner
            yield from walk(child, inner)
    yield from walk(tree, "<module>")


def _receivers(node):
    """Attribute names along a call chain's receivers."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        node = node.func if isinstance(node, ast.Call) else node
        if isinstance(node, ast.Attribute):
            yield node.attr
            node = node.value


def _has_json_constant(node) -> bool:
    return any(isinstance(n, ast.Constant) and isinstance(n.value, str)
               and n.value.endswith(".json") for n in ast.walk(node))


def test_store_seam_guard():
    store_helpers, sidecar_opens, parquet_reads = [], [], {}
    for rel, tree in _modules():
        for node, fn in _functions(tree):
            if rel != "store.py":
                names = []
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    names = [node.name]
                elif isinstance(node, ast.ImportFrom):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.Attribute):
                    names = [node.attr]
                store_helpers += [f"{rel}: {n}" for n in names if n.startswith("_store_")]
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if rel.startswith("operators/") and (
                (isinstance(f, ast.Name) and f.id == "open" and _has_json_constant(node))
                or (isinstance(f, ast.Attribute) and f.attr in ("load", "dump")
                    and isinstance(f.value, ast.Name) and f.value.id == "json")
            ):
                sidecar_opens.append(f"{rel}:{node.lineno}")
            if isinstance(f, ast.Attribute) and f.attr == "parquet" and (
                    "read" in _receivers(f.value)):
                key = (rel, fn)
                parquet_reads[key] = parquet_reads.get(key, 0) + 1
    assert not store_helpers, "store helpers outside store.py: " + ", ".join(store_helpers)
    assert not sidecar_opens, "JSON sidecars opened without store.py: " + ", ".join(sidecar_opens)
    assert parquet_reads == PARQUET_READ_ALLOWLIST, (
        "read data the package writes through store.read_parquet; a read of "
        "outside data goes on PARQUET_READ_ALLOWLIST")
