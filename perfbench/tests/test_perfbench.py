"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark process per workload at the smallest
size (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)
sys.path[:0] = [ROOT, PERFBENCH]

import inputs  # noqa: E402
import run  # noqa: E402
from harness import Recorder, Span  # noqa: E402


def test_same_seed_gives_identical_inputs():
    def osm(seed):
        rows = inputs.osm_rows(300, seed)
        return inputs.pbf_bytes(rows), inputs.change_batches(rows, 3, 40, seed)

    def corpus(seed):
        base = inputs.corpus(50, seed)
        batches = inputs.corpus_batches(base, 2, 30, seed)
        return base, batches, inputs.corpus_probes(base, batches, 4, seed)

    assert osm(7) == osm(7)
    assert corpus(7) == corpus(7)
    assert osm(7)[0] != osm(8)[0]
    assert corpus(7)[0] != corpus(8)[0]


def test_planted_near_duplicates_keep_their_shingles():
    text = inputs.corpus(1, 3)[0][1]
    dup = inputs.near_dup(text)

    def shingles(t):
        w = t.split(" ")
        return {(a, b) for a, b in zip(w, w[1:])}

    assert dup != text and shingles(dup) == shingles(text)


def test_reference_lsh_finds_the_planted_duplicates():
    from corpus_ingest import DedupModel

    base = inputs.corpus(200, 5)
    model = DedupModel(base)
    for batch in inputs.corpus_batches(base, 2, 60, 5):
        low = set(batch["low_quality"])
        inc, pairs, survivors = model.curate(
            [(d, t) for d, t in batch["docs"] if d not in low])
        assert set(batch["corpus_dups"].items()) <= inc
        assert set(batch["batch_pairs"]) <= pairs
        assert survivors <= set(batch["survivors"])


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_self_time_subtracts_children():
    rec = Recorder.__new__(Recorder)
    parent, child = Span(0, None, "a", "a", {}), Span(1, 0, "b", "b", {})
    parent.t0, parent.t1 = 0.0, 10.0
    child.t0, child.t1 = 2.0, 5.0
    rec.spans = [parent, child]
    assert rec.self_times() == {0: 7.0, 1: 3.0}
    assert rec.layer_totals()["a"]["s"] == 7.0


def _bench(*args):
    out = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"), *args, "--seed", "1",
         "--seconds", "30", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_smoke_run(workload):
    result = _bench("--workload", workload, "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_trace_parses_with_nonnegative_self_times():
    result = _bench("--workload", "corpus_ingest", "--trace", "1")
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    with open(os.path.join(ROOT, ".perfbench_out",
                           "corpus_ingest-s1-t1-tiny.trace.json")) as f:
        trace = json.load(f)
    assert trace["spans"]
    ids = {s["id"] for s in trace["spans"]}
    for s in trace["spans"]:
        assert s["self_s"] >= 0 and s["t1"] >= s["t0"]
        assert s["parent"] is None or s["parent"] in ids
    layers = {s["layer"] for s in trace["spans"]}
    assert {"dedup", "media", "shards"} <= layers
    for layer in layers & set(run.LAYERS):
        assert result["metrics"][f"{layer}.s"]["value"] >= 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"), "--workload",
         "corpus_ingest", "--seed", "1", "--seconds", "30", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""
