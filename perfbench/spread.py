"""Run the benchmark on several seeds and report each end-to-end metric's
spread: median, quartiles and the inter-quartile range as a share of
the median (`statistics.quantiles(values, n=4)`), next to its bound.

    python3 perfbench/spread.py --workload corpus_ingest --seeds 1-10

Run from the root of a checkout. Runs are sequential. The per-run
records (seed, nproc, loadavg at start and end, CPU steal, Spark and
Python versions) and the summary go to `.perfbench_out/spread-<workload>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> dict[str, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in parse_seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        record, result = json.loads(out[-2]), json.loads(out[-1])
        runs.append({"record": record, "result": result})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {record['run_s']:.1f}s correct={result['correct']} "
              f"load={record['loadavg_start'][:1]}->{record['loadavg_end'][:1]} "
              f"steal={record['cpu_steal_s']:.1f}s {vals}",
              flush=True)

    summary = {}
    for name, bound in bounds.items():
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        summary[name] = {**spread(values), "bound": bound}
        s = summary[name]
        print(f"{name:14s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
              f"iqr/median {s['iqr_share']:.3f}  bound {bound}")
    os.makedirs(".perfbench_out", exist_ok=True)
    with open(os.path.join(".perfbench_out", f"spread-{args.workload}.json"), "w") as f:
        json.dump({"summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
