"""End-to-end benchmark of osmexpress_spark: one closed-loop client in
one process, a fixed seeded sequence of operations per run.

    python3 perfbench/run.py --workload osm_replication --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. Workloads: osm_replication and
corpus_ingest (see perfbench/README.md). `--seconds`
sets the length of the fixed operation sequence through each workload's
nominal rate; the run does not stop on a clock, so every run with the
same arguments performs the same operations on the same data.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`).
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# end-to-end metrics, reported by every workload (untraced run)
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "lookup_p50_s": "s",
    "space_amp": "ratio",
}

LAYERS = (
    "session", "lookup", "diff", "replication", "store", "dedup", "media",
    "shards",
)

# per-layer metrics (traced run): the four counters of every layer, then
# each layer's own measurements
PER_LAYER = {
    **{
        f"{layer}.{m}": u
        for layer in LAYERS
        for m, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"),
                     ("failed_tasks", "count"))
    },
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "trace.escaped_jobs": "count",
    "trace.overhead_s": "s",
    "lookup.node_s": "s",
    "lookup.way_s": "s",
    "lookup.relation_s": "s",
    "diff.build_s": "s",
    "diff.build_jobs": "count",
    "diff.exec_s": "s",
    "diff.rows": "count",
    "replication.apply_s": "s",
    "replication.compact_s": "s",
    "replication.compactions": "count",
    "replication.escaped_jobs": "count",
    "store.resolve_s": "s",
    "store.layers_read": "count",
    "store.bytes_written_per_row": "bytes",
    "store.mb": "MB",
    "dedup.build_s": "s",
    "dedup.build_jobs": "count",
    "dedup.candidate_pairs": "count",
    "dedup.removed_frac": "ratio",
    "media.decode_ok_frac": "ratio",
    "codec.jpeg_us_per_doc": "us",
    "codec.mp3_us_per_doc": "us",
    "codec.flac_us_per_doc": "us",
    "shards.write_s": "s",
    "shards.verify_s": "s",
    "shards.mb": "MB",
}

WORKLOADS = ("osm_replication", "corpus_ingest")


class Context:
    """What a workload gets: the session, the recorder and its sizes.
    A workload calls `begin_timed()` once its set-up and warm-up are
    done and `end_timed()` after its timed sequence (a traced run goes
    on after it), and fills in `items`, `input_bytes`, `output_bytes` and
    `extra` (per-layer measurements of its own)."""

    def __init__(self, spark, rec, seed, seconds, work, tiny):
        self.spark = spark
        self.rec = rec
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tiny = tiny
        self.items = 0
        self.input_bytes = 0
        self.output_bytes = 0
        self.extra: dict[str, float] = {}
        self.t_timed = None
        self.timed_ops: dict[str, list[float]] = {}
        self.timed_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def begin_timed(self) -> None:
        self.t_timed = time.perf_counter()
        self.rec.reset()

    def end_timed(self) -> None:
        """Freeze the timings the end-to-end metrics come from."""
        self.timed_ops = {k: list(v) for k, v in self.rec.ops.items()}
        self.timed_s = self.rec.timed_s


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (the `steal` column of /proc/stat); 0 where there is none."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return []


def _start_spark(work: str, cores: int):
    from osmexpress_spark import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = get_spark(
        app_name="perfbench",
        cpus=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(ctx, workload_mod, setup_s: float) -> dict[str, float]:
    from harness import median

    timed_s = ctx.timed_s
    return {
        "setup_s": setup_s,
        "items_per_s": ctx.items / timed_s if timed_s > 0 else 0.0,
        "op_p50_s": median(ctx.timed_ops.get(workload_mod.PRIMARY_OP, [])),
        "lookup_p50_s": median(ctx.timed_ops.get(workload_mod.LOOKUP_OP, [])),
        "space_amp": ctx.output_bytes / ctx.input_bytes if ctx.input_bytes else 0.0,
    }


def per_layer(ctx, spark, session_s: float) -> dict[str, float]:
    from harness import jvm_stats

    rec = ctx.rec
    out = {name: 0.0 for name in PER_LAYER}
    for layer, tot in rec.layer_totals().items():
        if layer not in LAYERS:
            continue
        for m in ("s", "jobs", "tasks", "failed_tasks"):
            out[f"{layer}.{m}"] = float(tot[m])
        if f"{layer}.escaped_jobs" in out:
            out[f"{layer}.escaped_jobs"] = float(tot["escaped_jobs"])
        out["trace.escaped_jobs"] += float(tot["escaped_jobs"])
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = rec.trace_overhead_s
    out.update(jvm_stats(spark))
    out.update({k: float(v) for k, v in ctx.extra.items() if k in out})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs and sequence (smoke tests)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "osmexpress_spark", "__init__.py")):
        print("perfbench: run from the root of an osmexpress_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    import importlib

    from harness import Recorder

    workload_mod = importlib.import_module(args.workload)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    load_start = _loadavg()
    steal_start = _steal_s()

    spark = _start_spark(work, cores)
    session_s = time.perf_counter() - _T_START
    try:
        rec = Recorder(spark.sparkContext, trace=bool(args.trace))
        ctx = Context(spark, rec, args.seed, args.seconds, work, args.tiny)
        workload_mod.run(ctx)
        t_end = time.perf_counter()
        setup_s = ctx.t_timed - _T_START
        if args.trace:
            metrics = per_layer(ctx, spark, session_s)
            units = PER_LAYER
        else:
            metrics = end_to_end(ctx, workload_mod, setup_s)
            units = END_TO_END
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": cores,
            "loadavg_start": load_start, "loadavg_end": _loadavg(),
            "cpu_steal_s": _steal_s() - steal_start,
            "spark": spark.version, "python": platform.python_version(),
            "run_s": t_end - _T_START, "timed_s": ctx.timed_s,
            "ops": {k: len(v) for k, v in ctx.timed_ops.items()},
            "end_to_end": end_to_end(ctx, workload_mod, setup_s),
            "failures": rec.failures[:20],
        }
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}"
                            + ("-tiny" if args.tiny else ""))
        if args.trace:
            rec.write_trace(stem + ".trace.json", record)
        with open(stem + ".run.json", "w") as f:
            json.dump(record, f)
        print(json.dumps(record))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
