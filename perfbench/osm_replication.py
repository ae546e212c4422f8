"""osm_replication: a served OSM store taking minutely replication.

Set-up creates a `SnapshotStore` from seeded rows (`testing.generate`),
then commits and looks up one untimed warm-up batch, so that every timed
operation runs warm. Each round of the fixed timed sequence then takes
one minutely batch (`testing.generate_changes`):

1. `replication.apply_batch` (`op_p50_s`, the replication lag), checked
   to publish the batch's seqnum;
2. two read-your-writes point lookups through `store.read_table`
   (`lookup_p50_s`): a changed node and a changed way, each checked
   against the benchmark's own model of the store.

Every commit adds a merge-on-read delta layer to each touched table, so
the timed rounds read 2 to 3 layers. The untraced run has no augmented
diff: a warm diff costs 10-16 s and its warm-up as much again, which
does not fit the run budget beside the store build (see README).

The traced run then goes through one whole compaction period, outside
the end-to-end timings. It diffs the next batch against the live
snapshot (`augmented_diff`, checked against the model) at the depth the
timed rounds left, commits batches, looks up a node at 16 layers, and
commits until one commit compacts a table. Last, it looks up the
compacting batch's changes, a relation and a missing node. A second
diff deeper in the period would take the traced run too close to the
180 s a run may take on a slow host.
"""

from __future__ import annotations

import collections
import json
import os
import random

from harness import dir_bytes, median

import inputs

PRIMARY_OP = "commit"
LOOKUP_OP = "lookup"

# Sizes fit the run budget; no measured deployment backs them. Each
# operation's cost is mostly fixed Spark job overhead, so a larger store
# mainly adds set-up time.
N_NODES, N_NODES_TINY = 1000, 300
PER_BATCH = 40
# nominal seconds of one timed round; --seconds / ROUND_S rounds are timed
ROUND_S = 7.5
# merge_commit's default: a commit that would give a table a 17th layer
# compacts it instead
MAX_LAYERS = 16
LOOKUP_TABLE = {"node": "locations", "way": "ways", "relation": "relations"}


class Live:
    """The benchmark's own model of the store's current elements, used
    to predict diff actions and read-your-writes results."""

    def __init__(self, rows):
        self.elems = {
            "node": {r[0]: (r[1], r[2]) for r in rows["locations"]},
            "way": {r[0]: list(r[1]) for r in rows["ways"]},
            "relation": {r[0]: ([tuple(m) for m in r[1]], r[2]) for r in rows["relations"]},
        }

    @staticmethod
    def last_wins(batch):
        """One change per (type, id): highest version, then seqnum."""
        best = {}
        for row in batch:
            key = (row[2], row[3])
            rank = (row[10][0], row[0])
            if key not in best or rank > best[key][0]:
                best[key] = (rank, row)
        return [row for _, row in best.values()]

    @staticmethod
    def image(row):
        kind = row[2]
        if kind == "node":
            return (row[5], row[6])
        if kind == "way":
            return list(row[7])
        return ([tuple(m) for m in row[8]], row[9])

    def diff_actions(self, batch) -> collections.Counter:
        out = collections.Counter()
        for row in self.last_wins(batch):
            live = row[3] in self.elems[row[2]]
            if not row[4]:
                action = "delete" if live else "delete_not_in_db"
            else:
                action = "modify" if live else "create"
            out[(row[2], action)] += 1
        return out

    def apply(self, batch) -> None:
        for row in self.last_wins(batch):
            if row[4]:
                self.elems[row[2]][row[3]] = self.image(row)
            else:
                self.elems[row[2]].pop(row[3], None)


def _layers(store) -> dict[str, int]:
    """Merge-on-read layer count of each table of the live snapshot,
    read from the store's published manifest."""
    with open(os.path.join(store.root, "_versions",
                           f"v{store.latest_version():012d}.json")) as f:
        tables = json.load(f)["tables"]
    return {t: len(e.get("layers", [])) if isinstance(e, dict) else 0
            for t, e in tables.items()}


def _image(kind, row):
    """A store row as the model's image of that element."""
    if kind == "node":
        return (row["lon"], row["lat"])
    if kind == "way":
        return list(row["nodes"])
    return ([tuple(m) for m in row["members"]], dict(row["tags"] or {}))


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from osmexpress_spark import schemas, testing
    from osmexpress_spark.operators.diff import augmented_diff
    from osmexpress_spark.store import DEFAULT_SORT, SnapshotStore
    from osmexpress_spark.streaming import replication

    spark, rec = ctx.spark, ctx.rec
    rows = inputs.osm_rows(N_NODES_TINY if ctx.tiny else N_NODES, ctx.seed)
    ctx.input_bytes = len(inputs.pbf_bytes(rows))

    with rec.span("store", "create"):
        store = SnapshotStore.create(
            spark, ctx.path("store"), testing.to_dataframes(spark, rows),
            metadata={"seqnum": 0}, sort_by=DEFAULT_SORT,
        )
    live = Live(rows)
    rounds = 1 if ctx.tiny else max(1, round(ctx.seconds / ROUND_S))
    # warm-up, timed rounds, then (traced) enough batches to compact
    n_batches = 1 + rounds + (MAX_LAYERS + 1 if rec.trace else 0)
    batches = inputs.change_batches(rows, n_batches, PER_BATCH, ctx.seed)
    store_bytes0 = dir_bytes(store.root)
    store_rows = 0

    def depth(table=None) -> int:
        """Layers read (traced runs only: reading the manifest is the
        benchmark's own bookkeeping, kept out of untraced timings)."""
        if not rec.trace:
            return 0
        layers = _layers(store)
        return layers[table] if table else max(layers.values())

    def diff_op(batch, batch_df):
        layers = depth()
        with rec.span("diff", "batch", layers=layers):
            with rec.span("diff", "build"):
                with rec.span("store", "resolve", layers=layers):
                    snapshot = store.read_all()
                diff = augmented_diff(snapshot, batch_df)
            with rec.span("diff", "exec", layers=layers) as sp:
                got = diff.collect()
                sp.attrs["rows"] = len(got)
        have = collections.Counter((r["type"], r["action"]) for r in got if r["direct"])
        want = live.diff_actions(batch)
        rec.check(have == want, f"diff seq {batch[0][0]}: {dict(have)} != {dict(want)}")

    def commit_op(batch, batch_df):
        nonlocal store_rows
        seq = batch[0][0]
        before = _layers(store) if rec.trace else None
        with rec.op("commit", layer="replication", label="apply") as sp:
            applied = replication.apply_batch(store, batch_df, seq)
        if sp is not None:
            after = _layers(store)
            sp.attrs.update(layers_before=before, layers_after=after)
            if any(after[t] < before[t] for t in before):
                sp.name = "compact"
        rec.check(applied and store.metadata()["seqnum"] == seq, f"commit seq {seq}")
        live.apply(batch)
        store_rows += len(batch)

    def lookup_op(kind, elem_id):
        table = LOOKUP_TABLE[kind]
        layers = depth(table)
        with rec.op("lookup", label=kind, layers=layers):
            with rec.span("store", "resolve", layers=layers):
                df = store.read_table(table)
            got = df.where(F.col("id") == elem_id).collect()
        have = [_image(kind, r) for r in got]
        want = [live.elems[kind][elem_id]] if elem_id in live.elems[kind] else []
        rec.check(have == want, f"lookup {kind} {elem_id}")

    def changed(batch):
        """Read-your-writes: the lowest changed node and way ids."""
        ids = collections.defaultdict(list)
        for row in Live.last_wins(batch):
            ids[row[2]].append(row[3])
        return [("node", min(ids["node"], default=rows["locations"][0][0])),
                ("way", min(ids["way"], default=rows["ways"][0][0]))]

    def one_round(batch):
        commit_op(batch, spark.createDataFrame(batch, schemas.CHANGES_SCHEMA))
        for kind, elem_id in changed(batch):
            lookup_op(kind, elem_id)
        return len(batch)

    with rec.span("session", "warmup"):
        one_round(batches[0])
    ctx.begin_timed()
    ctx.items = sum(one_round(batch) for batch in batches[1:1 + rounds])
    ctx.end_timed()
    ctx.output_bytes = dir_bytes(store.root)

    if not rec.trace:
        return
    # --- traced only: one whole compaction period ---------------------------
    # Diff at the depth the timed rounds left, look up at MAX_LAYERS, and
    # commit until one commit compacts. Operations from here on are
    # outside the end-to-end timings.
    prev, first = batches[rounds], batches[1 + rounds]
    diff_op(first, spark.createDataFrame(first, schemas.CHANGES_SCHEMA))
    for batch in batches[1 + rounds:]:
        batch_df = spark.createDataFrame(batch, schemas.CHANGES_SCHEMA)
        if depth() == MAX_LAYERS:
            lookup_op(*changed(prev)[0])
        commit_op(batch, batch_df)
        prev = batch
        if rec.named("replication", "compact"):
            break
    rng = random.Random(ctx.seed)
    for kind, elem_id in [*changed(prev), ("relation", rng.choice(rows["relations"])[0]),
                          ("node", 10_000_000_000 + prev[0][0])]:
        lookup_op(kind, elem_id)

    ex = ctx.extra
    for kind in ("node", "way", "relation"):
        ex[f"lookup.{kind}_s"] = median([s.t1 - s.t0 for s in rec.named("lookup", kind)])
    dbuild = rec.named("diff", "build")
    ex["diff.build_s"] = median([s.t1 - s.t0 for s in dbuild])
    ex["diff.build_jobs"] = median([s.jobs for s in dbuild])
    dexec = rec.named("diff", "exec")
    ex["diff.exec_s"] = median([s.t1 - s.t0 for s in dexec])
    ex["diff.rows"] = sum(s.attrs.get("rows", 0) for s in dexec)
    ex["replication.apply_s"] = median(
        [s.t1 - s.t0 for s in rec.named("replication", "apply")])
    compacts = rec.named("replication", "compact")
    ex["replication.compact_s"] = sum(s.t1 - s.t0 for s in compacts)
    ex["replication.compactions"] = len(compacts)
    resolves = rec.named("store", "resolve")
    ex["store.resolve_s"] = median([s.t1 - s.t0 for s in resolves])
    ex["store.layers_read"] = sum(s.attrs["layers"] for s in resolves) / max(1, len(resolves))
    ex["store.bytes_written_per_row"] = (dir_bytes(store.root) - store_bytes0) / max(1, store_rows)
    ex["store.mb"] = dir_bytes(store.root) / 2**20
