"""Command-line parity with the reference's `osmx` binary.

Dispatch mirrors `/root/reference/src/cmd.cpp:38-45`:

    python -m osmexpress_spark expand  SOURCE DATASET_DIR
    python -m osmexpress_spark extract DATASET_DIR OUTPUT (--bbox|--disc|--region) ...
    python -m osmexpress_spark update  DATASET_DIR CHANGE.osc [...] [--commit]
    python -m osmexpress_spark query   DATASET_DIR [node|way|relation ID]
    python -m osmexpress_spark serve   DATASET_DIR [--port N]

Option names follow the reference where it has them: `--bbox` /
`--region FILE` / `--expand N` (extract.cpp:70-143), `--noUserData`
(extract.cpp:73,111), `--commit` dry-run default (update.cpp:280-291).
Output format is picked by extension like `osmx extract`: .pbf ->
ordered PBF sink, .xml/.osm -> XML, anything else -> a re-extractable
parquet dataset directory.

Every command opens DATASET_DIR through `api.Dataset`, so it reads as
its latest committed snapshot when `update --commit` has published one,
else as the plain `expand` layout; `query`, `extract`, `audit` and
`serve` write nothing into it.
"""

from __future__ import annotations

import argparse
import sys


def _spark():
    from .session import get_spark

    return get_spark(app_name="osmx-cli")


def cmd_expand(args) -> int:
    from .api import Dataset

    Dataset.expand(
        _spark(),
        args.source,
        args.dest,
        partitions=args.partitions,
        materialize_edges=not args.no_edges,
    )
    print(f"expanded {args.source} -> {args.dest}")
    return 0


def _parse_region(args):
    from .spatial import Region

    if args.bbox:
        return Region(args.bbox, "bbox")
    if args.disc:
        return Region(args.disc, "disc")
    if args.region:
        return Region.from_file(args.region)
    print("extract: one of --bbox/--disc/--region is required", file=sys.stderr)
    raise SystemExit(2)


def cmd_extract(args) -> int:
    from .api import Dataset
    from .sources import sink

    ds = Dataset(_spark(), args.dataset)
    res = ds.extract(_parse_region(args), expand_cells=args.expand, exact=args.exact)
    out = args.output
    if out.endswith(".pbf"):
        # stamp the snapshot's replication timestamp into the output
        # header like the reference (src/extract.cpp:282-283)
        from datetime import datetime, timezone

        ts = ds.metadata().get("timestamp")
        epoch = (
            int(datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ")
                .replace(tzinfo=timezone.utc).timestamp())
            if ts else None
        )
        sink.write_pbf(res, out, user_data=not args.noUserData,
                       replication_timestamp=epoch)
    elif out.endswith(".xml") or out.endswith(".osm"):
        sink.write_xml(res, out)
    else:
        sink.write_dataset(res, out, user_data=not args.noUserData)
    print(f"extracted {args.dataset} -> {out}")
    return 0


def cmd_update(args) -> int:
    import os

    from .api import Dataset
    from .sources.osc import read_osc
    from .store import DEFAULT_SORT
    from .streaming.replication import apply_batch, committed_seqnum

    spark = _spark()
    ds = Dataset(spark, args.dataset)
    store = ds.store
    if not args.commit:
        # dry-run must leave the dataset byte-identical (reference
        # update.cpp:287-290): derive each batch's merge plans straight
        # from the .osc — no store bootstrap, no _versions dir, no
        # rewrite of data/. It still VALIDATES like the commit path
        # would: the dataset must exist, and already-committed seqnums
        # report as skipped.
        from .operators.update import merge_specs_for

        has_store = store.latest_version() is not None
        if not has_store and not os.path.isdir(
            os.path.join(args.dataset, "locations")
        ):
            print(f"error: {args.dataset} is not an expanded dataset "
                  "(no locations/ table and no committed store)",
                  file=sys.stderr)
            return 2
        committed = committed_seqnum(store) if has_store else 0
        for i, osc in enumerate(args.changes):
            seq = args.seqnum + i
            if seq <= committed:
                print(f"dry-run {osc}: skipped (seqnum {seq} already "
                      f"committed, store at {committed})")
                continue
            changes = read_osc(spark, osc, seqnum=seq)
            merge_specs_for(changes)  # parses + plans, then discards
            print(f"dry-run {osc}: batch derived and discarded "
                  "(pass --commit to publish)")
        return 0
    if store.latest_version() is None:
        # plain `expand` output (no manifests yet): bootstrap version 0
        # from the dataset-layout parquet dirs, edges included if present;
        # carry the expand metadata forward: its `timestamp` is what the
        # replication bootstrap resolves to a starting seqnum
        store.commit(
            ds.tables(),
            metadata={"bootstrap": "cli", **ds.metadata()},
            sort_by=DEFAULT_SORT,
        )
        print(f"bootstrapped store at {args.dataset} (version 0)")
    for i, osc in enumerate(args.changes):
        seq = args.seqnum + i
        changes = read_osc(spark, osc, seqnum=seq)
        applied = apply_batch(store, changes, seq, commit=True)
        if applied:
            print(f"applied {osc} (seqnum {seq}) -> version {store.latest_version()}")
        else:
            print(f"skipped {osc}: seqnum {seq} already committed")
    return 0


def make_geojson_server(spark, dataset: str, port: int = 0):
    """GeoJSON HTTP API with the reference example's URL contract
    (python/examples/web_server.py): GET /{node|way|relation}/{id} ->
    one GeoJSON Feature. Tables resolve once at startup (`Dataset`);
    each request is a point-lookup query. Returns an HTTPServer the
    caller serves (serve_forever / a test thread).

    Deliberate deviation, same as functions.relation_geojson: node
    coordinates are always (lon, lat); web_server.py:33 returns the
    raw (lat, lon) tuple for bare nodes, inconsistent with its own way
    coordinates — an upstream bug we do not replicate."""
    import json
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from pyspark.sql import functions as F

    from . import functions as fn
    from .api import Dataset

    tables = Dataset(spark, dataset).tables()

    def feature_for(etype: str, eid: int) -> dict | None:
        if etype == "node":
            rows = fn.node_geojson(
                tables["locations"].where(F.col("id") == eid),
                tables["nodes"].where(F.col("id") == eid),
            ).collect()
            if not rows:
                return None
            head = json.loads(rows[0]["feature_head"])
            head["geometry"] = json.loads(rows[0]["geometry"])
            return head
        if etype == "way":
            way = tables["ways"].where(F.col("id") == eid)
            props = way.select("tags").collect()
            if not props:
                return None
            geom = fn.way_geojson(way, tables["locations"]).collect()
            return {
                "type": "Feature",
                "properties": dict(props[0]["tags"] or {}),
                "geometry": json.loads(geom[0]["geometry"])
                if geom
                else {"type": "LineString", "coordinates": []},
            }
        if etype == "relation":
            rows = fn.relation_geojson(
                tables["relations"],
                tables["ways"],
                tables["locations"],
                roots=spark.createDataFrame([(eid,)], "id long"),
            ).collect()
            return json.loads(rows[0]["feature"]) if rows else None
        return None

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs
            pass

        def do_GET(self):
            parts = self.path.split("/")
            if len(parts) < 3 or parts[1] not in ("node", "way", "relation"):
                self.send_response(400)
                self.end_headers()
                self.wfile.write(b"bad request")
                return
            try:
                feature = feature_for(parts[1], int(parts[2]))
            except ValueError:
                self.send_response(400)
                self.end_headers()
                self.wfile.write(b"bad request")
                return
            if feature is None:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-type", "application/json")
            self.end_headers()
            self.wfile.write(json.dumps(feature).encode())

    return HTTPServer(("127.0.0.1", port), Handler)


def cmd_serve(args) -> int:
    srv = make_geojson_server(_spark(), args.dataset, args.port)
    print(f"serving {args.dataset} on http://127.0.0.1:{srv.server_port}")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


def cmd_query(args) -> int:
    if args.element_type and not args.id:
        print("query: ID required with an element type", file=sys.stderr)
        return 2
    if args.dataset.endswith(".osmx"):
        # literal-artifact parity: `osmx query planet.osmx [way ID]`
        # (src/cmd.cpp:44-109) served from the LMDB file itself — no
        # Spark session, stats straight from the stored MDB_db structs
        from .sources.osmx import OsmxFile

        with OsmxFile(args.dataset) as f:
            if args.element_type == "node":
                print({"id": args.id, "location": f.location(args.id),
                       "payload": f.node(args.id)})
            elif args.element_type:
                getter = getattr(f, args.element_type)
                print({"id": args.id, "payload": getter(args.id)})
            else:
                for name, n in sorted(f.stats().items()):
                    print(f"{name}: {n}")
        return 0

    from .api import Dataset

    ds = Dataset(_spark(), args.dataset)
    if args.element_type:
        ds.lookup(args.element_type, args.id).show(truncate=False)
    else:
        for name, n in ds.stats().items():
            print(f"{name}: {n}")
    return 0


def cmd_audit(args) -> int:
    """Referential-integrity report (operators/audit.py): dangling
    reference counts per category. Exit 1 when --strict and anything
    dangles, so CI pipelines can gate on snapshot health."""
    from .api import Dataset
    from .operators.audit import integrity_audit

    tables = Dataset(_spark(), args.dataset).tables()
    rows = integrity_audit(
        tables["locations"], tables["ways"], tables["relations"]
    ).collect()
    bad = 0
    for r in sorted(rows, key=lambda r: r["category"]):
        print(f"{r['category']}: {r['n_refs']} refs, "
              f"{r['n_dangling']} dangling")
        bad += r["n_dangling"]
    if args.strict and bad:
        print(f"audit: {bad} dangling references", file=sys.stderr)
        return 1
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="osmexpress_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pe = sub.add_parser("expand", help="bulk-load a .osm.pbf/.osm file")
    pe.add_argument("source")
    pe.add_argument("dest")
    pe.add_argument("--partitions", type=int, default=None)
    pe.add_argument("--no-edges", action="store_true",
                    help="skip reverse-index materialization")
    pe.set_defaults(fn=cmd_expand)

    px = sub.add_parser("extract", help="spatial region extract")
    px.add_argument("dataset")
    px.add_argument("output")
    px.add_argument("--bbox",
                    help="minLat,minLon,maxLat,maxLon "
                         "(write --bbox=-90,... when the first value is negative)")
    px.add_argument("--disc",
                    help="lat,lon,radiusDegrees (--disc=-41,... if negative)")
    px.add_argument("--region", help="GeoJSON (.json/.geojson) or osmosis .poly file")
    px.add_argument("--expand", type=int, default=0,
                    help="buffer the covering by N fine cells")
    px.add_argument("--exact", action="store_true",
                    help="exact containment refinement (P5)")
    px.add_argument("--noUserData", action="store_true",
                    help="drop changeset/uid/user (GDPR projection)")
    px.set_defaults(fn=cmd_extract)

    pu = sub.add_parser("update", help="apply OsmChange files")
    pu.add_argument("dataset")
    pu.add_argument("changes", nargs="+")
    pu.add_argument("--commit", action="store_true",
                    help="publish (default is dry-run, like the reference)")
    pu.add_argument("--seqnum", type=int, default=1)
    pu.set_defaults(fn=cmd_update)

    ps = sub.add_parser(
        "serve", help="GeoJSON HTTP API (examples/web_server.py parity)"
    )
    ps.add_argument("dataset")
    ps.add_argument("--port", type=int, default=8000)
    ps.set_defaults(fn=cmd_serve)

    pq = sub.add_parser("query", help="point lookup / stats report")
    pq.add_argument("dataset")
    pq.add_argument("element_type", nargs="?",
                    choices=("node", "way", "relation"))
    pq.add_argument("id", nargs="?", type=int)
    pq.set_defaults(fn=cmd_query)

    pa = sub.add_parser("audit", help="referential-integrity report")
    pa.add_argument("dataset")
    pa.add_argument("--strict", action="store_true",
                    help="exit 1 if any reference dangles")
    pa.set_defaults(fn=cmd_audit)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
