"""Parity with /root/reference/python/examples/web_server.py — serve
element GeoJSON over HTTP from a dataset snapshot (stdlib http.server
in place of Flask, which isn't in this environment; same URL shape:
/node/ID /way/ID /relation/ID). Each answer is one GeoJSON Feature from
the CLI's `serve` server (`make_geojson_server`): 404 for an unknown
id, 400 for any other path.

Usage: python examples/web_server.py DATASET_DIR [PORT]
"""

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from osmexpress_spark import get_spark
from osmexpress_spark.__main__ import make_geojson_server


def main(dataset: str, port: int = 8000) -> None:
    srv = make_geojson_server(get_spark(app_name="web_server"), dataset, port)
    print(f"serving {dataset} on :{srv.server_port} — /node/ID /way/ID /relation/ID")
    srv.serve_forever()


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 8000)
