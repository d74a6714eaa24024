"""Minimal HTTP server exposing Druid's endpoints (stdlib-only).

    python -m incubator_druid_spark.server --data-dir /root/testdata/sf0.01

POST /druid/v2/           → native JSON queries (api.native_query)
POST /druid/v2/sql/       → SQL (api.sql_query, Druid result formats)
GET  /druid/v1/lookups    → registered lookup names
GET  /druid/v1/lookups/X  → one lookup's key→value map
POST /druid/v1/lookups/X  → register/replace a lookup (body = the map)
GET  /status              → health + datasource list

One SparkSession serves all requests (Spark is internally concurrent; the
scheduler fair-shares jobs).  This is the transport shim over api.py — the
engine itself is server-free.
"""

from __future__ import annotations

import argparse
import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def make_handler(spark, catalog):
    from pyspark.errors import AnalysisException

    from incubator_druid_spark import api

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet
            pass

        def _send(self, code: int, payload, content_type="application/json"):
            body = (payload if isinstance(payload, (bytes, str))
                    else json.dumps(payload))
            if isinstance(body, str):
                body = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", content_type)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            from incubator_druid_spark.functions.lookups import (get_lookup,
                                                                 lookup_names)
            path = self.path.rstrip("/")
            if path == "/status":
                self._send(200, {"status": "ok",
                                 "datasources": catalog.names()})
            elif path == "/druid/v1/lookups":
                # LookupCoordinatorResource — list registered lookup names
                self._send(200, lookup_names())
            elif path.startswith("/druid/v1/lookups/"):
                try:
                    self._send(200, get_lookup(path.rsplit("/", 1)[1]))
                except KeyError as e:
                    self._send(404, {"error": str(e)})
                except ValueError as e:
                    # DataFrame-backed (URI) lookup: too large to serialize
                    self._send(400, {"error": str(e)})
            else:
                self._send(404, {"error": "not found"})

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            try:
                body = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError as e:
                self._send(400, {"error": f"bad json: {e}"})
                return
            if not isinstance(body, dict):
                # valid JSON but not an object ('"SELECT 1"', an array):
                # a structured 400, not an AttributeError-shaped 500
                self._send(400, {"error": "request body must be a JSON "
                                          f"object, got {type(body).__name__}"})
                return
            try:
                path = self.path.rstrip("/")
                if path.startswith("/druid/v1/lookups/"):
                    # register/replace a lookup: body is the key→value map
                    from incubator_druid_spark.functions.lookups import \
                        register_lookup
                    name = path.rsplit("/", 1)[1]
                    register_lookup(name, body)
                    catalog.register_lookup(name, body)
                    self._send(202, {"status": "accepted", "lookup": name})
                elif path == "/druid/v2":
                    self._send(200, api.native_query(body, spark, catalog))
                elif path == "/druid/v2/sql":
                    out = api.sql_query(body, spark, catalog)
                    ct = ("text/csv" if body.get("resultFormat") == "csv"
                          else "application/json")
                    self._send(200, out, ct)
                else:
                    self._send(404, {"error": "not found"})
            except (ValueError, KeyError, AnalysisException) as e:
                # unknown names and unparsable SQL (a ParseException) too
                self._send(400, {"error": str(e)})
            except api.QueryTimeoutError as e:
                # QueryResource maps QueryTimeoutException to 504
                self._send(504, {"error": str(e)})
            except Exception as e:  # noqa: BLE001 — surface as 500, keep serving
                self._send(500, {"error": f"{type(e).__name__}: {e}"})

    return Handler


def serve(host="127.0.0.1", port=8082, data_dir="/root/testdata/sf0.01"):
    from incubator_druid_spark import get_spark
    from incubator_druid_spark.catalog import load_catalog
    spark = get_spark("druid-spark-server")
    spark.sparkContext.setLogLevel("ERROR")
    catalog = load_catalog(spark, data_dir)
    httpd = ThreadingHTTPServer((host, port), make_handler(spark, catalog))
    print(f"listening on http://{host}:{port} "
          f"(datasources: {', '.join(catalog.names())})")
    httpd.serve_forever()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8082)
    ap.add_argument("--data-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    serve(args.host, args.port, args.data_dir)
