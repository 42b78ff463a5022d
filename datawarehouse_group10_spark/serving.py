"""HTTP serving layer for the mart — the reference's REST surface
(Backend/src/main/java/com/example/demo/MartController.java:19-31:
``GET /mart/all`` and ``GET /mart/statistic``) re-expressed over the
Spark-built mart, stdlib-only (http.server), no web framework.

Architecture note (the 100 TB-honest part): the server NEVER holds a
SparkSession per request. The mart is a serving AGGREGATE — ≤100 rows for
the two-digit domain, small for any real rollup — so the deployment shape
is: the warehouse job publishes the mart as parquet behind a symlink
(``parquet_source.publish_layer``), and this process serves it from
memory, re-reading it only when the link names a new version. Spark
computes; the serving tier reads the computed artifact with pyarrow. (A
per-request ``spark.sql`` would put a distributed scan on an interactive
path — wrong at any scale.)

Payload field names follow the reference DTO
(Backend/.../dtos/StatisticResponse.java:6-10: totalOccurrences,
mostNumber, leastNumber, lastUpdate).
"""

from __future__ import annotations

import decimal
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlsplit

import pyarrow.parquet as pq


def _json(v) -> bytes:
    """JSON body; parquet decimals encode as numbers, dates as ISO text."""
    return json.dumps(
        v, default=lambda x: float(x) if isinstance(x, decimal.Decimal) else x.isoformat()
    ).encode()


def _statistic(rows: list[dict]) -> dict:
    """Q2 semantics (MartRepository.java:14-33): max total_draws, argmax /
    argmin of total_occurrences (deterministic tie-break on the numeric
    value, matching the pipeline's documented deviation), max date.
    ``rows`` is never empty: the server answers 503 instead."""

    def num(r):
        return int(r["number_value"])

    most = min(rows, key=lambda r: (-int(r["total_occurrences"]), num(r)))
    least = min(rows, key=lambda r: (int(r["total_occurrences"]), num(r)))
    return {
        "totalOccurrences": max(int(r["total_draws"]) for r in rows),
        "mostNumber": num(most),
        "leastNumber": num(least),
        "lastUpdate": max(r["last_appeared_date"] for r in rows),
    }


class MartServer:
    """Serves a materialized mart parquet over the reference's two routes.

    >>> srv = MartServer("/path/to/mart"); srv.start()
    GET /mart/all        -> JSON array of mart rows
    GET /mart/statistic  -> the Q2 one-row DTO
    Both answer 503 until the first non-empty mart has loaded.
    """

    def __init__(self, mart_path: str, host: str = "127.0.0.1", port: int = 0):
        self._path = mart_path
        self._key: tuple[int, int] | None = None
        self._rows: list[dict] = []
        self._bodies: dict[str, bytes] = {}
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def do_GET(self):
                route = urlsplit(self.path).path.rstrip("/")
                rows = outer.rows() if route in ("/mart/all", "/mart/statistic") else None
                data = outer._bodies[route] if rows else b""
                self.send_response(200 if rows else 404 if rows is None else 503)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]

    def rows(self) -> list[dict]:
        """Cached mart rows. One ``os.stat`` per call: a new
        ``(st_ino, st_mtime_ns)`` (a publish names a new directory, an
        in-place rewrite moves the mtime) is loaded once, through the
        resolved link, with both bodies encoded. A load that raises or reads
        zero rows keeps the last good rows; ``[]`` until the first."""
        try:
            st = os.stat(self._path)
            key = (st.st_ino, st.st_mtime_ns)
        except OSError:  # nothing published at the path
            key = None
        if key != self._key:
            with self._lock:
                if key != self._key:
                    try:
                        rows = pq.read_table(os.path.realpath(self._path)).to_pylist()
                    except (OSError, ValueError):  # pyarrow's IO and parse errors
                        rows = []
                    if rows:
                        self._bodies = {"/mart/all": _json(rows),
                                        "/mart/statistic": _json(_statistic(rows))}
                        self._rows = rows
                    self._key = key
        return self._rows

    def start(self) -> None:
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
