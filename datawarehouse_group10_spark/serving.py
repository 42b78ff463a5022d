"""HTTP serving layer for the mart — the reference's REST surface
(Backend/src/main/java/com/example/demo/MartController.java:19-31:
``GET /mart/all`` and ``GET /mart/statistic``) re-expressed over the
Spark-built mart, stdlib-only (http.server), no web framework.

Architecture note (the 100 TB-honest part): the server NEVER holds a
SparkSession per request. The mart is a serving AGGREGATE — ≤100 rows for
the two-digit domain, small for any real rollup — so the deployment shape
is: the warehouse job writes the mart layer to parquet, and this process
serves that materialization from memory, re-reading the file only when
its mtime changes. Spark computes; the serving tier reads the computed
artifact. (A per-request ``spark.sql`` would put a distributed scan on an
interactive path — wrong at any scale.)

Payload field names follow the reference DTO
(Backend/.../dtos/StatisticResponse.java:6-10: totalOccurrences,
mostNumber, leastNumber, lastUpdate).
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _jsonable(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def _load_mart_rows(mart_path: str) -> list[dict]:
    """Read the materialized mart parquet WITHOUT Spark (pyarrow) — the
    serving tier depends on the artifact, not the engine."""
    import pyarrow.parquet as pq

    table = pq.read_table(mart_path)
    return [
        {k: _jsonable(v) for k, v in row.items()}
        for row in table.to_pylist()
    ]


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

    >>> srv = MartServer("/path/to/mart.parquet"); srv.start()
    GET /mart/all        -> JSON array of mart rows
    GET /mart/statistic  -> the Q2 one-row DTO
    Both answer 503 until the first non-empty mart has loaded.
    """

    #: Seconds between artifact mtime re-checks: a dashboard refreshing at
    #: any human rate shouldn't trigger a directory walk per request.
    STAT_TTL_SEC = 1.0

    def __init__(self, mart_path: str, host: str = "127.0.0.1", port: int = 0):
        self._path = mart_path
        self._mtime: float | None = None
        self._rows: list[dict] = []
        self._checked_at: float = 0.0
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def do_GET(self):
                route = self.path.rstrip("/")
                rows = outer.rows() if route in ("/mart/all", "/mart/statistic") else None
                if not rows:
                    self.send_response(404 if rows is None else 503)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                data = json.dumps(rows if route == "/mart/all" else _statistic(rows)).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]

    def rows(self) -> list[dict]:
        """Cached mart rows, refreshed when the artifact's mtime moves —
        the serving tier notices a new warehouse-job run without restarts.
        The mtime walk itself is rate-limited to once per ``STAT_TTL_SEC``
        so request throughput never depends on directory size.

        A reload that raises or reads zero rows (a missing mart, or one
        caught mid-overwrite) keeps the last good rows and leaves the new
        mtime unrecorded, so the next check retries. Returns ``[]`` only
        before the first good load."""
        import time

        now = time.monotonic()
        with self._lock:
            fresh = self._mtime is not None and now - self._checked_at < self.STAT_TTL_SEC
            if fresh:
                return self._rows
        try:
            mtime = max(
                (os.path.getmtime(os.path.join(r, f))
                 for r, _, fs in os.walk(self._path) for f in fs),
                default=os.path.getmtime(self._path) if os.path.exists(self._path) else 0,
            )
        except FileNotFoundError:  # a file vanished mid-walk: a write is under way
            mtime = self._mtime
        with self._lock:
            if mtime != self._mtime:
                try:
                    rows = _load_mart_rows(self._path)
                except (OSError, ValueError):  # pyarrow's IO and parse errors
                    rows = []
                if rows:
                    self._rows, self._mtime = rows, mtime
            self._checked_at = now
            return self._rows

    def start(self) -> None:
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
