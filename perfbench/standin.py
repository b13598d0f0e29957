"""ClickHouse HTTP stand-in for the benchmark, run as its own process.

Run: ``python3 perfbench/standin.py``. It binds 127.0.0.1 on a free port,
prints ``PORT <n>`` on stdout and serves until it receives SIGTERM. It
runs in a process of its own so that inflating and counting rows does
not take the GIL of the driver under measurement.

It speaks the part of the ClickHouse HTTP interface that
``sinks.clickhouse_http.ClickHouseHttpSink`` uses:

- ``INSERT INTO <t> FORMAT CSV`` with the statement in the ``query``
  URL parameter and a ``Content-Encoding: gzip`` body. The body is
  inflated and its rows are counted per ``batch_id`` (the last CSV
  field, which the sink appends).
- ``insert_deduplication_token``: a POST whose token was seen before is
  acknowledged with 200 and its rows are not counted again.
- ``ALTER TABLE <t> DROP PARTITION <batch>`` as the body: the sink's
  reset hook on its retry path.

Every INSERT POST is logged as ``[arrival, raw_bytes, gz_bytes, rows,
batch, duplicate, bad_rows]``, where ``arrival`` is ``time.monotonic()``
(one clock for every process on the host) and ``bad_rows`` counts lines
whose field count differs from the first line's. ``GET /_stats?since=i``
returns the per-batch row counts, the total of malformed lines and the
POST log from entry ``i`` on.
"""

from __future__ import annotations

import gzip
import json
import re
import signal
import sys
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_INSERT = re.compile(r"INSERT\s+INTO\s+(\w+)(?:\s+FORMAT\s+(\w+))?", re.I)
_DROP = re.compile(r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+PARTITION\s+(\S+)", re.I)


class Store:
    """Row counts and the POST log, guarded by one lock: the sink POSTs
    from several executor tasks at once."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.batches: dict[str, int] = {}
        self.tokens: set[str] = set()
        self.posts: list[list] = []
        self.bad_rows = 0

    def insert(self, raw: bytes, gz_bytes: int, token: str | None,
               arrival: float) -> None:
        rows = raw.count(b"\n") + (0 if raw.endswith(b"\n") or not raw else 1)
        counts, bad = _batch_counts(raw, rows)
        with self.lock:
            dup = token is not None and token in self.tokens
            if token is not None:
                self.tokens.add(token)
            if not dup:
                for batch, n in counts.items():
                    self.batches[batch] = self.batches.get(batch, 0) + n
                self.bad_rows += bad
            batch = next(iter(counts)) if len(counts) == 1 else None
            self.posts.append(
                [arrival, len(raw), gz_bytes, rows, batch, dup, bad]
            )

    def drop(self, batch: str) -> None:
        with self.lock:
            self.batches.pop(batch, None)

    def stats(self, since: int) -> dict:
        with self.lock:
            return {
                "batches": dict(self.batches),
                "bad_rows": self.bad_rows,
                "posts": self.posts[since:],
                "n_posts": len(self.posts),
            }


def _batch_counts(raw: bytes, rows: int) -> tuple[dict[str, int], int]:
    """Rows per batch id (the last field) and the number of lines whose
    field count differs from the first line's. The common case — every
    line carries the same batch id and field count — is settled by two
    byte counts; anything else falls back to a per-line pass."""
    if rows == 0:
        return {}, 0
    first = raw[: raw.index(b"\n")] if b"\n" in raw else raw
    last_nl = raw.rstrip(b"\n")
    tag = last_nl[last_nl.rfind(b",") + 1:]
    commas = first.count(b",")
    if (raw.count(b"," + tag + b"\n") == rows
            and raw.count(b",") == commas * rows):
        return {tag.decode(): rows}, 0
    counts: dict[str, int] = {}
    bad = 0
    for line in raw.split(b"\n"):
        if not line:
            continue
        if line.count(b",") != commas:
            bad += 1
        key = line[line.rfind(b",") + 1:].decode()
        counts[key] = counts.get(key, 0) + 1
    return counts, bad


def _make_handler(store: Store):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _reply(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urllib.parse.urlparse(self.path)
            if url.path == "/_stats":
                q = urllib.parse.parse_qs(url.query)
                since = int(q.get("since", ["0"])[0])
                self._reply(200, json.dumps(store.stats(since)).encode())
            else:
                self._reply(404, b"unknown path")

        def do_POST(self):
            arrival = time.monotonic()
            url = urllib.parse.urlparse(self.path)
            length = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(length) if length else b""
            try:
                status, out = self._execute(url, body, arrival)
            except Exception as exc:  # noqa: BLE001 — answer like the server
                status, out = 500, f"Code: 1000. {exc}".encode()
            self._reply(status, out)

        def _execute(self, url, body: bytes, arrival: float):
            params = urllib.parse.parse_qs(url.query)
            gz_bytes = 0
            if self.headers.get("Content-Encoding") == "gzip":
                gz_bytes = len(body)
                body = gzip.decompress(body)
            if "query" in params:
                query, data = params["query"][0], body
            else:
                query, data = body.decode(), b""
            query = query.strip()
            m = _INSERT.match(query)
            if m:
                if (m.group(2) or "CSV").upper() != "CSV":
                    return 500, b"Code: 73. unsupported format"
                token = params.get("insert_deduplication_token", [None])[0]
                store.insert(data, gz_bytes, token, arrival)
                return 200, b""
            m = _DROP.match(query)
            if m:
                store.drop(m.group(2).strip("'\""))
                return 200, b""
            return 500, f"Code: 62. unsupported statement {query[:60]}".encode()

    return Handler


def main() -> int:
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(Store()))
    server.daemon_threads = True
    signal.signal(
        signal.SIGTERM,
        lambda *_: threading.Thread(target=server.shutdown).start(),
    )
    print(f"PORT {server.server_port}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
