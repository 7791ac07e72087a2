"""HTTP/1.1 stub of the event-ingestion API the HTTP sink posts to.

Per request it does only O(bytes) work in C: gunzip the body and run
compiled regexes over it. Every event carries ``$insert_id`` =
``<key>.<row>`` where ``<key>`` names the source file, so the stub can
count acknowledged events per file without parsing JSON. A per-pass
script answers 503 once for batches holding a trigger id (the sink
retries them) and 400 for any batch holding a poison id (the sink
routes the whole batch to its DLQ).
"""

from __future__ import annotations

import re
import threading
import time
import zlib
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

KEY_RE = re.compile(rb'"\$insert_id":"([a-z][0-9]+\.[0-9]+)\.[0-9]+"')


def _id_alternation(ids) -> re.Pattern | None:
    if not ids:
        return None
    alt = b"|".join(re.escape(i.encode()) for i in sorted(ids))
    return re.compile(rb'"\$insert_id":"(' + alt + rb')"')


class Stub:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.reset()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args) -> None:
                pass

            def do_POST(self) -> None:
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers["Content-Length"]))
                status = stub._handle(body, t0)
                reply = b'{"status":%d}' % status
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(reply)))
                self.end_headers()
                self.wfile.write(reply)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(
            target=self._server.serve_forever, kwargs={"poll_interval": 0.05},
            daemon=True,
        )
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}/track"

    def reset(self, expected=None, retry_ids=(), poison_ids=(),
              sample_keys=()) -> None:
        """Clear the records and arm a new script for the next pass.
        ``expected`` maps file key -> events it should deliver; a file is
        done when that many of its events were acknowledged or rejected."""
        with self._lock:
            self.expected = {k.encode(): v for k, v in (expected or {}).items()}
            self.done_at: dict[str, float] = {}
            self.requests: list[tuple[float, float, int, int, int]] = []
            self.acked: Counter = Counter()
            self.rejected: Counter = Counter()
            self.sampled: list[bytes] = []
            self._retry_re = _id_alternation(retry_ids)
            self._retry_used: set[bytes] = set()
            self._poison_re = _id_alternation(poison_ids)
            self._sample_re = None
            if sample_keys:
                alt = b"|".join(re.escape(k.encode()) for k in sorted(sample_keys))
                self._sample_re = re.compile(
                    rb'^[^\n]*"\$insert_id":"(?:' + alt + rb')\.[0-9]+"[^\n]*$',
                    re.M,
                )

    def _handle(self, body: bytes, t0: float) -> int:
        payload = zlib.decompress(body, 16 + zlib.MAX_WBITS)
        keys = KEY_RE.findall(payload)
        status = 200
        if self._poison_re is not None and self._poison_re.search(payload):
            status = 400
        elif self._retry_re is not None:
            m = self._retry_re.search(payload)
            if m is not None:
                with self._lock:
                    if m.group(1) not in self._retry_used:
                        self._retry_used.add(m.group(1))
                        status = 503
        sampled = (
            self._sample_re.findall(payload)
            if status == 200 and self._sample_re is not None else []
        )
        per_key = Counter(keys)
        t1 = time.perf_counter()
        with self._lock:
            self.requests.append((t0, t1, len(body), len(keys), status))
            if status == 200:
                self.acked.update(per_key)
                self.sampled.extend(sampled)
            elif status == 400:
                self.rejected.update(per_key)
            if status in (200, 400):
                for k in per_key:
                    if self.acked[k] + self.rejected[k] == self.expected.get(k):
                        self.done_at[k.decode()] = t1
        return status

    @property
    def files_done(self) -> int:
        return len(self.done_at)

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "requests": list(self.requests),
                "acked": {k.decode(): v for k, v in self.acked.items()},
                "rejected": {k.decode(): v for k, v in self.rejected.items()},
                "done_at": dict(self.done_at),
                "sampled": list(self.sampled),
            }

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()
