"""In-process Elasticsearch ``_bulk`` stub and the ETL output checker.

While a workload is timed the stub only stamps each request's receipt
time and keeps its raw body; parsing and checking wait until the window
has closed, so the stub's own cost stays off the measured path. The one
thing it reads during the window is the reject marker: an item whose
doc carries ``gen.REJECT_KEY`` is answered with status 400 inside an
``"errors": true`` response, as Elasticsearch rejects an unmappable
document. It serves on one thread, one request at a time: the
executors' bulk POSTs queue in the listen backlog, as they would at a
single ES node.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

from perfbench.gen import REJECT_KEY

_OK = b'{"took":1,"errors":false,"items":[]}'
_MARK = f'"{REJECT_KEY}"'.encode()
_ITEM_OK = {"index": {"status": 201}}
_ITEM_REJECTED = {"index": {"status": 400, "error": {"type": "mapper_parsing_exception"}}}


def _response(body: bytes) -> bytes:
    if _MARK not in body:
        return _OK
    items = [_ITEM_REJECTED if _MARK in doc else _ITEM_OK for doc in body.split(b"\n")[1::2]]
    return json.dumps({"took": 1, "errors": True, "items": items}).encode()


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n)
        received = time.time()
        self.server.stub._requests.append((received, body))
        resp = _response(body)
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(resp)))
        self.end_headers()
        self.wfile.write(resp)
        self.server.stub.busy_s += time.time() - received

    def log_message(self, *args):  # keep stderr for the benchmark's report
        pass


class BulkStub:
    """``with BulkStub() as stub:`` serves ``stub.url`` until exit."""

    def __init__(self) -> None:
        self._requests: list[tuple[float, bytes]] = []
        self.busy_s = 0.0
        self._server = HTTPServer(("127.0.0.1", 0), _Handler)
        self._server.request_queue_size = 64
        self._server.stub = self
        self._thread = threading.Thread(target=self._server.serve_forever, name="bulk-stub", daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def __enter__(self) -> BulkStub:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def take(self) -> list[tuple[float, bytes]]:
        """Hand over the requests received so far and start a new list."""
        reqs, self._requests = self._requests, []
        return reqs


def parse_bulk(requests: list[tuple[float, bytes]]) -> list[tuple[str, str, bool, float]]:
    """(msg_id, _index, dotted_key, receipt time) per delivered doc,
    rejected ones included."""
    out = []
    for received, body in requests:
        lines = body.decode().split("\n")
        for k in range(0, len(lines) - 1, 2):
            action, doc = json.loads(lines[k]), json.loads(lines[k + 1])
            idx = action["index"]["_index"]
            out.append((doc.get("msg_id"), idx, any("." in key for key in doc), received))
    return out


def check_delivery(docs: list[tuple[str, str, bool, float]], labels: list[dict]) -> dict:
    """Compare the stub's deliveries with the generator's labels.

    A kept message must arrive exactly once under its expected index;
    a dropped one must not arrive; no top-level doc key may keep a '.'.
    Returns counts; ``failed`` is missing + duplicated + misrouted +
    unexpected + dotted. ``rejected`` counts the arrivals the stub
    answered with an error, which the registry must count as failures."""
    by_id = {lab["id"]: lab for lab in labels}
    seen: dict[str, int] = {}
    misrouted = unexpected = dotted = rejected = 0
    for msg_id, idx, has_dot, _ in docs:
        lab = by_id.get(msg_id)
        if lab is None or not lab["kept"]:
            unexpected += 1
            continue
        seen[msg_id] = seen.get(msg_id, 0) + 1
        rejected += lab["rejected"]
        if seen[msg_id] == 1 and idx != lab["index"]:
            misrouted += 1
        dotted += has_dot
    kept = [lab["id"] for lab in labels if lab["kept"]]
    missing = sum(1 for i in kept if i not in seen)
    duplicated = sum(c - 1 for c in seen.values())
    return {
        "attempted": len(kept),
        "delivered": len(docs),
        "missing": missing,
        "duplicated": duplicated,
        "misrouted": misrouted,
        "unexpected": unexpected,
        "dotted_keys": dotted,
        "rejected": rejected,
        "failed": missing + duplicated + misrouted + unexpected + dotted,
    }
