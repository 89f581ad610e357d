"""In-process HTTP receiver standing in for the downstream change endpoint.

It answers 503 to a seeded share of first deliveries of a request body, so
the sink's retry path costs a real round trip, and 200 to everything else.
Accepted bodies are kept raw; ``check_delivery`` parses and checks them
after the timed drain, so JSON decoding never runs inside a timed span.
"""

from __future__ import annotations

import hashlib
import json
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class Receiver:
    def __init__(self, seed: int, reject_share: float = 0.05):
        self.seed = seed
        self.reject_share = reject_share
        self._lock = threading.Lock()
        self.reset()
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):  # noqa: N802 (http.server naming)
                body = self.rfile.read(int(self.headers["Content-Length"]))
                status = receiver.accept(body)
                msg = b"ok" if status == 200 else b"try again"
                self.send_response(status)
                self.send_header("Content-Length", str(len(msg)))
                self.end_headers()
                self.wfile.write(msg)

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(
            target=self.server.serve_forever, kwargs={"poll_interval": 0.05}
        )
        self.thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def reset(self) -> None:
        with self._lock:
            self.bodies: list[bytes] = []
            self.seen: set[bytes] = set()
            self.posts = 0
            self.rejected = 0
            self.bytes = 0

    def rejects(self, digest: bytes) -> bool:
        """Seeded coin for a body's first delivery; retries always pass,
        so no batch exhausts the sink's retry budget."""
        return int.from_bytes(digest[:8], "big") < self.reject_share * 2**64

    def accept(self, body: bytes) -> int:
        digest = hashlib.blake2b(
            body, digest_size=16, key=self.seed.to_bytes(8, "big")
        ).digest()
        with self._lock:
            self.posts += 1
            self.bytes += len(body)
            first = digest not in self.seen
            self.seen.add(digest)
            if first and self.rejects(digest):
                self.rejected += 1
                return 503
            self.bodies.append(body)
        return 200

    def stats(self) -> dict:
        with self._lock:
            return {"posts": self.posts, "rejected": self.rejected,
                    "bytes": self.bytes, "bodies": len(self.bodies)}

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()


def check_delivery(
    bodies: list[bytes], key_cols: list[str], allowlist: set[str],
    staged_keys: set,
) -> dict:
    """Check accepted bodies against the staged backlog: every staged key
    delivered exactly once, every item carrying exactly the allowlist,
    every record carrying its operation. Returns counts; ``ok`` is True
    only when all of them are zero."""
    got: Counter = Counter()
    bad_cols = no_op = 0
    want = {c.lower() for c in allowlist}
    for body in bodies:
        for rec in json.loads(body):
            item = rec.get("item") or {}
            if not rec.get("operation"):
                no_op += 1
            if {c.lower() for c in item} != want:
                bad_cols += 1
            got[tuple(item.get(c) for c in key_cols)] += 1
    out = {
        "rows": sum(got.values()),
        "missing": len(staged_keys - got.keys()),
        "unexpected": len(got.keys() - staged_keys),
        "duplicates": sum(n - 1 for n in got.values() if n > 1),
        "bad_columns": bad_cols,
        "no_operation": no_op,
    }
    out["ok"] = not any(v for k, v in out.items() if k != "rows")
    return out
