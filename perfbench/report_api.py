"""Localhost report API for the ``etl_reports`` workload.

Runs as its own process, so its request handling does not compete with
the engine's driver for the interpreter lock. Serves the OAuth token
endpoint, the POST generate / GET download report flow over the CSV
payloads in a directory, and ``/stats`` with request counts. Prints
``PORT <n>`` on its first output line once it listens.

    python3 perfbench/report_api.py <payload_dir>
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

TOKEN = "bench-token"
CLIENT_ID = "bench-client"
CLIENT_SECRET = "bench-secret"


class _Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 256  # the engine fans out up to 32 requests at once


def make_handler(payloads: dict[str, bytes], counts: dict[str, int], lock: threading.Lock):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, status: int, body: bytes, ctype: str = "application/json") -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _count(self, key: str) -> None:
            with lock:
                counts[key] = counts.get(key, 0) + 1

        def _authed(self) -> bool:
            return self.headers.get("Authorization") == f"Bearer {TOKEN}"

        def do_POST(self):  # noqa: N802
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0))).decode("utf-8")
            if self.path == "/oauth/token":
                self._count("token")
                form = {k: v[0] for k, v in parse_qs(raw).items()}
                if (form.get("client_id"), form.get("client_secret")) != (CLIENT_ID, CLIENT_SECRET):
                    self._send(401, b'{"error": "invalid_client"}')
                    return
                self._send(200, json.dumps({"access_token": TOKEN, "expires_in": 3600}).encode())
                return
            if self.path == "/reports/generate" and self._authed():
                self._count("generate")
                doc = json.loads(raw)
                rid = f"{doc['report']}|{doc['from_date']}|{doc['to_date']}"
                self._send(200, json.dumps({"report_id": rid}).encode())
                return
            self._send(404 if self._authed() else 401, b"{}")

        def do_GET(self):  # noqa: N802
            url = urlparse(self.path)
            if url.path == "/stats":
                with lock:
                    body = json.dumps(counts).encode()
                self._send(200, body)
                return
            if url.path == "/reports/download" and self._authed():
                self._count("download")
                name = parse_qs(url.query)["id"][0].split("|", 1)[0]
                if name in payloads:
                    self._send(200, payloads[name], ctype="text/csv; charset=utf-8")
                    return
            self._send(404 if self._authed() else 401, b"{}")

        def log_message(self, *args):
            pass

    return Handler


def main(payload_dir: str) -> None:
    payloads = {}
    for fname in os.listdir(payload_dir):
        if fname.endswith(".csv"):
            with open(os.path.join(payload_dir, fname), "rb") as fh:
                payloads[fname[:-4]] = fh.read()
    server = _Server(("127.0.0.1", 0), make_handler(payloads, {}, threading.Lock()))
    print(f"PORT {server.server_address[1]}", flush=True)
    # Stop when the parent closes our stdin (also if it dies).
    threading.Thread(target=lambda: (sys.stdin.read(), server.shutdown()), daemon=True).start()
    server.serve_forever()
    server.server_close()


if __name__ == "__main__":
    main(sys.argv[1])
