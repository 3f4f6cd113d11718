"""Loopback HTTP server for the benchmark's generated daily dumps.

    python3 perfbench/dumpserver.py ROOT_DIR

Serves `ROOT_DIR/<name>` at `http://127.0.0.1:<port>/<name>` and answers
403 for a file it does not hold, as the real dump bucket does. The first
request for each file gets a transient 503, so every first download of a
day goes through the stager's retry-with-backoff path once. It binds an
ephemeral port and prints it as the first line of standard output, then
serves until it is terminated.
"""

from __future__ import annotations

import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def make_handler(root: str):
    requested: set[str] = set()
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            name = os.path.basename(self.path)
            path = os.path.join(root, name)
            if not name or not os.path.isfile(path):
                self.send_error(403, "forbidden or does not exist")
                return
            with lock:
                first = name not in requested
                requested.add(name)
            if first:
                self.send_error(503, "transient failure, retry")
                return
            with open(path, "rb") as f:
                data = f.read()
            self.send_response(200)
            self.send_header("Content-Type", "application/zip")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, fmt, *args):
            pass

    return Handler


def main() -> int:
    root = sys.argv[1]
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(root))
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
