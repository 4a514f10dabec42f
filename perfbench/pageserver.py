"""Single-threaded OpenAlex-style page server for the backfill workload.

Run as its own process:

    python3 perfbench/pageserver.py --seed N --per-page 500 --max-pages M \
        --deadline-file PATH

Binds 127.0.0.1 on a free port and prints ``{"port": P}`` once ready.
Pages are rendered from the seed before the port opens, so serving a page
costs one socket write. ``GET /works?cursor=C`` returns page ``C`` (``*``
is page 0) in the ``{"results": [...], "meta": {"next_cursor": ...}}``
shape. Pagination ends at ``--max-pages`` or with the first page served
after the epoch time written to ``--deadline-file``. One JSON line per
served page goes to stdout. The server stops when its stdin closes.
"""

from __future__ import annotations

import argparse
import json
import select
import sys
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

from records import rest_page


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--per-page", type=int, required=True)
    p.add_argument("--max-pages", type=int, required=True)
    p.add_argument("--deadline-file", required=True)
    args = p.parse_args()

    pages = [
        json.dumps(rest_page(args.seed, k, args.per_page), separators=(",", ":"))
        for k in range(args.max_pages)
    ]

    def deadline() -> float | None:
        try:
            with open(args.deadline_file, encoding="utf-8") as f:
                return float(f.read())
        except (FileNotFoundError, ValueError):
            return None

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802
            query = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
            cursor = query.get("cursor", ["*"])[0]
            k = 0 if cursor == "*" else int(cursor)
            end = deadline()
            last = k + 1 >= args.max_pages or (end is not None and time.time() >= end)
            nxt = "null" if last else json.dumps(str(k + 1))
            body = (
                '{"results":' + pages[k] + ',"meta":{"next_cursor":' + nxt + "}}"
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            print(json.dumps({"page": k, "served": time.time(), "last": last}),
                  flush=True)

        def log_message(self, *a) -> None:
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    print(json.dumps({"port": server.server_address[1]}), flush=True)
    try:
        while True:
            ready, _, _ = select.select([server, sys.stdin], [], [])
            if sys.stdin in ready and not sys.stdin.buffer.read1(4096):
                return 0
            if server in ready:
                server.handle_request()
    finally:
        server.server_close()


if __name__ == "__main__":
    sys.exit(main())
