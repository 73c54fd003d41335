"""Loopback HTTP server that mirrors a synthetic corpus byte for byte.

Run as its own process::

    python3 perfbench/mirror.py --corpus DIR --threads N --ready FILE --stats FILE

It serves every web-table row of ``DIR/web`` as the response a real server
would send for that URL (status, Location, Content-Type, Content-Encoding,
Set-Cookie, body), each host's ``robots.txt`` from ``DIR/robots_txt``, and
404 for anything else. Requests arrive in proxy form (absolute URI in the
request line), so the multi-host corpus needs no DNS: the crawl points the
engine's ``use_proxy`` setting at this server. A fixed pool of ``N``
threads handles connections. On SIGTERM the server stops, writes its
request statistics to the stats file and exits.
"""

from __future__ import annotations

import argparse
import http.server
import json
import os
import signal
import socketserver
import threading
import time
from concurrent.futures import ThreadPoolExecutor

NOT_FOUND = (404, [("Content-Type", "text/plain")], b"not found")


def served(row: dict) -> tuple[int, list[tuple[str, str]], bytes]:
    """The response the mirror sends for one web-table row."""
    headers = []
    if row.get("content_type"):
        headers.append(("Content-Type", row["content_type"]))
    if row.get("redirect_to"):
        headers.append(("Location", row["redirect_to"]))
    if row.get("content_encoding"):
        headers.append(("Content-Encoding", row["content_encoding"]))
    for sc in row.get("set_cookie") or []:
        headers.append(("Set-Cookie", sc))
    body = b"" if row["status_code"] == 304 else bytes(row.get("body") or b"")
    return int(row["status_code"]), headers, body


def mirrored_row(url: str, host: str, response: tuple) -> dict:
    """A web-table row holding exactly what the mirror serves for ``url`` —
    the table-mode twin of one HTTP response."""
    code, headers, body = response
    h = {k: v for k, v in headers if k != "Set-Cookie"}
    cookies = [v for k, v in headers if k == "Set-Cookie"]
    return {
        "url_norm": url, "host": host, "status_code": code,
        "redirect_to": h.get("Location"), "content_type": h.get("Content-Type"),
        "links": None, "image_id": None, "caption": None,
        "body_size": len(body), "content_length": len(body),
        "failure": None, "body": body,
        "content_encoding": h.get("Content-Encoding"),
        "set_cookie": cookies or None,
    }


def load_site(corpus: str) -> dict[str, tuple]:
    import pyarrow.parquet as pq

    web = pq.read_table(os.path.join(corpus, "web"))
    web = web.select([c for c in ("url_norm", "status_code", "redirect_to", "content_type",
                                  "body", "content_encoding", "set_cookie")
                      if c in web.column_names]).to_pylist()
    site = {r["url_norm"]: served(r) for r in web}
    for r in pq.read_table(os.path.join(corpus, "robots_txt")).to_pylist():
        site[f"http://{r['host']}/robots.txt"] = (
            200, [("Content-Type", "text/plain")], r["body"].encode())
    return site


class _PoolServer(socketserver.TCPServer):
    """TCP server whose connections are handled by a fixed thread pool."""

    allow_reuse_address = True

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_handler(site: dict, log: list, lock: threading.Lock):
    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):
            pass

        def do_GET(self):
            t0 = time.perf_counter()
            code, headers, body = site.get(self.path, NOT_FOUND)
            self.send_response(code)
            for k, v in headers:
                self.send_header(k, v)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)
            t1 = time.perf_counter()
            with lock:
                log.append((t0, t1, self.path.endswith("/robots.txt"),
                            self.path in site))

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--ready", required=True, help="port is written here once listening")
    ap.add_argument("--stats", required=True)
    args = ap.parse_args()

    site = load_site(args.corpus)
    log: list = []
    lock = threading.Lock()
    srv = _PoolServer(("127.0.0.1", 0), make_handler(site, log, lock), args.threads)
    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    loop = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05})
    loop.start()
    tmp = args.ready + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(srv.server_address[1]))
    os.replace(tmp, args.ready)
    stop.wait()
    srv.shutdown()
    loop.join()
    srv.pool.shutdown(wait=True)
    srv.server_close()
    with lock:
        entries = list(log)
    with open(args.stats, "w") as f:
        json.dump({"threads": args.threads,
                   "requests": [[a, b, r, k] for a, b, r, k in entries]}, f)


if __name__ == "__main__":
    main()
