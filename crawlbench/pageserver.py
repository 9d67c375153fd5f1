"""HTTP page server for the live recrawl workload, run as its own process.

Serves the seeded pages snapshot at ``/page?u=<url>&e=<epoch>`` from a
fixed pool of ``--threads`` handler threads. A seeded share of URLs answer
their first request in each epoch with a 500 or a short body and recover
on the retry. ``/stats?e=<epoch>`` reports what the server saw in that
epoch: requests (and per URL), distinct URLs, injected faults, 404s, the
smallest gap between two requests to one host and the median handling
time.

Usage: python3 pageserver.py --pages pages.parquet --seed N --threads 4
(prints the bound port on stdout, serves until terminated or until the
process that started it is gone).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlsplit

FAULT_EVERY = 25  # 1 in 25 URLs fails its first request per epoch (4%)


def fault_of(seed: int, url: str) -> str | None:
    h = zlib.crc32(f"{seed}:{url}".encode()) % FAULT_EVERY
    return {0: "500", 1: "short"}.get(h) if h < 2 else None


class _Epoch:
    def __init__(self):
        self.hits: dict[str, int] = {}
        self.last_by_host: dict[str, float] = {}
        self.min_gap = float("inf")
        self.faults = 0
        self.requests = 0
        self.not_found = 0
        self.handle_ms: list[float] = []


class PoolHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a bounded thread pool."""

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


def serve(pages: dict[str, bytes], seed: int, threads: int) -> PoolHTTPServer:
    lock = threading.Lock()
    epochs: dict[str, _Epoch] = {}

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def _reply(self, code: int, body: bytes = b"", ctype="text/html"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            t0 = time.perf_counter()
            parts = urlsplit(self.path)
            q = parse_qs(parts.query)
            epoch = q.get("e", [""])[0]
            if parts.path == "/stats":
                with lock:
                    ep = epochs.get(epoch, _Epoch())
                    ms = sorted(ep.handle_ms)
                    stats = {
                        "requests": ep.requests, "urls": len(ep.hits),
                        "faults": ep.faults, "not_found": ep.not_found,
                        "min_host_gap_ms": (ep.min_gap * 1000.0
                                            if ep.min_gap != float("inf") else 0.0),
                        "server_ms_p50": ms[len(ms) // 2] if ms else 0.0,
                        "hits": dict(ep.hits),
                    }
                self._reply(200, json.dumps(stats).encode(), "application/json")
                return
            url = q.get("u", [""])[0]
            body = pages.get(url)
            host = urlsplit(url).netloc
            with lock:
                ep = epochs.setdefault(epoch, _Epoch())
                ep.requests += 1
                n = ep.hits[url] = ep.hits.get(url, 0) + 1
                now = time.monotonic()
                prev = ep.last_by_host.get(host)
                if prev is not None:
                    ep.min_gap = min(ep.min_gap, now - prev)
                ep.last_by_host[host] = now
                fault = fault_of(seed, url) if n == 1 and body is not None else None
                ep.faults += fault is not None
                ep.not_found += body is None
            if body is None:
                self._reply(404)
            elif fault == "500":
                self._reply(500)
            else:
                self._reply(200, b"x" if fault == "short" else body)
            with lock:
                ep.handle_ms.append((time.perf_counter() - t0) * 1000.0)

        def log_message(self, *a):
            pass

    return PoolHTTPServer(("127.0.0.1", 0), Handler, threads)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()
    import pyarrow.parquet as pq

    t = pq.read_table(a.pages, columns=["url", "html"]).to_pydict()
    srv = serve(dict(zip(t["url"], t["html"])), a.seed, a.threads)
    parent = os.getppid()

    def watch_parent():  # a killed runner must not leave the server behind
        while os.getppid() == parent:
            time.sleep(1.0)
        srv.shutdown()

    threading.Thread(target=watch_parent, daemon=True).start()
    print(srv.server_address[1], flush=True)
    try:
        srv.serve_forever()
    finally:
        srv.pool.shutdown(wait=False)


if __name__ == "__main__":
    sys.exit(main())
