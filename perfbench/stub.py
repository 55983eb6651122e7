"""Out-of-process OData stub for the ``odata_etl`` workload.

Serves two entity sets from one HTTP server:

- ``/v2/Turnover``: the employee-turnover set in the SAP V2 envelope
  (``d.results`` + relative ``__next``), read by ``etl.run_etl``;
- ``/v4/Live``: a keyed, change-tracked set in the V4 envelope
  (``@odata.deltaLink``), read by ``odata_sync.sync_entity``.

Every response page for the request shapes the connector issues is
serialised once at start-up, so a request costs O(page). Each request
sleeps a fixed round trip, and a seeded share of V2 data pages answers
503 with a short ``Retry-After`` on every odd attempt. Handlers run on
a bounded thread pool. Counters are served at ``/_stats``.

Sizes, round trip and 503 share are ``datagen`` constants; the pool has
one handler thread per usable core.

Run: ``python3 stub.py --seed 1`` prints ``READY <port>``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, __file__.rsplit("/", 1)[0])
import datagen  # noqa: E402

STRUCT = "COCHAR_STRUCTURE"


def _json(obj) -> bytes:
    return json.dumps(obj, separators=(",", ":")).encode()


class Stats:
    """Request counters; every field is read by the benchmark."""

    def __init__(self):
        self.lock = threading.Lock()
        self.requests = {"probe": 0, "discovery": 0, "data": 0, "delta": 0}
        self.rows_served = 0
        self.data_rows_served = 0
        self.bytes_served = 0
        self.transient_503 = 0
        self.retries_seen = 0
        self.inflight = 0
        self.inflight_max = 0
        self.inflight_sum = 0
        self.busy_s = 0.0
        self.busy_since = 0.0
        self.discovery_s = 0.0

    def enter(self):
        with self.lock:
            if self.inflight == 0:
                self.busy_since = time.perf_counter()
            self.inflight += 1
            self.inflight_max = max(self.inflight_max, self.inflight)
            self.inflight_sum += self.inflight

    def leave(self, kind, rows, nbytes, elapsed):
        with self.lock:
            self.inflight -= 1
            if self.inflight == 0:
                self.busy_s += time.perf_counter() - self.busy_since
            self.requests[kind] += 1
            self.rows_served += rows
            if kind == "data":
                self.data_rows_served += rows
            if kind == "discovery":
                self.discovery_s += elapsed
            self.bytes_served += nbytes

    def snapshot(self) -> dict:
        with self.lock:
            n = sum(self.requests.values())
            return {
                "requests": n,
                **{f"requests.{k}": v for k, v in self.requests.items()},
                "rows_served": self.rows_served,
                "data_rows_served": self.data_rows_served,
                "bytes_served": self.bytes_served,
                "transient_503": self.transient_503,
                "retries_seen": self.retries_seen,
                "inflight_max": self.inflight_max,
                "inflight_mean": self.inflight_sum / n if n else 0.0,
                "stub_busy_s": self.busy_s,
                "discovery_s": self.discovery_s,
            }


class Service:
    def __init__(self, seed: int):
        self.page = datagen.PAGE_ROWS
        self.stats = Stats()
        self.lock = threading.Lock()
        self.attempts: dict[tuple, int] = {}
        self.index(seed)

    # -- set-up: serialise every page the connector will ask for -------

    def _pages(self, rows, query: dict) -> list[tuple[bytes, int]]:
        """V2 pages of ``rows`` as (body, row count), linked by relative
        ``__next`` links that repeat ``query``."""
        pages = []
        for start in range(0, max(len(rows), 1), self.page):
            chunk = rows[start:start + self.page]
            nxt = None
            if start + self.page < len(rows):
                q = dict(query, **{"$skiptoken": str(start + self.page)})
                nxt = "Turnover?" + urllib.parse.urlencode(q)
            body = {"d": {"results": chunk, **({"__next": nxt} if nxt else {})}}
            pages.append((_json(body), len(chunk)))
        return pages

    def index(self, seed: int) -> None:
        rows = datagen.turnover_rows(seed, datagen.TURNOVER_ROWS, datagen.TURNOVER_STRUCTURES)
        by_struct: dict[str, list] = {}
        for r in rows:
            by_struct.setdefault(r[STRUCT], []).append(r)
        fields = datagen.TURNOVER_FIELDS
        v2 = {}
        v2[("", "", "")] = self._pages(rows, {"$format": "json"})
        v2[("", "", "1")] = self._pages([rows[0]], {})
        for f in fields:
            v2[(f, "", "1")] = self._pages([{f: rows[0][f]}], {})
        disc = [{STRUCT: r[STRUCT]} for r in rows]
        for top in ("", "1000000"):
            q = {"$format": "json", "$select": STRUCT}
            if top:
                q["$top"] = top
            v2[(STRUCT, "", top)] = self._pages(disc, q)
        for value, part in by_struct.items():
            if not value:
                continue
            filt = f"{STRUCT} eq '{value.replace(chr(39), chr(39) * 2)}'"
            v2[("", filt, "")] = self._pages(part, {"$format": "json", "$filter": filt})
        # exactly round(share x data pages) pages fail, picked by the seed
        data_pages = sorted((key, i) for key, pages in v2.items() if key[1]
                            for i in range(len(pages)))
        rng = datagen.np.random.default_rng([seed, 503])
        k = round(datagen.FAIL_SHARE * len(data_pages))
        failing = {data_pages[int(j)] for j in rng.choice(len(data_pages), k, replace=False)}
        live = {r["ID"]: r for r in datagen.live_rows(seed, datagen.LIVE_ROWS)}
        self.v2 = v2
        self.failing = failing
        self.live = live
        self.changelog: list[tuple[int, dict]] = []
        self.seq = 0
        self.tracked: dict[int, list[dict]] = {}

    # -- request handling ----------------------------------------------

    def v2_request(self, qs: dict) -> tuple[int, bytes, int, str]:
        select = qs.get("$select", "")
        filt = qs.get("$filter", "")
        top = qs.get("$top", "")
        skip = int(qs.get("$skiptoken", "0"))
        key = (select, filt, top)
        pages = self.v2.get(key)
        if pages is None:
            if select and select not in datagen.TURNOVER_FIELDS:
                msg = f"Resource not found for the segment '{select}' of the request URL."
                return 404, msg.encode(), 0, "probe"
            return 400, f"unindexed request shape {key}".encode(), 0, "probe"
        kind = "data" if filt else ("probe" if top == "1" else "discovery")
        i = skip // self.page
        if (key, i) in self.failing:
            with self.lock:
                n = self.attempts.get((key, i), 0) + 1
                self.attempts[(key, i)] = n
            if n % 2 == 0:
                with self.stats.lock:
                    self.stats.retries_seen += 1
            else:
                with self.stats.lock:
                    self.stats.transient_503 += 1
                return 503, b"simulated transient failure", 0, kind
        body, nrows = pages[i]
        return 200, body, nrows, kind

    def v4_request(self, qs: dict, base: str) -> tuple[int, bytes, int]:
        skip = int(qs.get("$skiptoken", "0"))
        with self.lock:
            if "$deltatoken" in qs:
                token = int(qs["$deltatoken"])
                pending = [e for s, e in self.changelog if s > token]
                seq = self.seq
            else:
                token = int(qs.get("$snapshot", self.seq))
                if skip == 0:
                    token = self.seq
                    self.tracked[token] = list(self.live.values())
                pending = self.tracked[token]
                seq = token
        chunk = pending[skip:skip + self.page]
        body = {"value": chunk}
        if skip + self.page < len(pending):
            q = {k: v for k, v in qs.items() if k != "$skiptoken"}
            if "$deltatoken" not in q:
                q["$snapshot"] = str(token)
            q["$skiptoken"] = str(skip + self.page)
            body["@odata.nextLink"] = f"{base}/v4/Live?" + urllib.parse.urlencode(q)
        else:
            body["@odata.deltaLink"] = f"{base}/v4/Live?$deltatoken={seq}"
        return 200, _json(body), len(chunk)

    def mutate(self, upserts: list[dict], deletes: list[str]) -> None:
        with self.lock:
            for row in upserts:
                self.live[row["ID"]] = row
                self.seq += 1
                self.changelog.append((self.seq, dict(row)))
            for key in deletes:
                self.live.pop(key, None)
                self.seq += 1
                self.changelog.append(
                    (self.seq, {"@removed": {"reason": "deleted"}, "ID": key})
                )


def make_handler(svc: Service):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def _send(self, status, body, ctype="application/json", extra=()):
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            for k, v in extra:
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            url = urllib.parse.urlsplit(self.path)
            qs = {k: v[0] for k, v in urllib.parse.parse_qs(url.query).items()}
            if url.path == "/_stats":
                return self._send(200, _json(svc.stats.snapshot()))
            t0 = time.perf_counter()
            svc.stats.enter()
            kind, nrows, body = "probe", 0, b""
            try:
                time.sleep(datagen.RTT_S)
                if url.path == "/v2/Turnover":
                    status, body, nrows, kind = svc.v2_request(qs)
                elif url.path == "/v4/Live":
                    kind = "delta"
                    host = self.headers.get("Host", "127.0.0.1")
                    status, body, nrows = svc.v4_request(qs, f"http://{host}")
                else:
                    status, body = 404, b"no such entity set"
                extra = [("Retry-After", str(datagen.RETRY_AFTER_S))] if status == 503 else []
                self._send(status, body, extra=extra)
            finally:
                svc.stats.leave(kind, nrows, len(body), time.perf_counter() - t0)

        def do_POST(self):
            n = int(self.headers.get("Content-Length", "0"))
            payload = json.loads(self.rfile.read(n) or b"{}")
            if self.path == "/_mutate":
                svc.mutate(payload.get("upserts", []), payload.get("deletes", []))
            else:
                return self._send(404, b"{}")
            self._send(200, b"{}")

        def log_message(self, *args):
            pass

    return Handler


class PooledServer(HTTPServer):
    """HTTPServer whose requests run on a fixed-size thread pool."""

    request_queue_size = 64  # listen() backlog, read while binding

    def __init__(self, addr, handler, threads):
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


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)
    svc = Service(args.seed)
    threads = len(os.sched_getaffinity(0))
    server = PooledServer(("127.0.0.1", 0), make_handler(svc), threads)
    print(f"READY {server.server_port}", flush=True)
    try:
        server.serve_forever(poll_interval=0.05)
    except KeyboardInterrupt:
        pass
    finally:
        server.pool.shutdown(wait=False, cancel_futures=True)
        server.server_close()


if __name__ == "__main__":
    main()
