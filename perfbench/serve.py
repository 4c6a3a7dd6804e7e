"""The serve read path: a seeded request mix, an open-loop HTTP load
generator, the ``cli serve`` child process, an in-process ``ApiApp.handle``
probe and the response-body gate against ``serve.queries.publications``."""

from __future__ import annotations

import http.client
import itertools
import json
import math
import random
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlencode

from ethos_spark import schemas
from ethos_spark.catalog import Warehouse
from ethos_spark.serve.queries import PublicationsQuery, publications

from perfbench.common import JobCounter, median, nproc, tail
from perfbench.trace import Tracer

ROUTES = ("publications", "by_hash", "listing_view", "detail_view")
# fixed open-loop rate for the latency metrics: under half of what four
# closed-loop clients sustain on a warehouse of this size on a 4-core box
RATE_PER_S = 5.0
REQUEST_TIMEOUT_S = 30.0


@dataclass
class Request:
    route: str
    path: str
    params: dict[str, list[str]]

    @property
    def target(self) -> str:
        q = urlencode({k: v[0] for k, v in self.params.items()})
        return f"{self.path}?{q}" if q else self.path


@dataclass
class Reply:
    req: Request
    due: float
    sent: float
    done: float
    status: int
    body: bytes | None

    @property
    def latency_s(self) -> float:
        return self.done - self.due


# one block of the mix: route → requests per block of 20
BLOCK = {"publications": 10, "by_hash": 6, "listing_view": 2, "detail_view": 2}


def request_mix(seed: int, n: int, hashes: list[str], total: int) -> list[Request]:
    """50% /api/publications (random page; a fifth filtered by source and
    a fifth by published date), 30% /api/publications/:hash with Zipfian
    hash popularity, 10% the ``/`` listing view and 10% the ``/:hash``
    detail view. The shares hold exactly in every block of 20, shuffled
    within the block, so every run sends the same mix of routes."""
    rng = random.Random(seed)
    cum, acc = [], 0.0
    for k in range(len(hashes)):
        acc += 1.0 / (k + 1) ** 1.1
        cum.append(acc)
    ranked = hashes[:]
    rng.shuffle(ranked)
    pages = max(1, math.ceil(total / 10))

    def listing(k: int) -> dict[str, list[str]]:
        params = {"page": [str(rng.randint(1, pages))]}
        if k % 5 == 1:
            params["source"] = ["synthetic_news"]
        elif k % 5 == 2:
            params["startPublishedDate"] = ["2025-03-01"]
            params["endPublishedDate"] = ["2025-12-31"]
            params["page"] = [str(rng.randint(1, 5))]
        return params

    out: list[Request] = []
    while len(out) < n:
        block = [route for route, c in BLOCK.items() for _ in range(c)]
        rng.shuffle(block)
        for k, route in enumerate(block):
            if route == "publications":
                out.append(Request(route, "/api/publications", listing(k)))
            elif route == "listing_view":
                out.append(Request(route, "/", listing(k)))
            else:
                h = rng.choices(ranked, cum_weights=cum)[0]
                path = f"/api/publications/{h}" if route == "by_hash" else f"/{h}"
                out.append(Request(route, path, {}))
    return out[:n]


def _get(host: str, port: str, req: Request) -> tuple[int, bytes | None]:
    """One GET on its own connection → (status, body); status 0 when the
    connection fails or times out."""
    conn = http.client.HTTPConnection(host, int(port), timeout=REQUEST_TIMEOUT_S)
    try:
        conn.request("GET", req.target)
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException):
        return 0, None
    finally:
        conn.close()


def open_loop(base: str, reqs: list[Request], rate: float) -> list[Reply]:
    """Send ``reqs`` on a fixed schedule (request i is due at i / rate),
    from at most nproc threads, each request on its own connection.
    Latency is timed from the due time, so a stall counts against every
    request queued behind it."""
    host, port = base.rsplit("/", 1)[-1].split(":")
    counter = itertools.count()
    lock = threading.Lock()
    replies: list[Reply] = []
    t0 = time.perf_counter() + 0.05

    def worker() -> None:
        while True:
            with lock:
                i = next(counter)
            if i >= len(reqs):
                return
            due = t0 + i / rate
            time.sleep(max(0.0, due - time.perf_counter()))
            sent = time.perf_counter()
            status, body = _get(host, port, reqs[i])
            rep = Reply(reqs[i], due, sent, time.perf_counter(), status, body)
            with lock:
                replies.append(rep)

    threads = [threading.Thread(target=worker) for _ in range(nproc())]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(replies, key=lambda r: r.due)


def closed_loop(base: str, reqs: list[Request], seconds: float | None = None) -> list[Reply]:
    """nproc clients, each sending its next request as soon as its previous
    reply arrives: for ``seconds`` (cycling through ``reqs``), or else
    through ``reqs`` once."""
    host, port = base.rsplit("/", 1)[-1].split(":")
    counter = itertools.count()
    lock = threading.Lock()
    replies: list[Reply] = []
    deadline = None if seconds is None else time.perf_counter() + seconds

    def client() -> None:
        while deadline is None or time.perf_counter() < deadline:
            with lock:
                i = next(counter)
            if deadline is None and i >= len(reqs):
                return
            req = reqs[i % len(reqs)]
            sent = time.perf_counter()
            status, body = _get(host, port, req)
            rep = Reply(req, sent, sent, time.perf_counter(), status, body)
            with lock:
                replies.append(rep)

    threads = [threading.Thread(target=client) for _ in range(nproc())]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return replies


def check_replies(spark, wh_path: str, replies: list[Reply], expected: dict[str, dict],
                  per_route: int = 6) -> list[str]:
    """Every reply must be a 200. Up to ``per_route`` distinct replies per
    route have their bodies compared: /api/publications against
    ``serve.queries.publications`` run here on the same warehouse, the
    by-hash routes against the expected publication."""
    bad: list[str] = []
    pages = Warehouse(spark, wh_path).read("pages", schemas.PAGES_OUT)
    checked: dict[str, set[str]] = {r: set() for r in ROUTES}
    for rep in replies:
        req = rep.req
        if rep.status != 200:
            bad.append(f"{req.target}: status {rep.status}")
            continue
        seen = checked[req.route]
        if req.target in seen or len(seen) >= per_route:
            continue
        seen.add(req.target)
        if req.route == "publications":
            q = PublicationsQuery(
                source=(req.params.get("source") or [None])[0],
                start_published=(req.params.get("startPublishedDate") or [None])[0],
                end_published=(req.params.get("endPublishedDate") or [None])[0],
                page=int(req.params["page"][0]),
                limit=10,
            )
            rows, meta = publications(pages, q)
            want = [(r["hash"], r["title"], r["content"]) for r in rows.collect()]
            body = json.loads(rep.body)
            got = [(p["hash"], p["title"], p["content"]) for p in body["results"]]
            if got != want or body["meta"] != meta:
                bad.append(f"{req.target}: body differs from publications()")
        elif req.route == "by_hash":
            body = json.loads(rep.body)
            want = expected[req.path.rsplit("/", 1)[1]]
            if any(body.get(k) != v for k, v in want.items()):
                bad.append(f"{req.target}: body differs from the stored page")
        elif req.route == "detail_view":
            want = expected[req.path[1:]]
            if want["title"] not in rep.body.decode("utf-8", "replace"):
                bad.append(f"{req.target}: detail view lacks the title")
        elif b"<html" not in rep.body[:200].lower():
            bad.append(f"{req.target}: listing view is not an html page")
    return bad


def http_stats(replies: list[Reply]) -> dict[str, float]:
    lat = [r.latency_s * 1000.0 for r in replies]
    return {
        "p50_ms": median(lat),
        "lateness_max_ms": max((r.sent - r.due) * 1000.0 for r in replies),
    }


def handle_probe(spark, wh_path: str, seed: int, hashes: list[str], total: int,
                 tracer: Tracer, jobs: JobCounter, per_route: int = 5) -> dict[str, float]:
    """In-process ``ApiApp.handle`` on the same warehouse, on requests of
    the workload's mix drawn from a stream apart from the timed one:
    median handle time and Spark jobs per request, per route."""
    from ethos_spark.serve.http import ApiApp
    from ethos_spark.sources.config import SYNTH_SOURCE

    app = ApiApp.from_warehouse(spark, wh_path, [SYNTH_SOURCE])
    mix = request_mix(seed + 2, 200, hashes, total)
    out: dict[str, float] = {}
    for route in ROUTES:
        times, njobs = [], []
        for k, req in enumerate([r for r in mix if r.route == route][: per_route + 1]):
            before = jobs.job_ids()
            t0 = time.perf_counter()
            with tracer.span(f"serve.handle.{route}"):
                app.handle(req.path, req.params)
            dt = time.perf_counter() - t0
            if k == 0:
                continue  # first call of a route plans and compiles
            times.append(dt * 1000.0)
            njobs.append(len(jobs.job_ids() - before))
        out[f"serve.handle_ms.{route}"] = median(times)
        out[f"serve.jobs_per_request.{route}"] = median(njobs)
    return out


def reply_layers(replies: list[Reply], handle: dict[str, float]) -> dict[str, float]:
    """HTTP-side serve metrics: the tail percentile with its sample count,
    generator lateness, and the HTTP overhead over in-process handling
    (median of each reply's latency minus its route's handle time)."""
    pct, val, n = tail([r.latency_s * 1000.0 for r in replies])
    return {
        "serve.tail_ms": val,
        "serve.tail_pct": pct,
        "serve.tail_samples": n,
        "serve.lateness_max_ms": http_stats(replies)["lateness_max_ms"],
        "serve.http_overhead_ms": median(
            r.latency_s * 1000.0 - handle[f"serve.handle_ms.{r.req.route}"]
            for r in replies
        ),
    }
