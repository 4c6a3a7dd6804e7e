"""Crawl sessions driven through the public crawl API, with the round
timestamps and spans the workloads report, and the parity gate against
``crawl/reference_sim``."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from ethos_spark import schemas
from ethos_spark.catalog import Warehouse
from ethos_spark.crawl.fetcher import CorpusFetcher
from ethos_spark.crawl.reference_sim import SimResult
from ethos_spark.crawl.runner import CrawlOptions, CrawlRunner, CrawlSummary
from ethos_spark.sources.config import SYNTH_SOURCE
from ethos_spark.synth import host_name

from perfbench import corpus as corpus_mod
from perfbench.common import JobCounter, median
from perfbench.trace import Tracer

CATALOG_CALLS = ("append", "replace", "commit", "read", "upsert_rows")


class BenchWarehouse(Warehouse):
    """A ``Warehouse`` that records when each commit returned and, when
    tracing, a span around each public catalog call."""

    def __init__(self, spark, path: str, tracer: Tracer):
        super().__init__(spark, path)
        self.tracer = tracer
        self.commits: list[tuple[str, float]] = []

    def _call(self, name: str, fn, *args, **kwargs):
        self.tracer.count("catalog.calls")
        with self.tracer.span(f"catalog.{name}"):
            return fn(*args, **kwargs)

    def append(self, *args, **kwargs):
        return self._call("append", super().append, *args, **kwargs)

    def replace(self, *args, **kwargs):
        return self._call("replace", super().replace, *args, **kwargs)

    def read(self, *args, **kwargs):
        return self._call("read", super().read, *args, **kwargs)

    def upsert_rows(self, *args, **kwargs):
        return self._call("upsert_rows", super().upsert_rows, *args, **kwargs)

    def commit(self, tag, props=None):
        v = self._call("commit", super().commit, tag, props)
        self.commits.append((tag, time.perf_counter()))
        return v


class BenchRunner(CrawlRunner):
    """A ``CrawlRunner`` whose rounds are spans; when tracing, it records
    the duration and Spark job count of every round that committed (the
    final call that finds nothing left to do is not a round)."""

    def __init__(self, *args, tracer: Tracer, jobs: JobCounter, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.jobs = jobs
        self.rounds: list[tuple[float, int]] = []  # (seconds, jobs)

    def run_round(self, r: int) -> bool:
        if not self.tracer.enabled:
            return super().run_round(r)
        before = self.jobs.job_ids()
        t0 = time.perf_counter()
        with self.tracer.span("runner.round"):
            advanced = super().run_round(r)
        if self.wh.commits and self.wh.commits[-1][0] == f"round-{r}":
            self.rounds.append((time.perf_counter() - t0, len(self.jobs.job_ids() - before)))
        return advanced


@dataclass
class Session:
    summary: CrawlSummary
    run_s: float
    round_s: list[float] = field(default_factory=list)  # commit to commit
    traced_rounds: list[tuple[float, int]] = field(default_factory=list)

    @property
    def urls(self) -> int:
        """Listing and content URLs fetched and extracted: every listing
        page processed, the page each all-duplicates host stopped on, and
        every content item."""
        s = self.summary
        return (
            s.pages_processed
            + s.host_stops.get("all_duplicates", 0)
            + s.contents_crawled
        )


def crawl_session(
    spark,
    wh: BenchWarehouse,
    corpus_path: str,
    seeds: list[str],
    max_pages: int | None,
    tracer: Tracer,
    jobs: JobCounter,
    session_no: int = 0,
) -> Session:
    """One ``CrawlRunner`` session (seed + run) over the parquet corpus.
    Session ``n`` starts a day after session ``n - 1``, so a second session
    on the same warehouse is a recrawl."""
    runner = BenchRunner(
        spark,
        wh,
        CorpusFetcher(spark.read.parquet(corpus_path)),
        SYNTH_SOURCE,
        CrawlOptions(max_pages=max_pages),
        start_time=datetime(2025, 7, 1, tzinfo=timezone.utc)
        + timedelta(days=session_no),
        tracer=tracer,
        jobs=jobs,
    )
    runner.seed(seeds)
    first = len(wh.commits)
    t0 = time.perf_counter()
    with tracer.span("runner.run"):
        summary = runner.run()
    run_s = time.perf_counter() - t0
    stamps = wh.commits[first - 1 :]
    rounds = [
        b[1] - a[1] for a, b in zip(stamps, stamps[1:]) if b[0].startswith("round-")
    ]
    return Session(summary, run_s, rounds, runner.rounds)


def stored_pages(spark, path: str) -> list:
    return (
        Warehouse(spark, path)
        .read("pages", schemas.PAGES_OUT)
        .select(
            "url", "host", "processed_order", "title", "content", "author",
            "published_date", "had_extraction_error",
        )
        .orderBy("processed_order")
        .collect()
    )


SUMMARY_COUNTERS = (
    "items_processed", "duplicates_skipped", "urls_excluded", "total_filtered",
    "contents_crawled", "pages_processed", "items_found",
)


def check_pages(pages: list, sims: dict[int, SimResult]) -> list[str]:
    """Per-host processed order and byte-identical payloads (markdown,
    title, author, date, error flag) against the reference chains."""
    bad: list[str] = []
    if [p.processed_order for p in pages] != list(range(1, len(pages) + 1)):
        bad.append("processed_order is not 1..N")
    by_host: dict[str, list] = {}
    for p in pages:
        by_host.setdefault(p.host, []).append(p)
    for h, sim in sims.items():
        got = [
            (e.url, e.title, e.content or None, e.author or None,
             e.published_date or None, e.had_extraction_error)
            for e in by_host.pop(host_name(h), [])
        ]
        want = [
            (s.url, s.title, s.content, s.author, s.published_date,
             s.had_content_extraction_error)
            for s in sim.items
        ]
        if got != want:
            bad.append(f"chain {host_name(h)}: pages differ from the reference")
    if by_host:
        bad.append(f"pages from unexpected hosts: {sorted(by_host)[:3]}")
    return bad


def check_counters(
    seen: set[str], summary: CrawlSummary, sims: dict[int, SimResult]
) -> list[str]:
    """The session URL-seen set and the summary counters against the
    reference chains."""
    bad: list[str] = []
    want_seen = set().union(*(s.seen_hashes for s in sims.values()))
    if seen != want_seen:
        bad.append(f"seen set differs ({len(seen)} vs {len(want_seen)})")
    for c in SUMMARY_COUNTERS:
        want_n = sum(getattr(s, c) for s in sims.values())
        if getattr(summary, c) != want_n:
            bad.append(f"summary {c}: {getattr(summary, c)} != {want_n}")
    return bad


def seen_set(spark, path: str) -> set[str]:
    seen = Warehouse(spark, path).read("seen_session").select("url_hash")
    return {r.url_hash for r in seen.collect()}


def _dir_stats(paths: list[str]) -> tuple[int, int]:
    files = size = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def layer_metrics(
    tracer: Tracer, pairs: list[tuple[str, Session, Session]], content_bytes: int
) -> dict[str, float]:
    """runner, catalog and crawl-dedup metrics of crawl+recrawl pairs
    (warehouse path, first session, recrawl session)."""
    sessions = [s for _, a, b in pairs for s in (a, b)]
    rounds = sum(len(s.round_s) for s in sessions)
    files, size = _dir_stats([p for p, _, _ in pairs])
    m = {
        "runner.rounds": rounds / len(pairs),
        "runner.round_s": median(t for s in sessions for t, _ in s.traced_rounds),
        "runner.jobs_per_round": median(j for s in sessions for _, j in s.traced_rounds),
        "catalog.calls_per_round": tracer.counts["catalog.calls"] / rounds,
        "catalog.files_per_round": files / rounds,
        "catalog.bytes_per_content_byte": size / (content_bytes * len(pairs)),
    }
    for c in CATALOG_CALLS:
        m[f"catalog.{c}_s"] = tracer.total(f"catalog.{c}") / rounds
    found = sum(b.summary.items_found for _, _, b in pairs)
    m["dedup.duplicate_ratio"] = (
        sum(b.summary.duplicates_skipped for _, _, b in pairs) / found
    )
    return m


def recrawl_layers(
    spark, tracer: Tracer, jobs: JobCounter, corpus: corpus_mod.Corpus, corpus_path: str,
    max_pages: int | None, sims: dict[int, SimResult], wh: BenchWarehouse,
    first: Session, pages: list,
) -> tuple[dict[str, float], list[str]]:
    """Recrawl ``wh`` after its first session and report the layer metrics
    of the pair. Every host whose first page holds only stored items stops
    with all_duplicates, so the recrawl round is mostly the seen-set
    anti-join. → (metrics, mismatches against the reference recrawl,
    which must add no page)."""
    existing = {h: {it.url for it in sim.items} for h, sim in sims.items()}
    resims = corpus_mod.reference_chains(corpus, max_pages, existing)
    recrawl = crawl_session(spark, wh, corpus_path, corpus.seeds, max_pages,
                            tracer, jobs, session_no=1)
    bad = check_counters(seen_set(spark, wh.path), recrawl.summary, resims)
    if stored_pages(spark, wh.path) != pages:
        bad.append("the recrawl added or changed pages")
    content_bytes = sum(len((p.content or "").encode()) for p in pages)
    return layer_metrics(tracer, [(wh.path, first, recrawl)], content_bytes), bad
