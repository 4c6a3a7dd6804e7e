"""Workload ``crawl_wide``: one crawl session over Zipfian host chains
with ``max_pages=1``, so all the work lands in one large round: every
host's first listing page and every item on it. The fetch join, the
extraction UDFs and the ``pages`` write carry most of the round; the
round loop, catalog commits and dedup carry the rest."""

from __future__ import annotations

import os
from dataclasses import dataclass

from ethos_spark.functions.urlfns import sha1_hex
from ethos_spark.serve.http import ApiApp, serve_background
from ethos_spark.sources.config import SYNTH_SOURCE

from perfbench import corpus as corpus_mod
from perfbench import probes, serve, warmup
from perfbench.common import Ctx, Outcome, median
from perfbench.crawl import (
    BenchWarehouse, check_counters, check_pages, crawl_session, recrawl_layers,
    seen_set, stored_pages,
)

N_HOSTS, N_ARTICLES, MAX_PAGES = 150, 3000, 1
SERVE_PROBE_S = 8.0


@dataclass
class Inputs:
    corpus: corpus_mod.Corpus
    sims: dict  # host → reference crawl


def prepare(seed: int) -> Inputs:
    """The corpus and the reference crawl of every chain (pure Python;
    runs while the JVM starts)."""
    corpus = corpus_mod.build(seed, N_HOSTS, N_ARTICLES)
    return Inputs(corpus, corpus_mod.reference_chains(corpus, MAX_PAGES))


def run(ctx: Ctx, inp: Inputs) -> Outcome:
    spark, tracer, corpus = ctx.spark, ctx.tracer, inp.corpus
    warmup.arrow_workers(spark)
    warmup.crawl(ctx)
    ctx.mark("warmup")
    corpus_path = os.path.join(ctx.tmp, "corpus")
    corpus_mod.write(spark, corpus, corpus_path)
    setup_s = ctx.mark("setup")

    # timed phase: whole crawl sessions until `seconds` of
    # CrawlRunner.run() have been measured (at least one)
    sessions: list = []
    while not sessions or sum(s.run_s for _, s in sessions) < ctx.seconds:
        wh = BenchWarehouse(spark, os.path.join(ctx.tmp, f"wh-{len(sessions)}"), tracer)
        sessions.append((wh, crawl_session(spark, wh, corpus_path, corpus.seeds,
                                           MAX_PAGES, tracer, ctx.jobs)))
    ctx.mark("timed")

    # correctness gate (untimed): every chain against the reference loop
    bad: list[str] = []
    pages: list = []
    for wh, s in sessions:
        pages = stored_pages(spark, wh.path)
        bad += check_pages(pages, inp.sims)
        bad += check_counters(seen_set(spark, wh.path), s.summary, inp.sims)
    ctx.mark("checked")

    urls = sum(s.urls for _, s in sessions)
    out = Outcome(
        e2e={
            "latency_p50_ms": median(r for _, s in sessions for r in s.round_s) * 1000.0,
            "throughput_per_s": urls / sum(s.run_s for _, s in sessions),
            "setup_s": setup_s,
        },
        attempted=urls + len(inp.sims) * len(sessions),
        failed=len(bad),
        mismatches=bad,
    )
    if tracer.enabled:
        wh, first = sessions[-1]
        crawl_m, crawl_bad = recrawl_layers(spark, tracer, ctx.jobs, corpus, corpus_path,
                                            MAX_PAGES, inp.sims, wh, first, pages)
        out.layers.update(crawl_m)
        out.layers.update(probes.kernels(spark, corpus, corpus_path, inp.sims, tracer))
        out.layers.update(_serve_probe(ctx, wh.path, pages))
        ops_m, ops_bad = probes.ops(ctx, [p.content for p in pages if p.content])
        out.layers.update(ops_m)
        out.mismatches += crawl_bad + ops_bad
        out.failed += len(crawl_bad) + len(ops_bad)
        ctx.mark("probes")
    return out


def _serve_probe(ctx: Ctx, wh_path: str, pages) -> dict[str, float]:
    """The crawled warehouse served as in serve_mixed: warm-up requests, an
    open-loop burst at the benchmark's fixed rate, then in-process handle
    times per route."""
    hashes = [sha1_hex(p.url) for p in pages if p.content]
    reqs = serve.request_mix(ctx.seed, int(serve.RATE_PER_S * SERVE_PROBE_S), hashes, len(pages))
    srv, base = serve_background(ApiApp.from_warehouse(ctx.spark, wh_path, [SYNTH_SOURCE]))
    try:
        serve.open_loop(base, serve.request_mix(ctx.seed + 1, 16, hashes, len(pages)), 20.0)
        with ctx.tracer.span("serve.http"):
            replies = serve.open_loop(base, reqs, serve.RATE_PER_S)
    finally:
        srv.shutdown()
        srv.server_close()
    m = serve.handle_probe(ctx.spark, wh_path, ctx.seed, hashes, len(pages), ctx.tracer, ctx.jobs)
    m.update(serve.reply_layers(replies, m))
    return m
