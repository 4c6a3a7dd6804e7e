"""Standalone per-layer probes for the traced run. Spark is lazy, so a
span around ``Warehouse.append`` also covers the fetch and extract stages
the append triggers; these probes run each kernel layer's public function
on the workload's own inputs into a ``noop`` sink instead."""

from __future__ import annotations

import os
import time

import pandas as pd

from ethos_spark import synth
from ethos_spark.crawl.dedup import BloomFilter, anti_join_seen
from ethos_spark.crawl.fetcher import CorpusFetcher
from ethos_spark.extraction.content import extract_content_fields, extract_content_stage
from ethos_spark.extraction.listing import extract_listing_stage
from ethos_spark.functions.datefns import parse_published_dates_series
from ethos_spark.functions.markdown import html_to_markdown
from ethos_spark.functions.urlfns import sha1_hex
from ethos_spark.sources.config import SYNTH_SOURCE

from perfbench import corpus as corpus_mod
from perfbench import ops as ops_mod
from perfbench import warmup
from perfbench.corpus import Corpus
from perfbench.trace import Tracer

KERNEL_SAMPLE = 300  # pages through the single-threaded Python kernels
OPS_SAMPLE = 150  # markdown texts (before planted copies) through corpus ops


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer: Tracer, name: str, fn) -> float:
    t0 = time.perf_counter()
    with tracer.span(name):
        fn()
    return time.perf_counter() - t0


def kernels(spark, corpus: Corpus, corpus_path: str, sims, tracer: Tracer) -> dict[str, float]:
    """fetcher, extraction, functions and dedup on the corpus the workload
    crawls or serves. The candidates are what the reference crawl visits:
    every listing page of each chain plus every item it processed (dead
    links included, so the fetch hit ratio is below 1)."""
    m: dict[str, float] = {}
    items = [it.url for sim in sims.values() for it in sim.items]
    listings = [
        synth.listing_url(h, p)
        for h, c in zip(corpus.hosts, corpus.counts)
        for p in range(1, synth.n_listing_pages(c) + 1)
    ]
    cands = spark.createDataFrame([(u,) for u in items + listings], "url string").cache()
    cands.count()
    fetcher = CorpusFetcher(spark.read.parquet(corpus_path))
    fetched = fetcher.fetch(cands, size_hint=len(items) + len(listings))
    fetch_s = _timed(tracer, "fetcher.fetch", lambda: _noop(fetched))
    rows = fetched.count()
    m["fetcher.fetch_s"] = fetch_s
    m["fetcher.rows_per_s"] = rows / fetch_s
    m["fetcher.hit_ratio"] = rows / (len(items) + len(listings))

    pages = fetched.select("url", "html").cache()
    pages.count()
    is_listing = pages.url.contains("/list/")
    n_list = pages.where(is_listing).count()
    n_content = rows - n_list
    s = _timed(tracer, "extraction.listing_stage", lambda: _noop(
        extract_listing_stage(pages.where(is_listing), SYNTH_SOURCE.listing)))
    m["extraction.listing_pages_per_s"] = n_list / s
    s = _timed(tracer, "extraction.content_stage", lambda: _noop(
        extract_content_stage(pages.where(~is_listing), SYNTH_SOURCE.content)))
    m["extraction.content_pages_per_s"] = n_content / s
    pages.unpersist()
    cands.unpersist()

    sample = [u for u in items if u in corpus.html][:KERNEL_SAMPLE]
    errors = 0

    def one_thread() -> None:
        nonlocal errors
        for u in sample:
            errors += bool(extract_content_fields(corpus.html[u], SYNTH_SOURCE.content, u)["_errors"])

    s = _timed(tracer, "extraction.kernel_1t", one_thread)
    m["extraction.kernel_pages_per_s_1t"] = len(sample) / s
    m["extraction.error_ratio"] = errors / len(sample)

    bodies = [
        synth.article_body_html(h, i)
        for h, c in zip(corpus.hosts, corpus.counts)
        for i in range(c)
    ][:KERNEL_SAMPLE]
    s = _timed(tracer, "functions.markdown", lambda: [html_to_markdown(b) for b in bodies])
    m["functions.markdown_ms_per_page"] = s * 1000.0 / len(bodies)
    raw = pd.Series([
        synth.article_date_raw(h, i)
        for h, c in zip(corpus.hosts, corpus.counts)
        for i in range(c)
    ])
    s = _timed(tracer, "functions.dates", lambda: parse_published_dates_series(raw))
    m["functions.dates_per_s"] = len(raw) / s

    # recrawl-shaped dedup: every item URL on the chains' listing pages
    # against the seen set of the first crawl
    seen_urls = set().union(*(sim.seen_urls for sim in sims.values()))
    seen = spark.createDataFrame([(sha1_hex(u),) for u in sorted(seen_urls)], "url_hash string").cache()
    cand_h = spark.createDataFrame(
        [(sha1_hex(u),) for u in sorted(set(items) | seen_urls)], "url_hash string"
    ).cache()
    seen.count()
    cand_h.count()

    def anti() -> None:
        new, dupes = anti_join_seen(cand_h, seen)
        _noop(new)
        _noop(dupes)

    m["dedup.anti_join_s"] = _timed(tracer, "dedup.anti_join", anti)
    m["dedup.bloom_build_s"] = _timed(
        tracer, "dedup.bloom_build",
        lambda: BloomFilter.build(seen, "url_hash", expected=len(seen_urls)),
    )
    seen.unpersist()
    cand_h.unpersist()
    return m


def ops(ctx, texts: list[str]) -> tuple[dict[str, float], list[str]]:
    """The corpus-ops batch over the workload's markdown plus planted
    copies, after a warm-up pass on a tiny input → (metrics, mismatches
    of its correctness gate)."""
    docs, near, exact = corpus_mod.ops_docs(texts[:OPS_SAMPLE])
    path = os.path.join(ctx.tmp, "probe-docs")
    ops_mod.write_docs(ctx.spark, docs, path)
    warmup.ops(ctx)
    res = ops_mod.pipeline(ctx.spark, path, ctx.tracer)
    m = ops_mod.layers(ctx.spark, path, ctx.tracer, res)
    m["ops.docs_per_s"] = len(docs) / sum(
        ctx.tracer.durations(f"ops.{s}")[-1] for s in ops_mod.STEPS
    )
    return m, ops_mod.check(res, docs, near, exact)
