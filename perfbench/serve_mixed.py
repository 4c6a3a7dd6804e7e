"""Workload ``serve_mixed``: the read path over a crawled corpus. Set-up
stores the reference crawl of every host chain as a warehouse and serves
it with the HTTP server ``cli serve`` runs. The timed phase drives that
server with a seeded request mix, first open-loop at a fixed rate (the
latency figures), then closed-loop from nproc clients (the throughput)."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from datetime import datetime, timezone

import pandas as pd
import pyspark.sql.functions as F

from ethos_spark import schemas
from ethos_spark.catalog import Warehouse
from ethos_spark.functions.urlfns import sha1_hex
from ethos_spark.serve.http import ApiApp, serve_background
from ethos_spark.sources.config import SYNTH_SOURCE
from ethos_spark.synth import host_name

from perfbench import corpus as corpus_mod
from perfbench import probes, serve
from perfbench.common import Ctx, Outcome
from perfbench.crawl import BenchWarehouse, crawl_session, recrawl_layers, stored_pages

N_HOSTS, N_ARTICLES = 60, 1500
CLOSED_LOOP_S = 8.0
WARMUP_REQUESTS = 200


@dataclass
class Inputs:
    corpus: corpus_mod.Corpus
    sims: dict  # host → reference crawl
    rows: list[dict]  # the served pages

    @property
    def hashes(self) -> list[str]:
        return [r["hash"] for r in self.rows if r["content"]]


def prepare(seed: int) -> Inputs:
    """Corpus, the reference crawl of every chain and the pages it stores
    (pure Python; runs while the JVM starts)."""
    corpus = corpus_mod.build(seed, N_HOSTS, N_ARTICLES)
    sims = corpus_mod.reference_chains(corpus, None)
    crawled = datetime(2025, 7, 1, tzinfo=timezone.utc)
    rows, order = [], 0
    for h in corpus.hosts:
        for it in sims[h].items:
            order += 1
            rows.append({
                "id": order, "hash": sha1_hex(it.url), "source": SYNTH_SOURCE.id,
                "url": it.url, "url_hash": sha1_hex(it.url), "host": host_name(h),
                "title": it.title, "author": it.author,
                "published_date": it.published_date, "content": it.content,
                "crawled_at": crawled, "created_at": crawled,
                "had_extraction_error": it.had_content_extraction_error,
                "processed_order": order, "partition_id": 0, "fetch_ms": 0.0,
                "parse_ms": 0.0, "failed_fields": [], "extraction_errors": [],
            })
    return Inputs(corpus, sims, rows)


def build_warehouse(spark, path: str, rows: list[dict]) -> None:
    """Store the reference crawl's pages (what the crawl is checked to
    produce) as a committed warehouse snapshot."""
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in schemas.PAGES_OUT.fields if f.name != "host_hash"
    )
    df = spark.createDataFrame(pd.DataFrame(rows), ddl)
    df = df.withColumn("host_hash", F.xxhash64("host")).select(*schemas.PAGES_OUT.names)
    crawled = rows[0]["crawled_at"]
    wh = Warehouse(spark, path)
    wh.append("pages", df)
    wh.replace_rows("sessions", [{
        "id": "crawl-session-1751328000", "source_id": SYNTH_SOURCE.id,
        "source_name": SYNTH_SOURCE.name, "start_time": crawled,
        "end_time": crawled, "metadata": "{}", "stopped_reason": "completed",
    }])
    wh.commit("served")


def run(ctx: Ctx, inp: Inputs) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer
    wh_path = os.path.join(ctx.tmp, "served-wh")
    build_warehouse(spark, wh_path, inp.rows)
    # the HTTP server `cli serve` runs, over the same ApiApp, on a thread
    srv, base = serve_background(ApiApp.from_warehouse(spark, wh_path, [SYNTH_SOURCE]))
    try:
        # warm every route on requests outside the timed set, until the
        # JIT has compiled the request path (latency levels off after
        # about 150-200 requests on a 4-core box)
        serve.closed_loop(base, serve.request_mix(ctx.seed + 1, WARMUP_REQUESTS, inp.hashes,
                                                  len(inp.rows)))
        reqs = serve.request_mix(ctx.seed, int(serve.RATE_PER_S * ctx.seconds),
                                 inp.hashes, len(inp.rows))
        setup_s = ctx.mark("setup")
        with tracer.span("serve.http"):
            replies = serve.open_loop(base, reqs, serve.RATE_PER_S)
            t0 = time.perf_counter()
            closed = serve.closed_loop(base, reqs, CLOSED_LOOP_S)
            closed_s = time.perf_counter() - t0
    finally:
        srv.shutdown()
        srv.server_close()
    ctx.mark("timed")

    # correctness gate (untimed)
    expected = {
        r["hash"]: {"url": r["url"], "title": r["title"], "content": r["content"],
                    "author": r["author"], "publishedDate": r["published_date"]}
        for r in inp.rows
    }
    bad = serve.check_replies(spark, wh_path, replies + closed, expected)
    ctx.mark("checked")

    out = Outcome(
        e2e={
            "latency_p50_ms": serve.http_stats(replies)["p50_ms"],
            "throughput_per_s": sum(r.status == 200 for r in closed) / closed_s,
            "setup_s": setup_s,
        },
        attempted=len(replies) + len(closed),
        failed=len(bad),
        mismatches=bad,
    )
    if tracer.enabled:
        handle = serve.handle_probe(spark, wh_path, ctx.seed, inp.hashes, len(inp.rows),
                                    tracer, ctx.jobs)
        out.layers.update(handle)
        out.layers.update(serve.reply_layers(replies, handle))
        corpus_path = os.path.join(ctx.tmp, "corpus")
        corpus_mod.write(spark, inp.corpus, corpus_path)
        out.layers.update(probes.kernels(spark, inp.corpus, corpus_path, inp.sims, tracer))
        ops_m, ops_bad = probes.ops(ctx, [r["content"] for r in inp.rows if r["content"]])
        crawl_m, crawl_bad = _crawl_probe(ctx, inp.corpus, corpus_path)
        out.layers.update(ops_m)
        out.layers.update(crawl_m)
        out.mismatches += ops_bad + crawl_bad
        out.failed += len(ops_bad) + len(crawl_bad)
        ctx.mark("probes")
    return out


def _crawl_probe(ctx: Ctx, corpus, corpus_path: str) -> tuple[dict[str, float], list[str]]:
    """runner, catalog and crawl dedup on this corpus: a one-page crawl
    and its recrawl, the recrawl checked against the reference."""
    wh = BenchWarehouse(ctx.spark, os.path.join(ctx.tmp, "probe-wh"), ctx.tracer)
    first = crawl_session(ctx.spark, wh, corpus_path, corpus.seeds, 1, ctx.tracer, ctx.jobs)
    return recrawl_layers(
        ctx.spark, ctx.tracer, ctx.jobs, corpus, corpus_path, 1,
        corpus_mod.reference_chains(corpus, 1), wh, first, stored_pages(ctx.spark, wh.path),
    )
