"""Untimed warm-up on tiny inputs of the workloads' own shapes: one Arrow
Python worker per core with the engine imported, then the same public
calls the timed phase makes, so worker start-up, imports and first-stage
codegen are paid before timing starts. Reported as part of ``setup_s``."""

from __future__ import annotations

import os

from perfbench import corpus as corpus_mod
from perfbench.common import Ctx, nproc
from perfbench.trace import Tracer


def _import_engine(batches):
    import numpy  # noqa: F401

    import ethos_spark.extraction.content  # noqa: F401
    import ethos_spark.extraction.listing  # noqa: F401
    import ethos_spark.ops.dedup  # noqa: F401
    import ethos_spark.ops.langid  # noqa: F401

    yield from batches


def arrow_workers(spark) -> None:
    n = nproc()
    spark.range(n * 4, numPartitions=n).mapInPandas(_import_engine, "id long").count()


def crawl(ctx: Ctx) -> None:
    """The crawl round's stages on a two-host corpus: fetch join, listing
    and content extraction, and a catalog append and commit."""
    import pyspark.sql.functions as F

    from ethos_spark.catalog import Warehouse
    from ethos_spark.crawl.fetcher import CorpusFetcher
    from ethos_spark.extraction.content import extract_content_stage
    from ethos_spark.extraction.listing import extract_listing_stage
    from ethos_spark.sources.config import SYNTH_SOURCE

    tiny = corpus_mod.build(0, 2, 20, window=corpus_mod.WARMUP_WINDOW)
    path = os.path.join(ctx.tmp, "warm-corpus")
    corpus_mod.write(ctx.spark, tiny, path)
    cands = ctx.spark.createDataFrame([(u,) for u in tiny.html], "url string")
    fetched = CorpusFetcher(ctx.spark.read.parquet(path)).fetch(cands, size_hint=len(tiny.html))
    is_listing = F.col("url").contains("/list/")
    wh = Warehouse(ctx.spark, os.path.join(ctx.tmp, "warm-wh"))
    wh.append("listing", extract_listing_stage(fetched.where(is_listing), SYNTH_SOURCE.listing))
    wh.append("content", extract_content_stage(
        fetched.where(~is_listing), SYNTH_SOURCE.content).drop("html"))
    wh.commit("warm")


def ops(ctx: Ctx) -> None:
    from perfbench import ops as ops_mod

    tiny = corpus_mod.build(0, 2, 30, window=corpus_mod.WARMUP_WINDOW)
    texts = [
        corpus_mod.golden_text(url, html)
        for url, html in tiny.html.items()
        if "/list/" not in url
    ]
    docs, _, _ = corpus_mod.ops_docs([t for t in texts if t])
    path = os.path.join(ctx.tmp, "warm-docs")
    ops_mod.write_docs(ctx.spark, docs, path)
    ops_mod.pipeline(ctx.spark, path, Tracer("warmup", enabled=False))
