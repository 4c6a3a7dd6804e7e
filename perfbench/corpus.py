"""Seeded inputs. The seed picks a window of host ids; every page comes from
``ethos_spark.synth``'s per-page functions for the hosts in that window,
so the same seed always gives the same corpus and the program only ever
sees the generated pages."""

from __future__ import annotations

import dataclasses

import pandas as pd

from ethos_spark import synth
from ethos_spark.crawl.reference_sim import SimResult, simulate_crawl
from ethos_spark.extraction.content import extract_content_fields
from ethos_spark.schemas import PAGES_INPUT
from ethos_spark.sources.config import SYNTH_SOURCE

WINDOW_STRIDE = 1000  # host ids per seed window
# synth timestamps grow with the host id, so ids stay below 10^6: seeds
# map onto windows 0..998, and window 999 is kept for the warm-up input
N_WINDOWS = 999
WARMUP_WINDOW = 999


@dataclasses.dataclass
class Corpus:
    hosts: list[int]
    counts: list[int]
    html: dict[str, str]  # url → page html
    rows: list[dict]  # PAGES_INPUT rows

    @property
    def seeds(self) -> list[str]:
        return [synth.listing_url(h, 1) for h in self.hosts]


def build(seed: int, n_hosts: int, total_articles: int, window: int | None = None) -> Corpus:
    base = (seed % N_WINDOWS if window is None else window) * WINDOW_STRIDE
    hosts = list(range(base, base + n_hosts))
    counts = synth.zipf_article_counts(n_hosts, total_articles)
    html: dict[str, str] = {}
    rows: list[dict] = []
    for h, c in zip(hosts, counts):
        for i in range(c):
            url, page = synth.article_url(h, i), synth.article_html(h, i)
            html[url] = page
            rows.append(
                {
                    "url": url,
                    "warc_ts": synth.warc_ts(h, i),
                    "html": page.encode("utf-8"),
                    "text": None,
                    "lang": synth.lang_of(h, i),
                }
            )
        for p in range(1, synth.n_listing_pages(c) + 1):
            url, page = synth.listing_url(h, p), synth.listing_html(h, p, c)
            html[url] = page
            rows.append(
                {
                    "url": url,
                    "warc_ts": synth.warc_ts(h, 10_000_000 + p),
                    "html": page.encode("utf-8"),
                    "text": None,
                    "lang": "en",
                }
            )
    return Corpus(hosts, counts, html, rows)


def write(spark, corpus: Corpus, path: str) -> None:
    spark.createDataFrame(pd.DataFrame(corpus.rows), PAGES_INPUT).write.parquet(path)


def chain_config(h: int):
    return dataclasses.replace(
        SYNTH_SOURCE,
        listing=dataclasses.replace(
            SYNTH_SOURCE.listing, url=synth.listing_url(h, 1)
        ),
    )


def reference_chains(
    corpus: Corpus,
    max_pages: int | None,
    existing: dict[int, set[str]] | None = None,
) -> dict[int, SimResult]:
    """The sequential reference crawl of every host chain."""
    return {
        h: simulate_crawl(
            corpus.html,
            chain_config(h),
            max_pages=max_pages,
            existing_urls=(existing or {}).get(h),
        )
        for h in corpus.hosts
    }


def ops_docs(texts: list[str]) -> tuple[list[tuple[int, str]], dict[int, int], dict[int, int]]:
    """Documents for the corpus-ops batch: the given markdown texts plus
    planted copies. Every third text gets a near-duplicate (a short
    sentence appended); every fifth an exact duplicate that differs only
    in whitespace, so it normalizes to the original.
    → (docs, near-dup copy id → original id, exact copy id → original id)."""
    docs = list(enumerate(texts))
    near: dict[int, int] = {}
    exact: dict[int, int] = {}
    nxt = len(docs)
    for i, t in enumerate(texts):
        if i % 3 == 0:
            docs.append((nxt, t + " Updated after review."))
            near[nxt] = i
            nxt += 1
        if i % 5 == 0:
            docs.append((nxt, " " + t.replace(" ", "  ") + "\n"))
            exact[nxt] = i
            nxt += 1
    return docs, near, exact


def golden_text(url: str, html: str) -> str | None:
    """The markdown content extraction yields for an article page."""
    return extract_content_fields(html, SYNTH_SOURCE.content, url).get("content")
