"""Layer microbenchmarks: the engine's per-row public functions, called
directly on keys drawn from a traced crawl's own tables, so the key
distributions (relative links, canonicalization traps, duplicate share)
match the workload's."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass
from urllib.parse import urljoin

import numpy as np
import pandas as pd

from crawlspark.config import BLOOM_FP_RATE, CrawlConfig
from crawlspark.engine import _signed64
from crawlspark.filters import BloomFilter, CuckooFilter
from crawlspark.functions.canon import canonicalize_series, resolve_series
from crawlspark.functions.robots import allowed_series, path_of
from crawlspark.sources import synthweb

SAMPLE = 4000  # URLs and links per function; ~1 s for the whole set


@dataclass
class Inputs:
    doc_urls: list[str]  # fetched canonical URLs
    doc_hosts: list[str]
    link_bases: list[str]  # (page, raw href) pairs as extracted
    link_hrefs: list[str]
    seen_hashes: np.ndarray  # every url_hash in the seen table
    candidate_hashes: np.ndarray  # every extracted link's url_hash


def read_inputs(storage) -> Inputs:
    """A deterministic sample of the crawl's documents and edges."""
    docs = storage.read_table("documents").select("doc_id", "host", "url_hash")
    edges = storage.read_table("edges")
    d = docs.orderBy("url_hash").limit(SAMPLE).toPandas()
    links = (
        edges.join(docs, edges.src_hash == docs.url_hash)
        .select("doc_id", "dst_url", "dst_hash")
        .orderBy("dst_hash", "doc_id")
        .limit(SAMPLE)
        .toPandas()
    )
    seen = storage.read_table("seen").select("url_hash").toPandas()
    cand = edges.select("dst_hash").toPandas()
    return Inputs(
        d["doc_id"].tolist(),
        d["host"].tolist(),
        links["doc_id"].tolist(),
        links["dst_url"].tolist(),
        seen["url_hash"].to_numpy(np.int64),
        cand["dst_hash"].to_numpy(np.int64),
    )


def _per_item(fn, n: int, reps: int = 5) -> float:
    """Median over ``reps`` calls of the call's time per item, in seconds."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / max(1, n)


def run(inp: Inputs, cfg: CrawlConfig, cuckoo: CuckooFilter) -> dict[str, float]:
    urls = pd.Series(inp.doc_urls, dtype="object")
    bases = pd.Series(inp.link_bases, dtype="object")
    hrefs = pd.Series(inp.link_hrefs, dtype="object")
    # canonicalization input: links resolved but not yet canonical
    raw = pd.Series(
        [urljoin(b, h) for b, h in zip(inp.link_bases, inp.link_hrefs)], dtype="object"
    )
    rules_by_host = {r["host"]: r["rules"] for r in synthweb.robots_table(cfg)}
    paths = urls.map(path_of)
    rules = pd.Series([rules_by_host.get(h) for h in inp.doc_hosts], dtype="object")
    host_keys = np.fromiter(
        (_signed64(synthweb.stable_hash("host:" + h, cfg.seed)) for h in inp.doc_hosts),
        dtype=np.int64,
        count=len(inp.doc_hosts),
    )

    def page_all():
        for u in inp.doc_urls:
            synthweb.page(u, cfg)

    # re-adding the same keys sets the same bits at the same cost
    bloom = BloomFilter(len(inp.seen_hashes), BLOOM_FP_RATE)
    n_seen, n_cand = len(inp.seen_hashes), len(inp.candidate_hashes)
    return {
        "sources.page_us": _per_item(page_all, len(urls)) * 1e6,
        "functions.canon_us": _per_item(lambda: canonicalize_series(raw), len(raw)) * 1e6,
        "functions.resolve_us": _per_item(
            lambda: resolve_series(bases, hrefs), len(hrefs)
        )
        * 1e6,
        "functions.robots_us": _per_item(
            lambda: allowed_series(paths, rules), len(paths)
        )
        * 1e6,
        "filters.bloom_add_ns": _per_item(
            lambda: bloom.add_many(inp.seen_hashes), n_seen
        )
        * 1e9,
        "filters.bloom_probe_ns": _per_item(
            lambda: bloom.contains_many(inp.candidate_hashes), n_cand
        )
        * 1e9,
        "filters.cuckoo_probe_ns": _per_item(
            lambda: cuckoo.contains_many(host_keys), len(host_keys)
        )
        * 1e9,
    }
