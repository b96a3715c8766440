"""Output check: a crawl's digest against the sequential oracle's.

The digest covers rounds, fetched, seen and deduped counts, a hash of the
final seen set and a hash of the ``(round, doc_id)`` crawl order.
"""

from __future__ import annotations

import hashlib
import time
from typing import Iterable

from crawlspark.config import CrawlConfig
from tests.oracle_crawler import crawl as oracle_crawl


def _sha(lines: Iterable[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def digest(
    rounds: int,
    fetched: int,
    deduped: int,
    seen: Iterable[str],
    order: Iterable[tuple[int, str]],
) -> dict:
    seen = sorted(seen)
    return {
        "rounds": int(rounds),
        "fetched": int(fetched),
        "seen": len(seen),
        "deduped": int(deduped),
        "seen_sha": _sha(seen),
        "order_sha": _sha(f"{r}\t{u}" for r, u in order),
    }


def oracle_digest(cfg: CrawlConfig, seeds: list[str]) -> tuple[dict, float]:
    """The oracle's digest and its wall time in seconds."""
    t0 = time.perf_counter()
    res = oracle_crawl(cfg, seeds)
    wall = time.perf_counter() - t0
    deduped = sum(m.get("deduped", 0) for m in res.per_round)
    return digest(res.rounds, len(res.docs), deduped, res.seen, res.crawl_order), wall


def engine_digest(storage, summary: dict) -> dict:
    """Digest of a finished engine crawl, read back from its tables and
    round manifests (a resumed engine's history lacks the earlier rounds)."""
    docs = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .toPandas()
        .sort_values(["round", "fetch_time", "host", "host_rank"], kind="mergesort")
    )
    seen = storage.read_table("seen").select("url_canon").toPandas()["url_canon"]
    return digest(
        summary["rounds"],
        summary["totals"]["fetched"],
        sum(storage.manifest(r)["deduped"] for r in range(1, summary["rounds"] + 1)),
        seen,
        zip(docs["round"].tolist(), docs["doc_id"].tolist()),
    )
