"""Engine-wide constants and tuning knobs.

All values are pure data — no Spark imports here so the sequential oracle
(tests/oracle_crawler.py) can share them without a JVM, and so the command
lines under jobs/ can parse knobs (``positive_int``) before Spark starts.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass

# Number of host-hash buckets used for partitioning/bucketing frontier, seen
# and documents tables (SURVEY.md §1).  At 10^10-URL scale this would be
# O(10^3-10^4); at sandbox scale keep it small enough that every bucket gets
# data but large enough to exercise host-hash clustering of the table files.
NUM_HOST_BUCKETS = 32

# Politeness: one crawl round models a fixed wall-clock window; a host with
# crawl_delay d seconds is admitted floor(ROUND_SECONDS / d) fetches per round
# (at least 1 when any budget exists).  SURVEY.md §2.4 P3.
ROUND_SECONDS = 30.0

# BFS depth bound for the synthetic web fixture (FIXTURES.md §6).
MAX_DEPTH = 4

# Bloom filter target false-positive rate (SURVEY.md §2.3 A3).
BLOOM_FP_RATE = 0.01


@dataclass(frozen=True)
class CrawlConfig:
    """One crawl run's knobs; identical fields drive the Spark engine and
    the sequential oracle, which is what makes equality testing meaningful."""

    max_depth: int = MAX_DEPTH
    max_rounds: int = 64
    round_seconds: float = ROUND_SECONDS
    num_host_buckets: int = NUM_HOST_BUCKETS
    seed: int = 42
    # synthetic web shape (FIXTURES.md §6)
    web_hosts: int = 20
    web_out_degree_mod: int = 8
    web_same_host_prob: float = 0.7
    hot_host: str | None = None  # skew fixture: this host receives ~50% of links
    # Deletable-ban fixture (SURVEY.md §2.3 A4): hosts with robots.banned are
    # banned for rounds < unban_round, then unbanned (cuckoo delete). None →
    # banned forever (their frontier entries are dropped, not deferred).
    unban_round: int | None = None
    shuffle_partitions: int = 32
    # Table maintenance (storage.compact_table / expire_frontier_snapshots,
    # the Iceberg rewrite_data_files / expire_snapshots analogs). Off by
    # default: at fixture scale the rewrite job costs more than the listing
    # it saves, and keeping every snapshot preserves full time travel. At
    # the 10^10 design point the seen anti-join re-lists O(rounds) dirs per
    # round, so a long crawl sets compact_seen_every to O(10-100) rounds and
    # expire_frontier to reclaim the dead per-round frontier snapshots.
    compact_seen_every: int | None = None
    expire_frontier: bool = False
    # Priority policy (SURVEY.md §2.4 P1). "bfs" = priority is the discovery
    # depth (strict BFS, the reference-typical order). "indegree" = within a
    # depth level, URLs linked more often in their discovery round are
    # fetched first: priority = depth - min(in_round_links, cap)/(cap+1) —
    # the cheap per-round rendering of the authority-ordered crawling result
    # (Cho, Garcia-Molina & Page, WWW 1998; ops/graph.pagerank is the full
    # offline signal). The boost < 1 so depth levels never interleave, and
    # it is a pure function of the round's candidate multiset, so the
    # sequential oracle reproduces the exact total order. "pagerank" ranks
    # each round's candidates by exact fixed-point-integer PageRank
    # (ops/graph.pagerank) over the edge graph ACCUMULATED so far — the
    # full authority-ordered crawl of Cho/Garcia-Molina/Page wired into the
    # loop; the integer ranks are bit-deterministic, so the sequential
    # oracle mirrors the exact total order here too. Costs a fixed
    # O(pagerank_iterations) extra jobs per round plus one scan of the
    # edges table so far.
    priority_mode: str = "bfs"
    indegree_cap: int = 99
    pagerank_iterations: int = 4
    # Recompute the pagerank ranking every k rounds instead of every round:
    # round rnd ranks against edges accumulated through round
    # basis = rnd - (rnd % k) (basis 0 = no boost yet). Ranks are a pure
    # function of committed storage state, so resume is exact by
    # construction (a resumed engine recomputes the identical basis ranks),
    # and the sequential oracle mirrors the same staleness. k=1 (default)
    # re-ranks every round; at the 10^4-round design point k=O(10-100)
    # bounds the re-rank cost the way compact_seen_every bounds listings.
    pagerank_every: int = 1
    # Scaling-calibration knob (jobs/executor_scaling.py --work): extra
    # deterministic hash evaluations per fetched URL inside the distributed
    # fetch stage — models real fetch/parse CPU cost (HTML parsing,
    # tokenization) WITHOUT changing any output (spans, links, and every
    # downstream table are byte-identical at any value). Raising it grows
    # the crawl's parallel fraction, which separates the N-vs-4N efficiency
    # criterion from the machine's fixed per-round cost. 0 = off (production
    # default).
    fetch_cpu_work: int = 0


def positive_int(text: str) -> int:
    """argparse type for counts that must be at least 1."""
    try:
        value = int(text)
    except ValueError:
        raise argparse.ArgumentTypeError(f"not an integer: {text!r}") from None
    if value < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {value}")
    return value
