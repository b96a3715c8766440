"""Engine-wide constants and the crawl's settings.

All values are pure data — no Spark imports here so the sequential oracle
(tests/oracle_crawler.py) can share them without a JVM, and so the command
lines under jobs/ can parse their options (``positive_int`` and friends)
before Spark starts. A value becomes a ``CrawlConfig`` field only when a
caller sets it; everything else is a constant here.
"""

from __future__ import annotations

import argparse
import math
from dataclasses import dataclass

# The one host-hash modulus, host_hash = pmod(xxhash64(host), NUM_HOST_BUCKETS)
# (SURVEY.md §1), also the compacted file count and the Iceberg bucket count.
# Every stored host_hash carries it, so the seen anti-join on (host_hash,
# url_hash) is exact only under the value that wrote the root: a constant,
# never a setting. Small enough that every bucket gets data at sandbox scale.
NUM_HOST_BUCKETS = 32

# Politeness: one crawl round models a fixed wall-clock window; a host with
# crawl_delay d seconds is admitted floor(ROUND_SECONDS / d) fetches per round
# (at least 1 when any budget exists).  SURVEY.md §2.4 P3.
ROUND_SECONDS = 30.0

# BFS depth bound for the synthetic web fixture (FIXTURES.md §6).
MAX_DEPTH = 4

# Bloom filter target false-positive rate (SURVEY.md §2.3 A3).
BLOOM_FP_RATE = 0.01

# Priority policies (CrawlConfig.priority_mode; SURVEY.md §2.4 P1).
PRIORITY_MODES = ("bfs", "indegree", "pagerank")

# "indegree": the in-round link count is capped here, so the boost
# min(n, cap)/(cap+1) stays below 1 and depth levels never interleave.
INDEGREE_CAP = 99

# "pagerank": power iterations of ops/graph.pagerank per round.
PAGERANK_ITERATIONS = 4


@dataclass(frozen=True)
class CrawlConfig:
    """One crawl run's settings; identical fields drive the Spark engine and
    the sequential oracle, which is what makes equality testing meaningful.
    Every field is set by some caller under jobs/, bench.py or perfbench/
    (tests/test_config.py); fixed values are the constants above. A value
    out of its range (``_FIELD_BOUNDS``, ``PRIORITY_MODES``) raises
    ``ValueError`` naming the field."""

    max_depth: int = MAX_DEPTH
    max_rounds: int = 64
    round_seconds: float = ROUND_SECONDS
    seed: int = 42
    # synthetic web size (FIXTURES.md §6; its link shape is fixed in synthweb)
    web_hosts: int = 20
    hot_host: str | None = None  # skew fixture: this host receives ~50% of links
    # Deletable-ban fixture (SURVEY.md §2.3 A4): hosts with robots.banned are
    # banned for rounds < unban_round, then unbanned (cuckoo delete). None →
    # banned forever (their frontier entries are dropped, not deferred).
    unban_round: int | None = None
    shuffle_partitions: int = 32
    # Table maintenance (storage.compact_table / expire_frontier_snapshots,
    # the Iceberg rewrite_data_files / expire_snapshots analogs). Off by
    # default: at fixture scale the rewrite costs more than the listing it
    # saves. A long crawl compacts seen every O(10-100) rounds and expires
    # the dead per-round frontier snapshots.
    compact_seen_every: int | None = None
    expire_frontier: bool = False
    # Priority policy (SURVEY.md §2.4 P1), one of PRIORITY_MODES (anything
    # else raises ValueError). "bfs": priority = discovery depth. "indegree":
    # depth - min(in_round_links, INDEGREE_CAP) / (INDEGREE_CAP + 1), so URLs
    # linked more often in their discovery round go first within a depth
    # level (Cho, Garcia-Molina & Page, WWW 1998). "pagerank": depth minus
    # the exact fixed-point-integer PageRank (ops/graph.pagerank) of the edge
    # graph accumulated so far, recomputed every round at a fixed job cost.
    # Both boosts are < 1, so depth levels never interleave, and both are
    # bit-deterministic, so the sequential oracle reproduces the total order.
    priority_mode: str = "bfs"
    # Scaling calibration (jobs/executor_scaling.py --work): extra hash
    # evaluations per fetched URL inside the fetch stage, modelling real
    # fetch/parse CPU cost without changing any output. It raises the
    # crawl's parallel fraction, separating N-vs-4N efficiency from the
    # machine's fixed per-round cost. 0 = off.
    fetch_cpu_work: int = 0

    def __post_init__(self) -> None:
        # round_seconds and max_depth are rendered into the round's SQL text,
        # so a value that passes here is a finite number
        for name, bound in _FIELD_BOUNDS.items():
            value = getattr(self, name)
            if value is None and name in _UNSET_FIELDS:
                continue
            try:
                bound.check(value)
            except ValueError as e:
                raise ValueError(f"{name} {e}") from None
        if self.priority_mode not in PRIORITY_MODES:
            raise ValueError(
                f"priority_mode must be one of {', '.join(PRIORITY_MODES)}; "
                f"got {self.priority_mode!r}"
            )


@dataclass(frozen=True)
class _Bound:
    """A finite ``kind`` value >= ``low`` (> ``low`` when ``strict``): NaN
    and inf are rejected, and the error names the bound. ``check`` tests a
    value; calling it parses a command-line string (an argparse type)."""

    kind: type
    low: float
    strict: bool = False

    def check(self, value) -> None:
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"must be finite, got {value}")
        if value < self.low or (self.strict and value == self.low):
            raise ValueError(
                f"must be {'>' if self.strict else '>='} {self.low}, got {value}"
            )

    def __call__(self, text: str):
        try:
            value = self.kind(text)
        except ValueError:
            what = "an integer" if self.kind is int else "a number"
            raise argparse.ArgumentTypeError(f"not {what}: {text!r}") from None
        try:
            self.check(value)
        except ValueError as e:
            raise argparse.ArgumentTypeError(str(e)) from None
        return value


positive_int = _Bound(int, 1)  # counts that must be at least 1
non_negative_int = _Bound(int, 0)  # counts that may be 0
positive_float = _Bound(float, 0, strict=True)
non_negative_float = _Bound(float, 0)

# CrawlConfig's range-checked fields. Only the optional fields in
# _UNSET_FIELDS may be None (unset); None anywhere else is rejected.
_FIELD_BOUNDS = {
    "max_depth": non_negative_int,
    "max_rounds": positive_int,
    "round_seconds": positive_float,
    "web_hosts": positive_int,
    "unban_round": positive_int,
    "shuffle_partitions": positive_int,
    "compact_seen_every": positive_int,
    "fetch_cpu_work": non_negative_int,
}
_UNSET_FIELDS = ("unban_round", "compact_seen_every")
