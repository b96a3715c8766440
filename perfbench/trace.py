"""Spans recorded from the benchmark's side of each layer boundary.

Nothing in ``crawlspark`` is edited: rounds are timed by wrapping
``run_round``/``bootstrap`` on the engine instance, and storage calls by
:class:`TimedStorage`, a ``CrawlStorage`` subclass handed to the engine.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from crawlspark.storage import TABLES, CrawlStorage


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    round: int | None = None


@dataclass
class Spans:
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, rnd: int | None = None):
        t0 = time.time()
        try:
            yield
        finally:
            s = Span(name, t0, time.time(), rnd)
            # the engine's round tail writes tables from several threads
            with self._lock:
                self.spans.append(s)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]


def time_rounds(engine, spans: Spans) -> None:
    """Record a ``round`` span around every ``run_round`` call and a
    ``bootstrap`` span around ``bootstrap``."""
    run_round, bootstrap = engine.run_round, engine.bootstrap

    def timed_round(rnd: int):
        with spans.span("round", rnd):
            return run_round(rnd)

    def timed_bootstrap(seeds):
        with spans.span("bootstrap", 0):
            return bootstrap(seeds)

    engine.run_round = timed_round
    engine.bootstrap = timed_bootstrap


class TimedStorage(CrawlStorage):
    """``CrawlStorage`` recording a span per public call. ``write_round``
    also runs the lazy plan that feeds it, which is why the event-log stage
    split exists next to these spans."""

    def __init__(self, spark, root, spans: Spans):
        super().__init__(spark, root)
        self.spans = spans

    def write_round(self, table, df, rnd, *args, **kwargs):
        with self.spans.span(f"storage.write_round.{table}", rnd):
            return super().write_round(table, df, rnd, *args, **kwargs)

    def read_table(self, *args, **kwargs):
        with self.spans.span("storage.read_table"):
            return super().read_table(*args, **kwargs)

    def commit_manifest(self, rnd, payload):
        with self.spans.span("storage.commit_manifest", rnd):
            return super().commit_manifest(rnd, payload)

    def write_bloom_round(self, blob_df, rnd):
        with self.spans.span("storage.filters.write_bloom_round", rnd):
            return super().write_bloom_round(blob_df, rnd)

    def gc_bloom_rounds(self, bloom_index):
        with self.spans.span("storage.filters.gc_bloom_rounds"):
            return super().gc_bloom_rounds(bloom_index)

    def save_filters(self, rnd, bloom_index, cuckoo_blob):
        with self.spans.span("storage.filters.save_filters", rnd):
            return super().save_filters(rnd, bloom_index, cuckoo_blob)

    def load_filters(self, rnd):
        with self.spans.span("storage.filters.load_filters", rnd):
            return super().load_filters(rnd)


def storage_metrics(spans: Spans, root: Path) -> dict[str, float]:
    """Time per storage call kind made by the engine (calls outside its
    bootstrap and round spans, such as the output check's reads, are not
    counted), and bytes and data files per table."""
    crawl = [(s.start, s.end) for s in spans.spans if s.name in ("bootstrap", "round")]

    def total_s(prefix: str) -> float:
        return sum(
            s.end - s.start
            for s in spans.named(prefix)
            if any(a <= s.start <= b for a, b in crawl)
        )

    out = {f"storage.write_round_s.{t}": total_s(f"storage.write_round.{t}") for t in TABLES}
    out["storage.read_table_s"] = total_s("storage.read_table")
    out["storage.commit_manifest_s"] = total_s("storage.commit_manifest")
    out["storage.filters_s"] = total_s("storage.filters.")
    for t in TABLES:
        files = [p for p in (Path(root) / t).rglob("*") if p.is_file()]
        out[f"storage.bytes_mb.{t}"] = sum(p.stat().st_size for p in files) / 2**20
        out[f"storage.files.{t}"] = sum(p.suffix == ".parquet" for p in files)
    return out


# run_round's own phase ticks, in the order it takes them; the time between
# the last tick and the end of the round (manifest commit, Bloom GC, table
# maintenance, unpersist) is commit_maint.
PHASES = {
    "admission_plan": "admission",
    "edges_write": "edges_write",
    "candidates_dedup": "candidates_dedup",
    "seen_antijoin_write": "seen_antijoin_write",
    "tail_parallel_sinks": "tail_sinks",
}


def phase_intervals(spans: Spans, history) -> list[tuple[str, int, float, float]]:
    """``(phase, round, start, end)`` for the bootstrap and every phase of
    every round, rebuilt from the round spans and each round's
    ``RoundMetrics.extras["timings"]`` (sequential durations from the
    round's start)."""
    out = [("bootstrap", 0, s.start, s.end) for s in spans.named("bootstrap")]
    timings = {m.round: m.extras["timings"] for m in history}
    for s in spans.named("round"):
        t = s.start
        for tick, phase in PHASES.items():
            d = timings[s.round].get(tick, 0.0)
            out.append((phase, s.round, t, t + d))
            t += d
        out.append(("commit_maint", s.round, t, max(t, s.end)))
    return out
