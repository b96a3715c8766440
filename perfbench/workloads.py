"""Benchmark workloads.

Each workload is a crawl of the synthetic web. The benchmark's ``--seed``
becomes ``CrawlConfig.seed``, from which both the web and the seed list are
generated; the engine receives only those generated inputs. Sizes are
chosen so a run (set-up with a warm-up round, then the measured rounds
of one crawl) takes about 40 s at ``local[4]`` on a 4-CPU machine, where
each round carries 5-8 s of fixed cost.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from crawlspark.config import CrawlConfig
from crawlspark.sources import synthweb


@dataclass(frozen=True)
class Workload:
    name: str
    n_seeds: int
    config: dict = field(default_factory=dict)  # CrawlConfig fields

    def crawl_config(self, seed: int, cores: int) -> CrawlConfig:
        return CrawlConfig(seed=seed, shuffle_partitions=max(8, cores), **self.config)

    def seeds(self, cfg: CrawlConfig) -> list[str]:
        return synthweb.seed_list(cfg, n=self.n_seeds)


# Why each workload exists: perfbench/README.md.
WORKLOADS = {
    w.name: w
    for w in (
        # rounds of ~2.7k and ~9.4k URLs, no politeness limit
        Workload(
            "big_round",
            n_seeds=4000,
            config=dict(max_depth=1, web_hosts=2000, round_seconds=1e9),
        ),
        # 55% of frontier rows deferred; 3 of the crawl's 18 rounds
        Workload(
            "polite_rounds",
            n_seeds=800,
            config=dict(max_depth=2, web_hosts=400, round_seconds=10.0, max_rounds=3),
        ),
        # big_round with half of all links pointing at one host
        Workload(
            "hot_host",
            n_seeds=4000,
            config=dict(
                max_depth=1, web_hosts=2000, round_seconds=1e9, hot_host="host00.example"
            ),
        ),
    )
}
