"""Shared Spark session for the test suite (SURVEY.md §0.3 env facts)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from bench import usable_cpus

    # one task slot per CPU this process may use
    cores = usable_cpus()
    s = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("crawlspark-tests")
        # Tiny fixtures: AQE's re-planning jobs cost more than they save here
        # (measured 2-3x round latency); bench.py enables AQE at real scale.
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def crawl_run(spark, tmp_path_factory):
    """One full engine crawl shared by the smoke and oracle-equality suites:
    6-host depth-2 synthetic web, 20 seeds with canonicalization traps."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=2, max_rounds=12, web_hosts=6, shuffle_partitions=4)
    storage = CrawlStorage(spark, tmp_path_factory.mktemp("crawl"))
    engine = CrawlEngine(spark, cfg, storage)
    seeds = synthweb.seed_list(cfg, n=20)
    summary = engine.run(seeds)
    return cfg, storage, engine, summary, seeds


@pytest.fixture
def seen_rows(spark):
    """Builds ``seen``-schema frames for storage-level tests: one row per id
    in ``[lo, hi)``, with ``url_hash`` = id, ``url_canon`` derived from it,
    ``host_hash`` = id % 4 and ``first_round`` = ``rnd``."""
    from pyspark.sql import functions as F

    def build(lo: int, hi: int, rnd: int = 0):
        return spark.range(lo, hi).select(
            F.col("id").alias("url_hash"),
            F.format_string("http://h%d.example/p%d", F.col("id") % 4, "id").alias(
                "url_canon"
            ),
            (F.col("id") % 4).cast("int").alias("host_hash"),
            F.lit(rnd).alias("first_round"),
        )

    return build
