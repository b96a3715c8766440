#!/usr/bin/env python
"""spark-submit entry point for a full crawl (BASELINE.json:14: "run via
spark-submit --py-files on a multi-executor cluster").

    spark-submit --py-files crawlspark.zip jobs/run_crawl.py \
        --root /data/crawl --seeds seeds.txt --max-depth 3 --max-rounds 20

The script never sets a master: parallelism comes from spark-submit
(--master local[N] in the sandbox, YARN/k8s on a cluster). All engine state
lives in tables under --root, so a killed job resumes exactly by re-running
the same command.
"""

from __future__ import annotations

import argparse
import json

from crawlspark.config import (
    PRIORITY_MODES,
    non_negative_int,
    positive_float,
    positive_int,
)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="storage root (tables + manifests)")
    ap.add_argument("--seeds", default=None, help="seed list file (.txt or .csv)")
    ap.add_argument("--seed-count", type=positive_int, default=100)
    ap.add_argument("--max-depth", type=non_negative_int, default=4)
    ap.add_argument("--max-rounds", type=positive_int, default=64)
    ap.add_argument("--round-seconds", type=positive_float, default=30.0)
    ap.add_argument("--web-hosts", type=positive_int, default=20)
    ap.add_argument("--shuffle-partitions", type=positive_int, default=32)
    ap.add_argument("--unban-round", type=positive_int, default=None)
    ap.add_argument(
        "--inject",
        action="store_true",
        help="inject --seeds into the EXISTING crawl under --root as a "
        "committed snapshot round (then continue crawling); without this "
        "flag, seeds are only used to bootstrap an empty root",
    )
    ap.add_argument(
        "--priority-mode",
        choices=PRIORITY_MODES,
        default="bfs",
        help="P1 policy: strict BFS, in-degree boosted within a depth "
        "level, or exact fixed-point PageRank over the accumulated link "
        "graph (see CrawlConfig.priority_mode)",
    )
    ap.add_argument(
        "--iceberg-catalog",
        default=None,
        help="catalog.db prefix: route table writes/reads through Iceberg "
        "DataSourceV2 (requires iceberg-spark-runtime on the cluster); "
        "default keeps the parquet facade under --root",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("crawlspark").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.sources.seeds import load_seed_file
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(
        max_depth=args.max_depth,
        max_rounds=args.max_rounds,
        round_seconds=args.round_seconds,
        web_hosts=args.web_hosts,
        shuffle_partitions=args.shuffle_partitions,
        unban_round=args.unban_round,
        priority_mode=args.priority_mode,
    )
    if args.seeds:
        seeds = load_seed_file(spark, args.seeds)
    else:
        seeds = synthweb.seed_list(cfg, n=args.seed_count)

    storage = CrawlStorage(spark, args.root, catalog=args.iceberg_catalog)
    engine = CrawlEngine(spark, cfg, storage)
    if args.inject:
        print(json.dumps(engine.inject_seeds(seeds)))
        summary = engine.run()
    else:
        summary = engine.run(seeds)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
