"""Order-of-magnitude scale demonstration + hot-host skew stress.

Runs the 10^6-URL crawl an order of magnitude above bench.py's big-round
probe (10,000-host synthetic web, 25,000 seeds, depth 3, effectively
unbounded politeness budget), then the SAME crawl with the skew fixture
enabled (``CrawlConfig.hot_host`` routes ~50% of every page's out-links to
one host — the hot-domain shape that breaks naive host-partitioned crawls
at 10^10 scale). The demo asserts the skewed run's wall time stays within
2x the balanced run: the engine's fetch repartition on (host_hash,
url_hash) and url_hash-keyed dedup window are the mechanisms under test.

Per-round tables print for BASELINE.md; at the default size (10,000 hosts,
25,000 seeds) the balanced run's per-round numbers must be bit-identical to
the round-2 recorded table (engine refactors change wall time, never
results). Other ``--hosts``/``--seeds`` values crawl a different web, so
that claim does not apply to them.

``--hosts``/``--seeds`` scale the synthetic web another order of magnitude
with the identical plan/config shape (``--hosts 100000 --seeds 250000``
crawls ~10^7 URLs), so per-URL cost can be compared across 10^5 / 10^6 /
10^7 round sizes — the flat-cost extrapolation evidence for the 10^10
design point.

Usage:
    python jobs/scale_demo.py [--skew-only | --balanced-only] [--cores C]
                              [--hosts H] [--seeds S] [--maintenance]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import sys
import tempfile

# runnable as `python jobs/scale_demo.py` from anywhere: the repo root (not
# jobs/) carries the crawlspark package, for the driver AND the local-mode
# python workers (which inherit PYTHONPATH, not the driver's sys.path)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from bench import make_spark, run_crawl, usable_cpus  # noqa: E402
from crawlspark.config import positive_int  # noqa: E402


def run_demo(
    cores: int,
    skew: bool,
    maintenance: bool = False,
    hosts: int = 10_000,
    seeds_n: int = 25_000,
) -> dict:
    from crawlspark.config import CrawlConfig
    from crawlspark.sources import synthweb

    cfg = CrawlConfig(
        max_depth=3,
        max_rounds=8,
        web_hosts=hosts,
        round_seconds=1e9,  # politeness effectively unbounded
        shuffle_partitions=cores,
        hot_host="host00.example" if skew else None,
        # table maintenance: seen compaction every 2 rounds + frontier
        # snapshot expiry — results must stay bit-identical
        compact_seen_every=2 if maintenance else None,
        expire_frontier=maintenance,
    )
    seeds = synthweb.seed_list(cfg, n=seeds_n)
    tag = ("skewmaint" if skew else "maint") if maintenance else (
        "skew" if skew else "bal")
    spark = make_spark(f"local[{cores}]", cores)
    try:
        with tempfile.TemporaryDirectory(prefix=f"scale-demo-{tag}-") as root:
            engine, summary = run_crawl(spark, cfg, seeds, root)
            rp = pathlib.Path(root)
            seen_files = len(list(rp.glob("seen/**/*.parquet"))) + len(
                list(rp.glob("_compact/seen/**/*.parquet"))
            )
            frontier_dirs = len(list(rp.glob("frontier/round=*")))
    finally:
        spark.stop()
    rows = []
    print(f"\n== {'SKEW (hot_host ~50% of links)' if skew else 'BALANCED'} "
          f"local[{cores}] ==")
    print("round | frontier | fetched | new URLs | deduped")
    for m in engine.history:
        print(f"{m.round} | {m.frontier_size} | {m.fetched} | "
              f"{m.new_urls} | {m.deduped}")
        rows.append([m.round, m.frontier_size, m.fetched, m.new_urls,
                     m.deduped])
    out = {
        "skew": skew,
        "maintenance": maintenance,
        "seen_parquet_files": seen_files,
        "frontier_snapshot_dirs": frontier_dirs,
        "cores": cores,
        **summary,
        "per_round": rows,
    }
    print(json.dumps({k: v for k, v in out.items() if k != "per_round"}))
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=positive_int,
                    help="task slots (default: SPARK_GRAFT_CPUS, else the "
                    "CPUs this process may run on)")
    ap.add_argument("--skew-only", action="store_true")
    ap.add_argument("--balanced-only", action="store_true")
    # order-of-magnitude sweep knobs: 10x both (--hosts 100000 --seeds
    # 250000) crawls ~10^7 URLs with the identical plan/config shape, so
    # per-URL cost can be compared across 10^5 / 10^6 / 10^7 round sizes
    ap.add_argument("--hosts", type=positive_int, default=10_000,
                    help="synthetic-web host count (URL space scales with it)")
    ap.add_argument("--seeds", type=positive_int, default=25_000,
                    help="seed-list size")
    ap.add_argument(
        "--maintenance",
        action="store_true",
        help="also run the balanced AND skewed crawls with seen compaction "
        "+ frontier expiry on and assert per-round results are "
        "bit-identical to their plain twins (compaction exercised under "
        "hot-host file skew too)",
    )
    args = ap.parse_args(argv)
    args.cores = args.cores or usable_cpus()

    def check_maintenance_twin(name: str, results: dict) -> None:
        plain, maint = results[name], results[f"{name}_maintenance"]
        same = (
            maint["per_round"] == plain["per_round"]
            and maint["seen"] == plain["seen"]
        )
        results[f"{name}_maintenance_bit_identical"] = same
        print(
            f"\n{name} maintenance run bit-identical: {same}; "
            f"seen parquet files {plain['seen_parquet_files']}"
            f" -> {maint['seen_parquet_files']}, frontier "
            f"snapshot dirs {plain['frontier_snapshot_dirs']}"
            f" -> {maint['frontier_snapshot_dirs']}"
        )
        if not same:
            print(f"MAINTENANCE REGRESSION ({name}): results differ from plain run")
            sys.exit(1)

    results = {}
    size = dict(hosts=args.hosts, seeds_n=args.seeds)
    if not args.skew_only:
        results["balanced"] = run_demo(args.cores, skew=False, **size)
        if args.maintenance:
            results["balanced_maintenance"] = run_demo(
                args.cores, skew=False, maintenance=True, **size
            )
            check_maintenance_twin("balanced", results)
    if not args.balanced_only:
        results["skew"] = run_demo(args.cores, skew=True, **size)
        if args.maintenance:
            results["skew_maintenance"] = run_demo(
                args.cores, skew=True, maintenance=True, **size
            )
            check_maintenance_twin("skew", results)
    if "balanced" in results and "skew" in results:
        # The hot-host web is a different (smaller, duplicate-heavy) graph —
        # routing half of all links to one host collapses the distinct-URL
        # space — so wall times aren't directly comparable; per-URL
        # throughput (fetched+deduped per second) is. A straggler-bound
        # engine would crater under skew (one host's candidates pile into
        # one partition); the per-URL fetch repartition and url_hash-keyed
        # dedup window must hold throughput within 2x of balanced.
        thr_b = results["balanced"]["throughput_urls_per_sec"]
        thr_s = results["skew"]["throughput_urls_per_sec"]
        ratio = thr_s / thr_b
        results["skew_over_balanced_throughput"] = round(ratio, 3)
        print(f"\nskew/balanced throughput ratio: {ratio:.3f} (must be >= 0.5)")
        if ratio < 0.5:
            print("SKEW REGRESSION: hot-host throughput below half of balanced")
            sys.exit(1)
    print("FINAL " + json.dumps(
        {k: ({kk: vv for kk, vv in v.items() if kk != "per_round"}
             if isinstance(v, dict) else v)
         for k, v in results.items()}
    ))


if __name__ == "__main__":
    main()
