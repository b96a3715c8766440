#!/usr/bin/env python
"""Bench harness (SURVEY.md §6; BASELINE.json:2 metric definition).

Prints ONE JSON line:
  {"metric": "urls_fetched_deduped_per_sec", "value": ..., "unit": ...,
   "suite_sec": ..., "sf": ..., "queries": {name: sec, ...},
   "detail_file": "BENCH_DETAIL.json",
   "big_crawl": {"levels": [n, 4n], "n": ..., "n4": ...,
                 "scaling_efficiency": ..., "efficiency_vs_hw_ceiling": ...,
                 "deterministic": ...}}
and writes the full nested result to BENCH_DETAIL.json.

Two parts, run in the order SPARK_GRAFT_BENCH_PARTS lists them:

- "bigcrawl": the north rule's N vs 4N criterion (BASELINE.json:14). One
  machine has no second cluster, so ``scaling_probe`` runs the SAME
  big-round crawl on the SAME input at local[n] and local[4n] with
  n = max(1, cpus // 4), and reports throughput (URLs fetched+deduped/sec)
  at both, the efficiency T4n/(4*Tn), that efficiency against the
  machine's own n→4n silicon ceiling, and whether every run crawled the
  same rounds, fetched, deduped and seen counts.
- "queries": the operator suite at the bench scale factor, seconds each.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
SPARK_GRAFT_BENCH_PARTS (default "bigcrawl,queries"),
SPARK_GRAFT_BENCH_BUDGET (default 780 s) and SPARK_GRAFT_BIGCRAWL_BUDGET
(default 200 s). A CPU count below 1 or a budget that is not a finite
number above 0 raises ValueError naming the variable.

This file is also the crawl harness the scripts under jobs/ import:
make_spark, run_crawl, crawl_at, usable_cpus and scaling_probe.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import time

import pandas as pd  # module-level: pandas_udf type hints resolve in module globals

from crawlspark.config import positive_float, positive_int


def env_knob(name: str, parse, default: str):
    """Environment variable ``name`` (``default`` when unset or empty)
    parsed by one of ``crawlspark.config``'s bounds; a bad value raises
    ``ValueError`` naming the variable."""
    text = os.environ.get(name) or default
    try:
        return parse(text)
    except argparse.ArgumentTypeError as e:
        raise ValueError(f"{name}={text!r}: {e}") from None


def make_spark(master: str, shuffle_partitions: int, aqe: bool = False):
    """The one session factory of bench.py and the scripts under jobs/.
    ``master`` is any Spark master string: ``local[N]`` or
    ``local-cluster[n,cores,mem]``. On local-cluster, each executor's
    ``spark.executor.memory`` is the master's ``mem`` MiB (a larger
    setting stops the executors from starting; ``local[N]`` ignores it),
    and ``defaultParallelism`` (which CrawlEngine reads once as its task
    slots) is pinned to the cluster's n × cores: unset, the standalone
    backend floors it at 2, and until the executors register it reads
    the cores registered so far. The session is returned once all n
    executors have registered, so the Python-worker warm-up reaches each
    of them."""
    from pyspark.sql import SparkSession

    cluster = _local_cluster_shape(master)
    builder = SparkSession.builder.master(master)
    if cluster:
        n, cores, mem = cluster
        builder = builder.config("spark.default.parallelism", str(n * cores)).config(
            "spark.executor.memory", f"{mem}m"
        )
    spark = (
        builder.appName("crawlspark-bench")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if cluster:
        _await_executors(spark.sparkContext, n)
    return spark


def _local_cluster_shape(master: str) -> tuple[int, int, int] | None:
    """(executors, cores per executor, MiB per executor) of a
    ``local-cluster[n, c, m]`` master; None for any other master."""
    m = re.fullmatch(
        r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]", master
    )
    return tuple(int(g) for g in m.groups()) if m else None


def _await_executors(sc, n: int, timeout: float = 120.0) -> None:
    """Block until ``n`` executors have registered with ``sc`` (its
    executor memory status also lists the driver)."""
    deadline = time.time() + timeout
    while (got := sc._jsc.sc().getExecutorMemoryStatus().size() - 1) < n:
        if time.time() > deadline:
            raise RuntimeError(f"{got} of {n} executors registered in {timeout:.0f} s")
        time.sleep(0.1)


def bench_queries(sf_dir: str, cpus: int) -> dict[str, float]:
    """Part A: headline operator corpus at the bench scale factor. Timed via
    noop write (count() would let Catalyst prune the computed columns away)."""
    import __spark_entry__ as em

    names = [
        "url_canonicalize",
        "dedup_first_wins",
        "seen_anti_join",
        "perhost_topk",
        "politeness_clock",
        "metrics_agg",
        "metrics_rollup",
        "sessionize",
        "dedup_exact",
        "token_counts",
        "decontaminate",
        "text_quality",
        "fingerprint",
        "ann_topk",
        "minhash_lsh_pairs",
        "simhash_near_pairs",
        "media_meta",
        "tokens_topk",
        "lang_pivot",
        "events_cube",
        "events_ordered_agg",
        "robots_match",
    ]
    spark = make_spark(f"local[{cpus}]", max(8, cpus), aqe=True)
    q = em.queries()
    out: dict[str, float] = {}
    try:
        for name in names:
            # one untimed run first: a query's first execution in the JVM
            # carries codegen, JIT and worker warm-up (url_canonicalize read
            # ~2x in a cold session), not the operator. It runs on its own
            # frame: the timed frame must not reuse the warm-up's lazy
            # localCheckpoint blocks (MinHash/SimHash signatures)
            warm = q[name](spark, sf_dir)
            warm.write.mode("overwrite").format("noop").save()
            df = q[name](spark, sf_dir)
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            out[name] = round(time.time() - t0, 3)
    finally:
        spark.stop()
    return out


def warm_python_workers(spark) -> None:
    """Spin up the python worker pool and pay the heavy imports (pandas,
    numpy, pyarrow.dataset, crawlspark) BEFORE the timed section: worker
    attach + import measured ~1s x 32 workers on a 32-vCPU VM and belongs
    to session setup, not crawl throughput. The UDF is a closure, so it is
    pickled by value: local-cluster executors receive the crawlspark zip,
    not this file."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        import numpy  # noqa: F401
        import pyarrow.dataset  # noqa: F401

        import crawlspark.filters  # noqa: F401
        from crawlspark.functions import canon, robots  # noqa: F401
        from crawlspark.sources import synthweb  # noqa: F401

        return x

    cores = spark.sparkContext.defaultParallelism
    (
        spark.range(0, cores * 4, 1, cores)
        .select(_warm("id"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


def run_crawl(spark, cfg, seeds: list[str], root: str):
    """The one crawl-run harness: warm the python workers, crawl ``seeds``
    under storage ``root`` until exhaustion or ``cfg.max_rounds``, and
    summarize. Returns the engine (its ``history`` holds the per-round
    metrics) and the summary dict every crawl probe reports."""
    from crawlspark.engine import CrawlEngine
    from crawlspark.storage import CrawlStorage

    engine = CrawlEngine(spark, cfg, CrawlStorage(spark, root))
    warm_python_workers(spark)
    t0 = time.time()
    summary = engine.run(seeds)
    wall = time.time() - t0
    fetched = summary["totals"]["fetched"]
    deduped = sum(m.deduped for m in engine.history)
    return engine, {
        "wall_sec": round(wall, 2),
        "fetched": fetched,
        "deduped": deduped,
        "seen": summary["totals"]["seen"],
        "rounds": summary["rounds"],
        "exhausted": summary["exhausted"],
        "throughput_urls_per_sec": round((fetched + deduped) / wall, 1),
    }


def crawl_at(
    cores: int,
    master: str | None = None,
    *,
    seeds: int = 4000,
    hosts: int = 2000,
    work: int = 0,
    py_file: str | None = None,
) -> dict:
    """One run of the big-round crawl on ``cores`` task slots: ``seeds``
    generated seeds over a ``hosts``-host web, depth 3, politeness
    effectively unbounded, so rounds hold 10^4-10^5 URLs and per-URL python
    fetch+parse work dominates the fixed per-round cost (BASELINE.md scale
    demonstration). ``master`` defaults to ``local[cores]``; ``work`` sets
    ``CrawlConfig.fetch_cpu_work`` (outputs are identical at any value; the
    fetch, like every stage of a round, runs one wave on the task slots);
    ``py_file`` ships a package zip to executors that do not share this
    process's path."""
    from crawlspark.config import CrawlConfig
    from crawlspark.sources import synthweb

    cfg = CrawlConfig(
        max_depth=3,
        max_rounds=8,
        web_hosts=hosts,
        round_seconds=1e9,
        shuffle_partitions=max(8, cores),
        fetch_cpu_work=work,
    )
    spark = make_spark(master or f"local[{cores}]", cfg.shuffle_partitions)
    try:
        if py_file:
            spark.sparkContext.addPyFile(py_file)
        with tempfile.TemporaryDirectory(prefix=f"bench-crawl-{cores}-") as root:
            _, summary = run_crawl(spark, cfg, synthweb.seed_list(cfg, n=seeds), root)
    finally:
        spark.stop()
    return summary


def silicon_ceiling(n: int) -> float:
    """The MACHINE's own n→4n process-parallel scaling ceiling, from
    pure-python CPU burns (``pool_burn``, no Spark): the efficiency
    (w4n / wn) / 4, where wk is the work units k processes do. On SMT
    hardware the ceiling is well below 1.0, and Spark cannot scale better
    than the silicon under it. A shared machine slows single burns, so the
    levels run interleaved n, 4n, 4n, n and the best burn per level counts
    (``scaling_probe``'s rule): one burn per level read 0.64-1.33 here."""
    work = {n: 0, 4 * n: 0}
    for k in (n, 4 * n, 4 * n, n):
        work[k] = max(work[k], pool_burn(k))
    return round(work[4 * n] / work[n] / 4, 3)


def pool_burn(k: int, seconds: float = 2.0) -> int:
    """Work units ``k`` processes do in one shared ``seconds``-long window:
    each counts loop turns, and a barrier starts every count once all
    ``k`` processes are up, so start-up does not overlap the window."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    barrier, done = ctx.Barrier(k), ctx.Queue()
    procs = [ctx.Process(target=_burn, args=(seconds, barrier, done)) for _ in range(k)]
    for p in procs:
        p.start()
    try:
        return sum(done.get(timeout=60 + seconds) for _ in procs)
    finally:
        for p in procs:
            p.join(timeout=10)


def _burn(seconds: float, barrier, done) -> None:
    barrier.wait(timeout=60)
    t0 = time.time()
    x = 0
    while time.time() - t0 < seconds:
        x += 1
    done.put(x)


def usable_cpus() -> int:
    """SPARK_GRAFT_CPUS, else the CPUs this process may run on; a count
    below 1 raises ValueError naming the variable."""
    return env_knob("SPARK_GRAFT_CPUS", positive_int, str(len(os.sched_getaffinity(0))))


def scaling_probe(run_level, n: int, budget: float) -> dict:
    """The one N→4N scaling probe (BASELINE.json north_rule): the same crawl
    at n and at 4n cores. ``run_level(cores)`` runs it once and returns a
    ``run_crawl`` summary.

    The same-slot silicon ceiling goes first, so the efficiency can be read
    against what the machine's cores deliver. The levels then run
    interleaved 4n,n,n,4n and the best run per level counts: a shared
    machine drifts between runs (the identical crawl measured 51 s cold and
    22 s warm), and the mirrored order gives each level one early and one
    late slot. The mirrored pair is skipped once ``budget`` seconds have
    passed, so a slow machine still yields a result. The determinism flags
    compare every run, whatever its speed."""
    ceiling = silicon_ceiling(n)
    n4 = 4 * n
    t0 = time.time()
    runs = []
    for cores in (n4, n, n, n4):
        if len(runs) >= 2 and time.time() - t0 > budget:
            break
        runs.append({"cores": cores, **run_level(cores)})

    def best(cores: int) -> dict:
        level = [r for r in runs if r["cores"] == cores]
        return max(level, key=lambda r: r["throughput_urls_per_sec"])

    eff = best(n4)["throughput_urls_per_sec"] / (4 * best(n)["throughput_urls_per_sec"])
    return {
        "levels": [n, n4],
        "n": best(n),
        "n4": best(n4),
        "all_walls_sec": [r["wall_sec"] for r in runs],
        "run_order": [r["cores"] for r in runs],
        "hw_ceiling": ceiling,
        "scaling_efficiency": round(eff, 3),
        "efficiency_vs_hw_ceiling": round(eff / ceiling, 3),
        "rounds_equal": len({r["rounds"] for r in runs}) == 1,
        "fetched_equal": len({r["fetched"] for r in runs}) == 1,
        "deduped_equal": len({r["deduped"] for r in runs}) == 1,
        "seen_equal": len({r["seen"] for r in runs}) == 1,
    }


def bench_big_crawl() -> dict:
    """The headline probe: the big-round crawl at local[n] and local[4n],
    n = max(1, cpus // 4), so the 4N level never oversubscribes a machine
    of 4 CPUs or more. SPARK_GRAFT_BIGCRAWL_BUDGET bounds the probe."""
    budget = env_knob("SPARK_GRAFT_BIGCRAWL_BUDGET", positive_float, "200")
    return scaling_probe(crawl_at, max(1, usable_cpus() // 4), budget)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = usable_cpus()
    # Parts execute in LISTED order, the headline (bigcrawl) first by
    # default: a shared machine drifts under sustained load, so the first
    # part gets the most representative slot. Later parts are skipped (and
    # listed in skipped_parts) once the time budget runs out, so ONE JSON
    # line always lands.
    parts = os.environ.get("SPARK_GRAFT_BENCH_PARTS", "bigcrawl,queries").split(",")
    budget = env_knob("SPARK_GRAFT_BENCH_BUDGET", positive_float, "780")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None

    t_start = time.time()
    result: dict = {}
    runners = {
        "bigcrawl": ("big_crawl", bench_big_crawl),
        "queries": ("queries", lambda: bench_queries(sf_dir, cpus)),
    }
    for p in parts:
        if p in runners and time.time() - t_start < budget:
            key, fn = runners[p]
            result[key] = fn()
    result["part_run_order"] = [p for p in parts if p in runners]
    result["skipped_parts"] = [
        p for p in parts if p and not (p in runners and runners[p][0] in result)
    ]
    total = round(time.time() - t_start, 2)

    # headline = the better level of the big-round crawl; the per-level
    # numbers stay in the JSON and the determinism fields cover every run
    big = result.get("big_crawl")
    value = (
        max(big[k]["throughput_urls_per_sec"] for k in ("n", "n4")) if big else total
    )
    # Full detail goes to a FILE; the stdout line stays compact. The driver
    # keeps only the last ~2000 chars of stdout, and round 2's all-in-one
    # line outgrew that window (BENCH_r02.json parsed: null) — the headline
    # must survive the tail capture, so everything nested lives in
    # BENCH_DETAIL.json next to this script and the line carries only the
    # contract fields + per-query seconds + the scaling summary.
    detail = {
        "metric": "urls_fetched_deduped_per_sec",
        "value": value,
        "unit": "urls/sec",
        "suite_sec": total,
        "unit_note": "value = URLs fetched+deduped/sec, better level of the "
        "big-round crawl (per-level numbers and scaling efficiency are under "
        "big_crawl); the suite seconds if that part is skipped",
        "sf": sf,
        **result,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    print(build_compact_line(result, value, total, sf))


def build_compact_line(result: dict, value, total, sf) -> str:
    """The single stdout JSON line the driver parses. MUST stay under ~1900
    chars (the driver keeps only the last ~2000 chars of stdout — round 2's
    all-in-one line exceeded that and the headline went unrecorded), so it
    carries only the contract fields, per-query seconds, and the scaling
    summary; everything nested lives in BENCH_DETAIL.json. Pinned by
    tests/test_bench_line.py."""
    line = {
        "metric": "urls_fetched_deduped_per_sec",
        "value": value,
        "unit": "urls/sec",
        "suite_sec": total,
        "sf": sf,
        "queries": result.get("queries", {}),
        "detail_file": "BENCH_DETAIL.json",
    }
    if "big_crawl" in result:
        probe = result["big_crawl"]
        line["big_crawl"] = {
            "levels": probe["levels"],
            "n": probe["n"]["throughput_urls_per_sec"],
            "n4": probe["n4"]["throughput_urls_per_sec"],
            "scaling_efficiency": probe["scaling_efficiency"],
            "efficiency_vs_hw_ceiling": probe["efficiency_vs_hw_ceiling"],
            "deterministic": all(
                probe[f"{k}_equal"] for k in ("rounds", "fetched", "deduped", "seen")
            ),
        }
    if result.get("skipped_parts"):
        line["skipped_parts"] = result["skipped_parts"]
    encoded = json.dumps(line)
    if len(encoded) > 1900:  # hard guard: headline fields must survive the tail
        # loud, not silent: a missing `queries` block in a recorded BENCH_rN
        # must be attributable to this guard, not to a bench bug
        print(
            f"bench: size guard fired ({len(encoded)} chars > 1900); "
            "per-query seconds moved to BENCH_DETAIL.json",
            file=sys.stderr,
        )
        line.pop("queries", None)
        line["queries_note"] = "moved to BENCH_DETAIL.json (size guard)"
        encoded = json.dumps(line)
    return encoded


if __name__ == "__main__":
    sys.exit(main())
