#!/usr/bin/env python3
"""Crawl benchmark.

    python3 perfbench/run.py --workload big_round --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client drives one ``local[N]`` Spark
session in a closed loop: after set-up, crawls of the named workload run one
at a time until ``--seconds`` have passed (always at least one). Each crawl
is prepared untimed (bootstrap and round 1) and its remaining rounds are
timed; every crawl's output is checked against the sequential oracle
(``tests/oracle_crawler.crawl``) on the same generated inputs.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` one untraced and one traced crawl run, and the
metrics are the per-layer ones (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, replace
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"
# A crawl slower than this could not finish inside one run's time limit.
CRAWL_LIMIT_S = 150.0


def _int_at_least(lo: int):
    def parse(text: str) -> int:
        try:
            v = int(text)
        except ValueError:
            raise argparse.ArgumentTypeError(f"expected an integer, got {text!r}")
        if v < lo:
            raise argparse.ArgumentTypeError(f"must be >= {lo}, got {v}")
        return v

    return parse


def _default_cores() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def parse_args(argv, workloads) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument(
        "--seed", type=_int_at_least(0), default=42,
        help="generates the synthetic web and its seed list (CrawlConfig.seed)",
    )
    p.add_argument(
        "--seconds", type=_int_at_least(1), default=10,
        help="measure crawls for this long (at least one; --trace 1 runs two)",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cores", type=_int_at_least(1), default=None,
        help="local[N] parallelism (default: SPARK_GRAFT_CPUS, else usable CPUs)",
    )
    args = p.parse_args(argv)
    if args.cores is None:
        try:
            args.cores = _int_at_least(1)(_default_cores())
        except argparse.ArgumentTypeError as e:
            p.error(f"SPARK_GRAFT_CPUS: {e}")
    return args


@dataclass
class Crawl:
    wall_s: float
    cpu_s: float
    peak_rss_mb: float
    round_s: dict  # round -> wall seconds, for the rounds this engine ran
    urls: int  # fetched + deduped in those rounds
    ok: bool
    engine: object


def prepare(spark, cfg, seeds, storage, spans=None):
    """Bootstrap a crawl in ``storage`` and run its first round; returns
    the engine. With ``spans``, the rounds are recorded there."""
    from crawlspark.engine import CrawlEngine

    from perfbench import trace

    engine = CrawlEngine(spark, replace(cfg, max_rounds=1), storage)
    if spans is not None:
        trace.time_rounds(engine, spans)
    engine.run(seeds)
    return engine


def crawl_once(spark, cfg, seeds, storage, want: dict, spans=None) -> Crawl:
    """Resume the prepared crawl in ``storage`` (the engine resumes from its
    latest manifest) and run it to its end, timed; then check the whole
    crawl against the oracle."""
    from crawlspark.engine import CrawlEngine

    from perfbench import check, procstat, trace

    spans = trace.Spans() if spans is None else spans
    engine = CrawlEngine(spark, cfg, storage)
    trace.time_rounds(engine, spans)
    cpu0 = procstat.cpu_seconds()
    with procstat.PeakPss() as mem:
        t0 = time.perf_counter()
        summary = engine.run(seeds)
        wall = time.perf_counter() - t0
    cpu = procstat.cpu_seconds() - cpu0
    got = check.engine_digest(storage, summary)
    if got != want:
        print(f"perfbench: output differs from the oracle: {got} != {want}",
              file=sys.stderr)
    ran = {m.round for m in engine.history}
    return Crawl(
        wall_s=wall,
        cpu_s=cpu,
        peak_rss_mb=mem.peak_mb,
        round_s={s.round: s.end - s.start for s in spans.named("round") if s.round in ran},
        urls=sum(m.fetched + m.deduped for m in engine.history),
        ok=got == want and wall <= CRAWL_LIMIT_S,
        engine=engine,
    )


def measure(args, work: Path, wl) -> dict:
    """Untraced run: set-up, then the closed loop; end-to-end metrics.

    Each crawl is prepared (bootstrap and round 1) untimed, and the rest of
    it is measured. The first preparation is the set-up's warm-up: the first
    round in a fresh JVM pays Python-worker start-up, codegen and JIT
    compilation, and crawls keep speeding up for several more (measured
    26.9, 23.3, 22.1 s), more than one run can afford. So every run
    measures from the same point, the rounds after one warm-up round."""
    from crawlspark.storage import CrawlStorage

    from perfbench import check, session

    cfg = wl.crawl_config(args.seed, args.cores)
    seeds = wl.seeds(cfg)
    want, _ = check.oracle_digest(cfg, seeds)

    t0 = time.perf_counter()
    spark = session.start(args.cores, work)
    try:
        storage = CrawlStorage(spark, work / "crawl-1")
        prepare(spark, cfg, seeds, storage)
        setup_s = time.perf_counter() - t0

        crawls, attempted = [], 0
        t_start = time.perf_counter()
        while True:
            attempted += 1
            try:
                if attempted > 1:
                    storage = CrawlStorage(spark, work / f"crawl-{attempted}")
                    prepare(spark, cfg, seeds, storage)
                crawls.append(crawl_once(spark, cfg, seeds, storage, want))
            except Exception:  # a crawl that raises counts as failed; go on
                traceback.print_exc()
            shutil.rmtree(storage.root, ignore_errors=True)
            elapsed = time.perf_counter() - t_start
            last = crawls[-1].wall_s if crawls else 0.0
            if elapsed + last > args.seconds:
                break
    finally:
        session.stop(spark)
    if not crawls:
        raise RuntimeError("no crawl completed")
    rounds = [r for c in crawls for r in c.round_s.values()]
    metrics = {
        "crawl_s": (statistics.median(c.wall_s for c in crawls), "s"),
        "urls_per_s": (statistics.median(c.urls / c.wall_s for c in crawls), "1/s"),
        "round_s.p50": (statistics.median(rounds), "s"),
        "round_s.max": (max(rounds), "s"),
        "cpu_s": (statistics.median(c.cpu_s for c in crawls), "s"),
        "peak_rss_mb": (max(c.peak_rss_mb for c in crawls), "MiB"),
        "setup_s": (setup_s, "s"),
    }
    failed = attempted - sum(c.ok for c in crawls)
    return result(attempted, failed, metrics)


def measure_traced(args, work: Path, wl) -> dict:
    """Traced run, in one session with Spark's event log on: two crawls
    are prepared, one plain (in a cold JVM, so it is also the warm-up) and
    one traced, then both are finished one after the other. The traced one
    gives the per-layer metrics; the walls of their finishing parts give
    ``trace_overhead``. Which one finishes first alternates with the seed,
    so the JIT's continuing warm-up biases single runs both ways and cancels
    across seeds."""
    from crawlspark.storage import CrawlStorage

    from perfbench import check, eventlog, micro, session, trace

    cfg = wl.crawl_config(args.seed, args.cores)
    seeds = wl.seeds(cfg)
    want, oracle_s = check.oracle_digest(cfg, seeds)
    log_dir = work / "eventlog"
    spark = session.start(args.cores, work, event_log_dir=log_dir)
    try:
        plain = CrawlStorage(spark, work / "crawl-plain")
        spans = trace.Spans()
        timed = trace.TimedStorage(spark, work / "crawl-traced", spans)
        prepare(spark, cfg, seeds, plain)
        first_round = prepare(spark, cfg, seeds, timed, spans)
        order = [(plain, None), (timed, spans)]
        if args.seed % 2:
            order.reverse()
        done = {id(st): crawl_once(spark, cfg, seeds, st, want, sp) for st, sp in order}
        base, traced = done[id(plain)], done[id(timed)]
        inputs = micro.read_inputs(timed)
    finally:
        session.stop(spark)  # flushes the event log

    history = first_round.history + traced.engine.history
    intervals = trace.phase_intervals(spans, history)
    phases = ("bootstrap", *trace.PHASES.values(), "commit_maint")
    metrics = {f"engine.{p}_s": 0.0 for p in phases}
    for phase, _, start, end in intervals:
        metrics[f"engine.{phase}_s"] += end - start
    metrics.update(eventlog.rollup(eventlog.read_events(log_dir), intervals))
    def total(field: str) -> int:
        return max(1, sum(getattr(m, field) for m in history))

    metrics["engine.admit_ratio"] = total("fetched") / total("frontier_size")
    metrics["engine.dedup_ratio"] = total("deduped") / total("candidates")
    metrics["engine.fetch_ok_ratio"] = total("ok_200") / total("fetched")
    metrics["rounds"] = len(history)
    metrics.update(trace.storage_metrics(spans, timed.root))
    metrics.update(micro.run(inputs, cfg, traced.engine.cuckoo))
    metrics["oracle_s"] = oracle_s
    metrics["trace_overhead"] = traced.wall_s / base.wall_s - 1.0
    failed = 2 - base.ok - traced.ok
    return result(2, failed, {k: (v, _unit(k)) for k, v in metrics.items()})


def _unit(name: str) -> str:
    """Unit from the name's last segment with a unit suffix."""
    for seg in reversed(name.split(".")):
        for suffix, unit in (("_us", "us"), ("_ns", "ns"), ("_mb", "MiB"), ("_s", "s")):
            if seg.endswith(suffix):
                return unit
    if name.endswith(("ratio", "overhead", "skew")):
        return "ratio"
    return "count"


def result(attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench.workloads import WORKLOADS
        import tests.oracle_crawler  # noqa: F401  (the output check needs it)
    except ImportError as e:
        print(f"perfbench: cannot import the program under test ({e}); "
              "run from the root of a crawlspark checkout", file=sys.stderr)
        return 2
    args = parse_args(argv, WORKLOADS)

    work = WORK / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Python workers import crawlspark from this checkout, and every
    # scratch file Spark or Python writes stays inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # the JVMs would otherwise keep their perf-data files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [p for p in [os.environ.get("JAVA_TOOL_OPTIONS")] if p] + ["-XX:-UsePerfData"]
    )
    try:
        run = measure_traced if args.trace else measure
        out = run(args, work, WORKLOADS[args.workload])
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
