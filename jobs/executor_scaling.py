"""N-vs-4N EXECUTOR scaling probe — the contract criterion's literal shape.

BASELINE.json's north_rule asks for throughput scaling efficiency >= 0.8
between N and 4N *executors*. bench.py's big-crawl probe approximates that
with task slots inside ONE JVM; this script runs the same probe
(``bench.scaling_probe``: same-slot silicon ceiling first, then levels
interleaved 4N,N,N,4N, best of 2 per level, budget-guarded) on Spark's
`local-cluster[n, cores, mem]` master — real executor JVMs with their own
memory, python workers, netty shuffle and broadcast — at 1 and 4
executors. Each executor gets max(1, cpus // 4) cores (cpus from
``bench.usable_cpus``), so the 4N level fills the machine without
oversubscribing it.

The package ships to executors via addPyFile(zip) — nothing relies on the
repo being on the executors' filesystem path (same discipline as
jobs/submit_demo.sh).

`--work` (default 2000) sets CrawlConfig.fetch_cpu_work: a deterministic
per-URL CPU burn inside the distributed fetch stage with ZERO output
effect (test_fetch_cpu_work_does_not_change_results) — the realistic
parallel fraction that separates the engine's scaling from the machine's
fixed per-round cost. `--work 0` is the bare crawl bench.py runs.

Usage: python jobs/executor_scaling.py [--budget SEC] [--work N]
                                       [--seeds S] [--hosts H]
Prints one JSON line: the probe's per-level runs, scaling efficiency, the
same-slot silicon ceiling, determinism.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from bench import crawl_at, scaling_probe, usable_cpus  # noqa: E402
from crawlspark.config import (  # noqa: E402
    non_negative_float,
    non_negative_int,
    positive_int,
)


def _make_pyfiles_zip() -> str:
    zip_base = os.path.join(tempfile.gettempdir(), "crawlspark-execscaling")
    path = zip_base + ".zip"
    if os.path.exists(path):
        os.remove(path)
    shutil.make_archive(zip_base, "zip", _REPO_ROOT, "crawlspark")
    return path


def run_level(
    cores: int, cores_per_exec: int, zip_path: str, work: int, seeds: int, hosts: int
) -> dict:
    """One crawl on ``cores // cores_per_exec`` executor JVMs."""
    master = f"local-cluster[{cores // cores_per_exec},{cores_per_exec},4096]"
    return crawl_at(
        cores, master, seeds=seeds, hosts=hosts, work=work, py_file=zip_path
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--budget", type=non_negative_float, default=600.0,
                    help="skip the mirrored pair past this many seconds")
    ap.add_argument("--work", type=non_negative_int, default=2000,
                    help="fetch_cpu_work (~2 us per unit per URL); 0 = the "
                    "bare crawl")
    # a smaller web x heavier per-URL work holds total compute (seconds of
    # distributed burn) constant while shrinking the rows every fixed-cost
    # stage (shuffles, windows, sinks) must push — i.e. it raises the
    # parallel fraction the way a real fetch+parse workload (tens of ms per
    # URL) does, without raising the probe's wall-clock budget
    ap.add_argument("--seeds", type=positive_int, default=4000)
    ap.add_argument("--hosts", type=positive_int, default=2000)
    args = ap.parse_args(argv)

    n = max(1, usable_cpus() // 4)  # cores per executor
    zip_path = _make_pyfiles_zip()
    probe = scaling_probe(
        lambda cores: run_level(
            cores, n, zip_path, args.work, args.seeds, args.hosts
        ),
        n,
        args.budget,
    )
    print(json.dumps({
        "mode": "local-cluster (separate executor JVMs, netty shuffle)",
        "work": args.work,
        "seeds": args.seeds,
        "hosts": args.hosts,
        "cores_per_executor": n,
        **probe,
    }))


if __name__ == "__main__":
    main()
