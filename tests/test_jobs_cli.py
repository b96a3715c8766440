"""CLI argument validation of the scripts under jobs/."""

from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

SCRIPTS = ["scale_demo", "executor_scaling"]


def _load_job(monkeypatch, name: str):
    # the scripts put the repo root on sys.path (and scale_demo on
    # PYTHONPATH) at import; monkeypatch restores both afterwards
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    spec = importlib.util.spec_from_file_location(name, REPO / "jobs" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", SCRIPTS)
def test_job_help_exits_zero(monkeypatch, capsys, name):
    """--help parses and exits 0: the script and its harness imports load
    without starting Spark."""
    job = _load_job(monkeypatch, name)
    with pytest.raises(SystemExit) as exc:
        job.main(["--help"])
    assert exc.value.code == 0
    assert "--hosts" in capsys.readouterr().out


@pytest.mark.parametrize("name", SCRIPTS)
def test_job_rejects_zero_hosts(monkeypatch, capsys, name):
    """--hosts 0 used to reach synthweb.seed_list and raise
    ZeroDivisionError; it must stop at argument parsing with a usage error,
    before any Spark session starts."""
    job = _load_job(monkeypatch, name)
    with pytest.raises(SystemExit) as exc:
        job.main(["--hosts", "0"])
    assert exc.value.code == 2
    assert "--hosts: must be >= 1, got 0" in capsys.readouterr().err


@pytest.mark.parametrize(
    "flag",
    ["--web-hosts", "--seed-count", "--max-rounds", "--shuffle-partitions",
     "--unban-round"],
)
def test_run_crawl_rejects_counts_below_one(monkeypatch, capsys, flag):
    """jobs/run_crawl.py: --web-hosts 0 used to reach synthweb.seed_list and
    raise ZeroDivisionError; every count option must stop at argument
    parsing with a usage error, before any Spark session starts."""
    job = _load_job(monkeypatch, "run_crawl")
    with pytest.raises(SystemExit) as exc:
        job.main(["--root", "unused", flag, "0"])
    assert exc.value.code == 2
    assert f"{flag}: must be >= 1, got 0" in capsys.readouterr().err


@pytest.mark.parametrize(
    "name, flag, value, message",
    [
        ("run_crawl", "--max-depth", "-1", "must be >= 0, got -1"),
        ("run_crawl", "--round-seconds", "0", "must be > 0, got 0.0"),
        ("run_crawl", "--round-seconds", "-2.5", "must be > 0, got -2.5"),
        ("run_crawl", "--round-seconds", "nan", "must be finite, got nan"),
        ("run_crawl", "--round-seconds", "inf", "must be finite, got inf"),
        ("run_crawl", "--round-seconds", "soon", "not a number: 'soon'"),
        ("executor_scaling", "--work", "-1", "must be >= 0, got -1"),
        ("executor_scaling", "--budget", "-1", "must be >= 0, got -1.0"),
        ("executor_scaling", "--budget", "nan", "must be finite, got nan"),
        ("executor_scaling", "--budget", "inf", "must be finite, got inf"),
    ],
)
def test_job_rejects_out_of_range_values(monkeypatch, capsys, name, flag, value, message):
    """Depths, CPU-work levels, round windows and time budgets outside their
    range stop at argument parsing with a usage error. A NaN or infinite
    --round-seconds used to reach the engine unchecked (the oracle's
    ``int(round_seconds // delay)`` raises on both)."""
    job = _load_job(monkeypatch, name)
    argv = ["--root", "unused"] if name == "run_crawl" else []
    with pytest.raises(SystemExit) as exc:
        job.main([*argv, flag, value])
    assert exc.value.code == 2
    assert f"{flag}: {message}" in capsys.readouterr().err


@pytest.mark.parametrize("text", ["0", "-3", "four"])
def test_executor_scaling_rejects_bad_cpu_count(monkeypatch, text):
    """SPARK_GRAFT_CPUS went through a bare ``int()``: ``0`` and ``-3``
    silently ran 1-core executors and ``four`` died with an error that did
    not name the variable. It must stop before the silicon burn or any Spark
    work with an error naming the variable."""
    import bench

    job = _load_job(monkeypatch, "executor_scaling")

    def no_work(*args, **kwargs):
        raise AssertionError(f"SPARK_GRAFT_CPUS={text!r} reached the probe")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", text)
    monkeypatch.setattr(bench, "silicon_ceiling", no_work)
    monkeypatch.setattr(job, "run_level", no_work)
    monkeypatch.setattr(job, "_make_pyfiles_zip", no_work)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        job.main([])
