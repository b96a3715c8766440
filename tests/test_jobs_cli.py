"""CLI argument validation of the scripts under jobs/."""

from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _load_scale_demo(monkeypatch):
    # the script puts the repo root on sys.path and PYTHONPATH at import;
    # monkeypatch restores both afterwards
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    spec = importlib.util.spec_from_file_location(
        "scale_demo", REPO / "jobs" / "scale_demo.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_demo_rejects_zero_hosts(monkeypatch, capsys):
    """--hosts 0 used to reach synthweb.seed_list and raise
    ZeroDivisionError; it must stop at argument parsing with a usage error,
    before any Spark session starts."""
    scale_demo = _load_scale_demo(monkeypatch)
    with pytest.raises(SystemExit) as exc:
        scale_demo.main(["--hosts", "0"])
    assert exc.value.code == 2
    assert "--hosts: must be >= 1, got 0" in capsys.readouterr().err
