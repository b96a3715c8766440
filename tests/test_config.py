"""CrawlConfig holds only settings a caller sets, and rejects values no
code path handles. No Spark."""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

import pytest

from crawlspark.config import CrawlConfig

REPO = Path(__file__).resolve().parent.parent


def test_every_config_field_is_set_by_a_caller():
    """A CrawlConfig field that no script, harness or benchmark passes as a
    keyword is a constant in disguise: it belongs in config.py or next to
    the code that uses it. Keywords of any call count, since perfbench
    spells its per-workload settings as ``dict(...)``."""
    sources = [
        *sorted((REPO / "jobs").glob("*.py")),
        REPO / "bench.py",
        *sorted((REPO / "perfbench").glob("*.py")),
    ]
    passed = {
        kw.arg
        for path in sources
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        for kw in node.keywords
    }
    unset = [f.name for f in dataclasses.fields(CrawlConfig) if f.name not in passed]
    assert not unset, f"CrawlConfig fields no caller sets: {unset}"


@pytest.mark.parametrize("mode", ["pagerank ", "BFS", "", "in-degree"])
def test_unknown_priority_mode_is_rejected(mode):
    """A typo used to fall through the engine's and the oracle's mode
    branches and silently crawl BFS."""
    with pytest.raises(ValueError, match="bfs, indegree, pagerank") as exc:
        CrawlConfig(priority_mode=mode)
    assert repr(mode) in str(exc.value)
