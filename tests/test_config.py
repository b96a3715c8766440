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


@pytest.mark.parametrize(
    "field, value, message",
    [
        ("round_seconds", float("nan"), "must be finite"),
        ("round_seconds", float("inf"), "must be finite"),
        ("round_seconds", 0.0, "must be > 0"),
        ("round_seconds", -1.0, "must be > 0"),
        ("round_seconds", None, "must be finite"),
        ("max_depth", -1, "must be >= 0"),
        ("max_depth", None, "must be finite"),
        ("max_rounds", 0, "must be >= 1"),
        ("web_hosts", 0, "must be >= 1"),
        ("shuffle_partitions", 0, "must be >= 1"),
        ("fetch_cpu_work", -1, "must be >= 0"),
        ("unban_round", 0, "must be >= 1"),
        ("compact_seen_every", 0, "must be >= 1"),
    ],
)
def test_out_of_range_setting_is_rejected(field, value, message):
    """The oracle raised on a NaN round_seconds while the engine took it
    unchecked, and max_depth=-1 silently crawled only the seeds. Both are
    rendered into the round's SQL text, so they must be finite numbers."""
    with pytest.raises(ValueError, match=f"^{field} {message}"):
        CrawlConfig(**{field: value})


@pytest.mark.parametrize(
    "settings",
    [
        dict(max_depth=0, round_seconds=1e-3, fetch_cpu_work=0),
        dict(max_rounds=1, web_hosts=1, shuffle_partitions=1),
        dict(unban_round=None, compact_seen_every=None),
        dict(unban_round=1, compact_seen_every=1, round_seconds=1e9),
    ],
)
def test_edge_of_range_settings_are_accepted(settings):
    assert CrawlConfig(**settings)
