"""bench.scaling_probe, the one N→4N probe behind bench.py's big crawl and
jobs/executor_scaling.py, driven by a fake crawl, and its silicon ceiling
driven by a fake burn: no Spark, and one 0.05-second burn."""

from __future__ import annotations

import time

import pytest

import bench


def _run(cores: int, thr: float, seen: int = 149_048) -> dict:
    return {"throughput_urls_per_sec": thr, "wall_sec": round(1e5 / thr, 2),
            "rounds": 4, "fetched": 147_568, "deduped": 2_449, "seen": seen}


@pytest.fixture
def no_burn(monkeypatch):
    monkeypatch.setattr(bench, "silicon_ceiling", lambda n: 0.8)


def _fake_level(results: dict[int, list[dict]], calls: list[int]):
    def run_level(cores: int) -> dict:
        calls.append(cores)
        time.sleep(0.002)  # so a zero budget is always spent
        return results[cores].pop(0)

    return run_level


def test_probe_interleaves_levels_and_keeps_best_run(no_burn):
    calls: list[int] = []
    results = {4: [_run(4, 1000.0), _run(4, 1200.0)],
               1: [_run(1, 500.0), _run(1, 400.0)]}
    out = bench.scaling_probe(_fake_level(results, calls), 1, budget=3600)
    assert calls == [4, 1, 1, 4]
    assert out["run_order"] == [4, 1, 1, 4]
    assert out["levels"] == [1, 4]
    assert out["n"]["throughput_urls_per_sec"] == 500.0
    assert out["n4"]["throughput_urls_per_sec"] == 1200.0
    assert out["n"]["cores"] == 1 and out["n4"]["cores"] == 4
    assert out["all_walls_sec"] == [100.0, 200.0, 250.0, 83.33]
    assert out["scaling_efficiency"] == round(1200.0 / (4 * 500.0), 3)
    assert out["efficiency_vs_hw_ceiling"] == round(1200.0 / (4 * 500.0) / 0.8, 3)
    assert all(out[f"{k}_equal"] for k in ("rounds", "fetched", "deduped", "seen"))


def test_probe_skips_mirrored_pair_once_budget_is_spent(no_burn):
    calls: list[int] = []
    results = {8: [_run(8, 900.0)], 2: [_run(2, 300.0)]}
    out = bench.scaling_probe(_fake_level(results, calls), 2, budget=0)
    assert calls == [8, 2]
    assert out["levels"] == [2, 8]
    assert out["scaling_efficiency"] == 0.75


def test_probe_flags_a_run_that_saw_a_different_crawl(no_burn):
    results = {4: [_run(4, 1000.0), _run(4, 1000.0, seen=149_047)],
               1: [_run(1, 500.0), _run(1, 500.0)]}
    out = bench.scaling_probe(_fake_level(results, []), 1, budget=3600)
    assert out["rounds_equal"] and out["fetched_equal"] and out["deduped_equal"]
    assert not out["seen_equal"]


@pytest.mark.parametrize("cpus, levels", [(1, [1, 4]), (4, [1, 4]), (6, [1, 4]),
                                          (32, [8, 32])])
def test_big_crawl_levels_follow_the_cpu_count(monkeypatch, no_burn, cpus, levels):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    monkeypatch.setattr(bench, "crawl_at", lambda cores: _run(cores, 100.0 * cores))
    out = bench.bench_big_crawl()
    assert out["levels"] == levels
    assert out["run_order"][:2] == [levels[1], levels[0]]


def test_silicon_ceiling_interleaves_levels_and_keeps_best_burn(monkeypatch):
    calls: list[int] = []
    burns = {1: [100, 130], 4: [360, 440]}

    def fake_burn(k: int) -> int:
        calls.append(k)
        return burns[k].pop(0)

    monkeypatch.setattr(bench, "pool_burn", fake_burn)
    assert bench.silicon_ceiling(1) == round(440 / 130 / 4, 3)
    assert calls == [1, 4, 4, 1]


def test_pool_burn_counts_in_spawned_processes():
    assert bench.pool_burn(2, seconds=0.05) > 0


def test_cpu_count_defaults_to_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: set(range(6)))
    assert bench.usable_cpus() == 6
