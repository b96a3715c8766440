"""The driver parses exactly ONE stdout JSON line from bench.py and keeps
only the last ~2000 characters of stdout; round 2's line embedded every
nested probe block, outgrew that window, and the round's headline was
recorded as `parsed: null`. These tests pin the contract: the compact line
always parses, always carries the headline fields, and never exceeds the
tail-capture window — even for a worst-case fat result dict."""

import json

import pytest

import bench


def _fat_result() -> dict:
    # worst realistic case: every part present, a 50-query corpus with long
    # names, and float timings with full repr precision
    queries = {
        f"a_quite_long_query_name_number_{i:02d}": round(123.456 + i, 3)
        for i in range(50)
    }
    return {
        "queries": queries,
        "big_crawl": {
            "levels": [8, 32],
            "n": {"cores": 8, "throughput_urls_per_sec": 4215.7,
                  "wall_sec": 37.01, "fetched": 133641, "seen": 147253,
                  "rounds": 4},
            "n4": {"cores": 32, "throughput_urls_per_sec": 5136.2,
                   "wall_sec": 29.23, "fetched": 133641, "seen": 147253,
                   "rounds": 4},
            "all_walls_sec": [29.2, 37.0, 35.6, 31.7],
            "run_order": [32, 8, 8, 32],
            "hw_ceiling": 0.884,
            "scaling_efficiency": 0.305,
            "efficiency_vs_hw_ceiling": 0.345,
            "rounds_equal": True,
            "fetched_equal": True,
            "deduped_equal": True,
            "seen_equal": True,
        },
        "skipped_parts": [],
    }


def test_compact_line_fits_tail_capture():
    encoded = bench.build_compact_line(_fat_result(), 5136.2, 460.12, 0.1)
    assert len(encoded) <= 1900, len(encoded)
    assert "\n" not in encoded


def test_compact_line_headline_fields_parse():
    d = json.loads(bench.build_compact_line(_fat_result(), 5136.2, 460.12, 0.1))
    assert d["metric"] == "urls_fetched_deduped_per_sec"
    assert d["value"] == 5136.2
    assert d["unit"] == "urls/sec"
    assert d["sf"] == 0.1
    # scaling evidence for the contract's two-cluster-size criterion
    assert d["big_crawl"]["levels"] == [8, 32]
    assert d["big_crawl"]["n"] == 4215.7
    assert d["big_crawl"]["n4"] == 5136.2
    assert d["big_crawl"]["scaling_efficiency"] == 0.305
    assert d["big_crawl"]["deterministic"] is True


def test_compact_line_minimal_result():
    # budget-skipped runs still produce a parseable headline
    d = json.loads(
        bench.build_compact_line(
            {"queries": {"q": 1.0}, "skipped_parts": ["bigcrawl", "crawl"]},
            33.4, 33.4, 0.01,
        )
    )
    assert d["value"] == 33.4
    assert d["skipped_parts"] == ["bigcrawl", "crawl"]


def test_bench_query_names_exist_in_registry():
    """Every query name bench.py times must exist in the __spark_entry__
    registry — a rename/merge there (round 4 merged token_count +
    bpe_token_count into token_counts) must fail HERE, not as a KeyError
    halfway through a recorded bench run."""
    import inspect

    import __spark_entry__ as em

    src = inspect.getsource(bench.bench_queries)
    registered = set(em.queries())
    # the names list is the literal between 'names = [' and the closing ']'
    block = src.split("names = [", 1)[1].split("]", 1)[0]
    names = [ln.strip().strip('",') for ln in block.splitlines() if '"' in ln]
    assert names, "failed to parse the bench names list"
    missing = [n for n in names if n not in registered]
    assert not missing, f"bench times unregistered queries: {missing}"


@pytest.mark.parametrize(
    "name, text",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_BENCH_BUDGET", "nan"),
        ("SPARK_GRAFT_BENCH_BUDGET", "0"),
        ("SPARK_GRAFT_BIGCRAWL_BUDGET", "-5"),
        ("SPARK_GRAFT_BIGCRAWL_BUDGET", "inf"),
    ],
)
def test_bad_env_knob_is_rejected_by_name(monkeypatch, tmp_path, name, text):
    """A bad CPU count or time budget stops bench.py before any Spark work,
    with an error naming the variable (``int()``/``float()`` used to pass
    ``nan`` and ``0`` on to a budget check that never fires or a
    ``local[0]`` master). Should the check go missing, the bench runs no part
    and writes its detail file under ``tmp_path``, and a crawl raises."""
    monkeypatch.setenv(name, text)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PARTS", "none")
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    def no_crawl(*args, **kwargs):
        raise AssertionError(f"{name}={text!r} reached a crawl")

    monkeypatch.setattr(bench, "crawl_at", no_crawl)
    run = bench.bench_big_crawl if name == "SPARK_GRAFT_BIGCRAWL_BUDGET" else bench.main
    with pytest.raises(ValueError, match=name):
        run()


class _FakeContext:
    """Stands in for a SparkContext whose executors register one per poll
    until ``total``; the executor memory status also lists the driver."""

    def __init__(self, total: int):
        self.total, self.registered, self.polls = total, 0, 0
        self._jsc = self

    def sc(self):
        return self

    def getExecutorMemoryStatus(self):
        return self

    def size(self) -> int:
        self.polls += 1
        self.registered = min(self.total, self.registered + 1)
        return self.registered + 1


def test_await_executors_blocks_until_all_registered():
    sc = _FakeContext(total=3)
    bench._await_executors(sc, 3)
    assert sc.registered == 3 and sc.polls == 3


def test_await_executors_raises_when_executors_never_register():
    with pytest.raises(RuntimeError, match="1 of 4 executors registered"):
        bench._await_executors(_FakeContext(total=1), 4, timeout=0.3)


@pytest.mark.parametrize(
    "master, shape",
    [
        ("local-cluster[4,1,4096]", (4, 1, 4096)),
        ("local-cluster[ 2 , 3 , 1024 ]", (2, 3, 1024)),
        ("local-cluster[2,1,4g]", None),
        ("local[4]", None),
        ("local[*]", None),
        ("spark://host:7077", None),
    ],
)
def test_local_cluster_shape_parses_executors_and_cores(master, shape):
    """make_spark pins spark.default.parallelism to executors × cores of a
    local-cluster master (the standalone backend otherwise floors it at 2),
    gives each executor the master's MiB as spark.executor.memory and
    awaits that many executors; other masters are left as they are."""
    assert bench._local_cluster_shape(master) == shape
