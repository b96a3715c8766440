"""SURVEY.md §5 layers 4-5: resume-exactness after a mid-crawl kill, and
hot-domain skew + deletable-ban configs judged against the oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import oracle_crawler
from test_engine_smoke import assert_round_counters_match_tables
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine
from crawlspark.sources import synthweb
from crawlspark.storage import CrawlStorage


def _engine_state(storage):
    seen = {
        r["url_canon"] for r in storage.read_table("seen").select("url_canon").collect()
    }
    docs = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    return seen, [(r["round"], r["doc_id"]) for r in docs]


def _assert_matches_oracle(storage, summary, cfg, seeds):
    res = oracle_crawler.crawl(cfg, seeds)
    seen, order = _engine_state(storage)
    assert seen == res.seen
    assert order == res.crawl_order
    assert summary["rounds"] == res.rounds


RESUME_CFG = CrawlConfig(max_depth=2, max_rounds=12, web_hosts=5, shuffle_partitions=4)


@pytest.fixture(scope="module")
def full_run(spark, tmp_path_factory):
    """One uninterrupted reference crawl shared by every resume test (each
    resume variant re-runs only its own interrupted half)."""
    cfg = RESUME_CFG
    seeds = synthweb.seed_list(cfg, n=15)
    store = CrawlStorage(spark, tmp_path_factory.mktemp("full-run"))
    summary = CrawlEngine(spark, cfg, store).run(seeds)
    return store, summary, cfg, seeds


def test_resume_exactness(spark, tmp_path, full_run):
    """Kill after round 2, resume with a fresh engine from the manifest —
    final tables must equal an uninterrupted run bit-for-bit
    (BASELINE.json:6,14 'resumes exactly')."""
    full_store, full_sum, cfg, seeds = full_run

    part_store = CrawlStorage(spark, tmp_path / "part")
    eng = CrawlEngine(spark, cfg, part_store)
    eng.bootstrap(seeds)
    eng.run_round(1)
    eng.run_round(2)
    # "crash": new engine + storage objects; state only from disk
    resumed_sum = CrawlEngine(
        spark, cfg, CrawlStorage(spark, tmp_path / "part")
    ).run()

    assert _engine_state(full_store) == _engine_state(
        CrawlStorage(spark, tmp_path / "part")
    )
    assert resumed_sum["rounds"] == full_sum["rounds"]
    assert resumed_sum["totals"] == full_sum["totals"]
    # resumed run skipped the already-committed rounds
    assert resumed_sum["rounds_run_this_session"] == full_sum["rounds"] - 2
    _assert_matches_oracle(full_store, full_sum, cfg, seeds)


def test_resume_overwrites_orphan_round_dirs(spark, tmp_path, full_run):
    """Crash INSIDE a round (after some sinks wrote, before the manifest
    commit): the next run must overwrite every orphan round dir — and ignore
    a garbage ``_filters/`` Bloom sidecar left by an older crawl — and still
    produce the uninterrupted run's exact state. Visibility is
    manifest-gated, so orphans are invisible until their round re-commits."""
    import pathlib

    full_store, full_sum, cfg, seeds = full_run

    part_store = CrawlStorage(spark, tmp_path / "part")
    eng = CrawlEngine(spark, cfg, part_store)
    eng.bootstrap(seeds)
    eng.run_round(1)
    # fake a mid-round-2 crash: garbage partial sinks for round 2, no manifest
    for table in ("frontier", "seen", "documents"):
        d = pathlib.Path(tmp_path / "part" / table / "round=00002")
        d.mkdir(parents=True, exist_ok=True)
        (d / "part-garbage.parquet").write_bytes(b"NOT A PARQUET FILE")
    # stale sidecar from an older crawl version, which no read path uses
    orphan_blob = tmp_path / "part" / "_filters" / "bloom" / "round=00002"
    orphan_blob.mkdir(parents=True, exist_ok=True)
    (orphan_blob / "part-garbage.parquet").write_bytes(b"NOT A PARQUET FILE")

    resumed_sum = CrawlEngine(
        spark, cfg, CrawlStorage(spark, tmp_path / "part")
    ).run()
    assert _engine_state(full_store) == _engine_state(
        CrawlStorage(spark, tmp_path / "part")
    )
    assert resumed_sum["totals"] == full_sum["totals"]
    assert resumed_sum["rounds"] == full_sum["rounds"]


class _Crash(Exception):
    pass


class _CrashingStorage(CrawlStorage):
    """Raises during round 2 at one point of the round tail: right after
    the ``edges`` or ``seen`` sink returns, or in the manifest commit."""

    def __init__(self, spark, root, point):
        super().__init__(spark, root)
        self.point = point

    def write_round(self, table, df, rnd):
        super().write_round(table, df, rnd)
        if rnd == 2 and table == self.point:
            raise _Crash(table)

    def commit_manifest(self, rnd, payload):
        if rnd == 2 and self.point == "manifest":
            # the tail sinks ran and wrote real rows before the commit
            for table in ("documents", "frontier", "metrics"):
                assert self.read_round(table, 2).count() > 0, table
            raise _Crash("manifest")
        super().commit_manifest(rnd, payload)


@pytest.mark.parametrize("point", ["edges", "seen", "manifest"])
def test_resume_after_crash_in_round_tail(spark, tmp_path, full_run, point):
    """A crash at a point of round 2's tail leaves real (not garbage)
    uncommitted round-2 files: a fresh engine on a plain storage must
    redo round 2 over them and end in the uninterrupted run's exact
    state."""
    full_store, full_sum, cfg, seeds = full_run

    eng = CrawlEngine(spark, cfg, _CrashingStorage(spark, tmp_path, point))
    with pytest.raises(_Crash, match=point):
        eng.run(seeds)
    # the crashed process's cached frames die with it
    spark.catalog.clearCache()
    store = CrawlStorage(spark, tmp_path)
    assert store.latest_manifest()["round"] == 1

    resumed_sum = CrawlEngine(spark, cfg, store).run()
    assert _engine_state(full_store) == _engine_state(CrawlStorage(spark, tmp_path))
    assert resumed_sum["totals"] == full_sum["totals"]
    assert resumed_sum["rounds"] == full_sum["rounds"]
    assert resumed_sum["rounds_run_this_session"] == full_sum["rounds"] - 1


def test_hot_domain_skew_equality(spark, tmp_path):
    """G3 salting is a physical change only: with ~50% of links hitting one
    host, results must still match the oracle exactly."""
    cfg = CrawlConfig(
        max_depth=2,
        max_rounds=12,
        web_hosts=6,
        hot_host="host00.example",
        shuffle_partitions=4,
    )
    seeds = synthweb.seed_list(cfg, n=15)
    store = CrawlStorage(spark, tmp_path / "skew")
    summary = CrawlEngine(spark, cfg, store).run(seeds)
    _assert_matches_oracle(store, summary, cfg, seeds)
    # the skew is real: hot host dominates discovered URLs
    per_host = (
        store.read_table("seen")
        .withColumn("host", F.parse_url("url_canon", F.lit("HOST")))
        .groupBy("host")
        .count()
        .collect()
    )
    counts = {r["host"]: r["count"] for r in per_host}
    assert counts.get("host00.example", 0) >= 0.3 * sum(counts.values())


def test_pagerank_mode_partitioning_invariance(spark, tmp_path, monkeypatch):
    """The "pagerank" priority ranks with exact fixed-point-integer math,
    which the module docstring claims is bit-identical across
    partitionings — pin it IN THE LOOP: the same pagerank-mode crawl one
    partition wide and an awkward prime 13 wide must produce byte-identical
    seen and documents tables (order, clock, spans). The round's width (its
    windows, joins, fetch and sinks) is one wave on the task slots capped
    at shuffle_partitions, so the wide crawl reports 13 task slots. Each
    round's documents and edges dirs hold at most ``width`` files: the
    fetch, which both sinks write as partitioned, runs at the round's
    width too."""
    from pyspark import SparkContext

    def state(width: int, sub: str):
        cfg = CrawlConfig(
            max_depth=2, max_rounds=8, web_hosts=6,
            hot_host="host00.example", priority_mode="pagerank",
            shuffle_partitions=width,
        )
        seeds = synthweb.seed_list(cfg, n=20)
        store = CrawlStorage(spark, tmp_path / sub)
        eng = CrawlEngine(spark, cfg, store)
        widths = []
        run_round = eng.run_round

        def recording_round(rnd):
            m = run_round(rnd)
            widths.append(int(spark.conf.get("spark.sql.shuffle.partitions")))
            return m

        eng.run_round = recording_round
        summary = eng.run(seeds)
        for table in ("documents", "edges"):
            for rnd in range(1, summary["rounds"] + 1):
                rnd_dir = store.root / table / f"round={rnd:05d}"
                n_files = len(list(rnd_dir.glob("*.parquet")))
                assert 0 < n_files <= width, (table, rnd, n_files)
        seen = sorted(
            (r["url_hash"], r["url_canon"], r["round"])
            for r in store.read_table("seen").collect()
        )
        docs = sorted(
            (r["round"], r["fetch_time"], r["host"], r["host_rank"],
             r["doc_id"], str(r["spans"]))
            for r in store.read_table("documents").collect()
        )
        return widths, (summary["totals"], summary["rounds"], seen, docs)

    narrow_widths, narrow = state(1, "w1")
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: 13))
    wide_widths, wide = state(13, "w13")
    assert narrow_widths and narrow_widths == [1] * len(narrow_widths)
    assert wide_widths == [13] * len(narrow_widths), wide_widths
    assert narrow == wide


def test_deletable_ban_equality(spark, tmp_path):
    """A4 cuckoo path: host banned until unban_round, then crawled; engine
    must match the oracle on ordering, seen set and rounds. The ban filter
    is rebuilt from the config by every engine, so a crawl resumed by a
    fresh engine must hold the uninterrupted engine's filter state (table
    and item count) at the same round, before and after the unban, and
    still match the oracle."""
    cfg = CrawlConfig(
        max_depth=1,
        max_rounds=10,
        web_hosts=42,  # smallest fixture with a banned host (host41.example)
        unban_round=3,
        shuffle_partitions=4,
    )
    seeds = synthweb.seed_list(cfg, n=42)
    store = CrawlStorage(spark, tmp_path / "ban")
    full = CrawlEngine(spark, cfg, store)
    cuckoo_at = {}
    run_round = full.run_round

    def snapshot(cuckoo):
        return cuckoo.table.tobytes(), cuckoo.n_items

    def recording_round(rnd):
        m = run_round(rnd)
        cuckoo_at[rnd] = snapshot(full.cuckoo)
        return m

    full.run_round = recording_round
    summary = full.run(seeds)
    _assert_matches_oracle(store, summary, cfg, seeds)
    # before the unban, host41's bucket holds only banned rows: counted in
    # the manifest, and no row of the metrics table
    assert_round_counters_match_tables(store, summary)
    assert summary["rounds"] >= cfg.unban_round
    assert cuckoo_at[1] != cuckoo_at[cfg.unban_round]  # the unban deleted

    # resume after round 1, so the fresh engine runs a banned round (2)
    # itself: a resume that forgot the ban would crawl host41 there
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path / "part"))
    eng.bootstrap(seeds)
    eng.run_round(1)
    resumed = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path / "part"))
    assert snapshot(resumed.cuckoo) == cuckoo_at[1]
    resumed_sum = resumed.run()
    assert snapshot(resumed.cuckoo) == cuckoo_at[resumed_sum["rounds"]]
    _assert_matches_oracle(
        CrawlStorage(spark, tmp_path / "part"), resumed_sum, cfg, seeds
    )


def test_salting_balances_hot_host_partitions(spark):
    """G3 physical check (SURVEY.md §5 layer 5): with one host holding 50%
    of URLs, a plain host partition has a 0.5-fraction straggler; the
    engine's fetch repartition on ``FETCH_KEY`` (host_hash, url_hash) must
    spread the hot host's rows so the max/mean partition ratio stays
    bounded."""
    from pyspark.sql import functions as F

    from crawlspark.engine import FETCH_KEY
    from crawlspark.functions.canon import with_url_identity

    n = 20_000
    df = with_url_identity(
        spark.range(n).selectExpr(
            "format_string('http://%s/p%d', IF(id % 2 = 0, 'hot.example', "
            "format_string('host%03d.example', id % 100)), id) AS url_canon"
        )
    )
    parts = 16
    salted = df.repartition(parts, *FETCH_KEY)
    sizes = [
        r["count"]
        for r in salted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    ]
    assert len(sizes) == parts
    ratio = max(sizes) / (n / parts)
    assert ratio < 1.6, f"salted partitions still skewed: {sizes}"
    # and the unsalted layout really is pathological (sanity of the fixture)
    unsalted = df.repartition(parts, "host_hash")
    u_sizes = [
        r["count"]
        for r in unsalted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    ]
    assert max(u_sizes) / (n / parts) > 4.0
