"""Table maintenance (SURVEY.md §2.1 storage facade): seen-table compaction
(`rewrite_data_files` analog) and frontier-snapshot expiry
(`expire_snapshots` analog). The invariants pinned here:

- maintenance changes LAYOUT only — a crawl with compaction + expiry on
  produces the bit-identical seen set, crawl order and manifests as a plain
  run, and still matches the sequential oracle;
- `read_table` is row-identical before/after compaction, for every
  `upto_round` cut, including cuts below the compaction pointer;
- every compaction step is crash-safe: a compacted dir without a pointer is
  invisible, covered round dirs left behind by a crashed GC are never
  double-read;
- resume after a crash that follows a compaction is still exact;
- the file count the hot A2 anti-join must list drops from
  O(rounds × files) to O(1 compacted set + rounds-since-compaction).
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

import oracle_crawler
from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine
from crawlspark.sources import synthweb
from crawlspark.storage import CrawlStorage

MAINT_CFG = CrawlConfig(
    max_depth=2,
    max_rounds=12,
    web_hosts=5,
    shuffle_partitions=4,
    compact_seen_every=2,
    expire_frontier=True,
)


def _state(storage):
    seen = sorted(
        (r["url_hash"], r["url_canon"], r["host_hash"], r["first_round"], r["round"])
        for r in storage.read_table("seen").collect()
    )
    docs = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    return seen, [(r["round"], r["doc_id"]) for r in docs]


@pytest.fixture(scope="module")
def plain_run(spark, tmp_path_factory):
    cfg = CrawlConfig(
        max_depth=2, max_rounds=12, web_hosts=5, shuffle_partitions=4
    )
    seeds = synthweb.seed_list(cfg, n=15)
    store = CrawlStorage(spark, tmp_path_factory.mktemp("plain"))
    summary = CrawlEngine(spark, cfg, store).run(seeds)
    return store, summary, cfg, seeds


def test_maintenance_crawl_is_bit_identical(spark, tmp_path, plain_run):
    """Compaction every 2 rounds + frontier expiry on: final state equals
    the plain run row-for-row and matches the sequential oracle."""
    plain_store, plain_sum, plain_cfg, seeds = plain_run
    store = CrawlStorage(spark, tmp_path / "maint")
    summary = CrawlEngine(spark, MAINT_CFG, store).run(seeds)

    assert _state(store) == _state(plain_store)
    assert summary["rounds"] == plain_sum["rounds"]
    assert summary["totals"] == plain_sum["totals"]
    res = oracle_crawler.crawl(MAINT_CFG, seeds)
    seen_canon = {r[1] for r in _state(store)[0]}
    assert seen_canon == res.seen

    # the maintenance really ran: pointer exists at the last even round,
    # covered seen round dirs are gone, only the latest frontier snapshot
    # (plus the current round's) remains
    ptr = store.compact_pointer("seen")
    last = summary["rounds"]
    assert ptr is not None and ptr["upto"] == (last // 2) * 2
    for d in (pathlib.Path(store.root) / "seen").glob("round=*"):
        assert int(d.name.split("=")[1]) > ptr["upto"]
    frontier_rounds = sorted(
        int(d.name.split("=")[1])
        for d in (pathlib.Path(store.root) / "frontier").glob("round=*")
    )
    assert frontier_rounds == [last]


def test_read_table_equality_across_compaction(spark, tmp_path, seen_rows):
    """Storage-level: compaction preserves read_table contents for every
    upto_round cut — including cuts BELOW the pointer, which must filter on
    the preserved `round` data column."""
    store = CrawlStorage(spark, tmp_path)
    for rnd in range(4):
        store.write_round("seen", seen_rows(rnd * 10, rnd * 10 + 10, rnd), rnd)

    def snap(upto=None):
        return sorted(
            (r["url_hash"], r["host_hash"], r["url_canon"], r["round"])
            for r in store.read_table("seen", upto_round=upto).collect()
        )

    before = {k: snap(k) for k in (None, 0, 1, 2, 3)}
    schema_before = store.read_table("seen").schema

    info = store.compact_table("seen", upto_round=2)
    assert info["removed_rounds"] == [0, 1, 2]
    after = {k: snap(k) for k in (None, 0, 1, 2, 3)}
    assert after == before
    assert store.read_table("seen").schema == schema_before
    # rounds above the pointer keep their per-round snapshot reads
    assert store.read_round("seen", 3).count() == 10

    # re-compaction folds the previous compacted set with the newer round
    info2 = store.compact_table("seen", upto_round=3)
    assert info2["removed_rounds"] == [3]
    assert snap(None) == before[None]
    assert not list((pathlib.Path(store.root) / "seen").glob("round=*"))


def test_compaction_crash_safety(spark, tmp_path, seen_rows):
    """(a) A compacted dir with no pointer (crash between write and pointer
    swap) is invisible. (b) A covered round dir left behind by a crashed GC
    is never double-read."""
    store = CrawlStorage(spark, tmp_path)
    for rnd in range(3):
        store.write_round("seen", seen_rows(rnd * 5, rnd * 5 + 5, rnd), rnd)
    before = sorted(
        (r["url_hash"], r["round"]) for r in store.read_table("seen").collect()
    )

    # (a) rogue compacted dir, no pointer — reads unchanged
    rogue = store._compact_dir("seen", 1)
    seen_rows(0, 999).withColumn("round", F.lit(0)).write.parquet(str(rogue))
    assert store.compact_pointer("seen") is None
    assert (
        sorted((r["url_hash"], r["round"]) for r in store.read_table("seen").collect())
        == before
    )
    import shutil

    shutil.rmtree(rogue)

    # (b) compact, then resurrect a covered round dir (= crash mid-GC):
    # read_table must ignore it (no duplicate rows)
    store.compact_table("seen", upto_round=2)
    store.write_round("seen", seen_rows(0, 5), 0)  # covered leftover reappears
    assert (
        sorted((r["url_hash"], r["round"]) for r in store.read_table("seen").collect())
        == before
    )


def test_pagerank_mode_maintenance_is_bit_identical(spark, tmp_path):
    """priority_mode="pagerank" re-reads the edges table each basis round,
    so the maintenance schedule also compacts edges in that mode — and the
    ranking must be unaffected: a pagerank crawl with compaction + expiry
    on equals the plain pagerank run row-for-row (the basis read is a
    round<=k cut, which compaction preserves), and the edges table really
    was compacted."""
    cfg_plain = CrawlConfig(
        max_depth=2, max_rounds=8, web_hosts=6, shuffle_partitions=4,
        hot_host="host00.example", priority_mode="pagerank",
    )
    cfg_maint = CrawlConfig(
        max_depth=2, max_rounds=8, web_hosts=6, shuffle_partitions=4,
        hot_host="host00.example", priority_mode="pagerank",
        compact_seen_every=2, expire_frontier=True,
    )
    seeds = synthweb.seed_list(cfg_plain, n=20)
    plain = CrawlStorage(spark, tmp_path / "plain")
    maint = CrawlStorage(spark, tmp_path / "maint")
    s1 = CrawlEngine(spark, cfg_plain, plain).run(seeds)
    s2 = CrawlEngine(spark, cfg_maint, maint).run(seeds)
    assert s1["totals"] == s2["totals"] and s1["rounds"] == s2["rounds"]
    assert _state(plain) == _state(maint)
    ptr = maint.compact_pointer("edges")
    assert ptr is not None and ptr["upto"] >= 2
    edges_plain = sorted(
        (r["src_hash"], r["dst_hash"], r["round"])
        for r in plain.read_table("edges").collect()
    )
    edges_maint = sorted(
        (r["src_hash"], r["dst_hash"], r["round"])
        for r in maint.read_table("edges").collect()
    )
    assert edges_plain == edges_maint


def test_compaction_rerun_is_noop(spark, tmp_path, seen_rows):
    """A re-run with an already-covered upto_round (crash recovery, manual
    retry) is an idempotent no-op. Without the pointer guard the overwrite
    would clear the live _compact dir before the lazy read of it executes —
    with the covered round dirs already GC'd, every row <= upto would be
    permanently lost."""
    store = CrawlStorage(spark, tmp_path)
    for rnd in range(3):
        store.write_round("seen", seen_rows(rnd * 5, rnd * 5 + 5, rnd), rnd)
    store.compact_table("seen", upto_round=2)
    before = sorted(
        (r["url_hash"], r["round"]) for r in store.read_table("seen").collect()
    )
    assert len(before) == 15

    # same upto: no-op, nothing lost
    info = store.compact_table("seen", upto_round=2)
    assert info.get("noop") is True and info["upto"] == 2
    # upto BELOW the pointer: also a no-op (covered dirs no longer exist)
    info = store.compact_table("seen", upto_round=1)
    assert info.get("noop") is True and info["upto"] == 2
    after = sorted(
        (r["url_hash"], r["round"]) for r in store.read_table("seen").collect()
    )
    assert after == before


def test_compaction_shrinks_file_listing(spark, tmp_path, seen_rows):
    """The point of the exercise: the file set the per-round seen anti-join
    lists drops from O(rounds × files-per-round) to the compacted set."""
    store = CrawlStorage(spark, tmp_path)
    rounds = 8
    for rnd in range(rounds):
        store.write_round("seen", seen_rows(rnd * 10, rnd * 10 + 10, rnd), rnd)

    def parquet_files():
        root = pathlib.Path(store.root)
        return [
            p
            for base in (root / "seen", root / "_compact" / "seen")
            if base.exists()
            for p in base.rglob("*.parquet")
            if not p.name.startswith(("_", "."))
        ]

    before = len(parquet_files())
    # each round dir holds one file per non-empty partition of its
    # spark.range frame, while host_hash 0-3 hash into at most 4 of the
    # compacted set's 32 files: the growth is per-round
    assert before >= rounds * 2
    store.compact_table("seen", upto_round=rounds - 1)
    after = len(parquet_files())
    assert after <= 4


def test_resume_after_compaction_is_exact(spark, tmp_path, plain_run):
    """Crash AFTER a round whose commit triggered compaction + expiry; a
    fresh engine resumes from the manifest and the final state equals the
    plain uninterrupted run."""
    plain_store, plain_sum, _, seeds = plain_run

    part = CrawlStorage(spark, tmp_path / "part")
    eng = CrawlEngine(spark, MAINT_CFG, part)
    eng.bootstrap(seeds)
    eng.run_round(1)
    eng.run_round(2)  # compaction at round 2 + frontier expiry ran here
    assert CrawlStorage(spark, tmp_path / "part").compact_pointer("seen") is not None

    resumed = CrawlEngine(
        spark, MAINT_CFG, CrawlStorage(spark, tmp_path / "part")
    ).run()
    assert _state(CrawlStorage(spark, tmp_path / "part")) == _state(plain_store)
    assert resumed["totals"] == plain_sum["totals"]
    assert resumed["rounds"] == plain_sum["rounds"]


def test_iceberg_compaction_dispatch_seam(spark, tmp_path):
    """catalog=... routes compact_table to the Iceberg rewrite_data_files
    procedure (no runtime jar here, so the CALL must fail on catalog
    resolution — proving the branch — and must not touch the parquet
    layout)."""
    store = CrawlStorage(spark, tmp_path, catalog="no_such_cat.db")
    with pytest.raises(Exception) as ei:
        store.compact_table("seen", upto_round=1)
    msg = str(ei.value)
    # Spark 4 parses CALL natively; without the Iceberg runtime the
    # procedure resolution fails on the catalog's missing capability
    assert "no_such_cat" in msg or "CALL" in msg or "PROCEDURES" in msg
    assert store.compact_pointer("seen") is None
    assert not (pathlib.Path(store.root) / "_compact" / "seen").exists()
