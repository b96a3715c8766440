"""SURVEY.md §5 layer 3: engine vs sequential oracle under identical seed
list + politeness budget — the three judged invariants of BASELINE.json:14/15:
URL-seen-set equality, crawl-ordering equality, span-sequence equality.
Plus per-round metric equality (fetch/dedup/skip counters, BASELINE.json:6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import oracle_crawler


@pytest.fixture(scope="module")
def oracle(crawl_run):
    cfg, _storage, _engine, _summary, seeds = crawl_run
    return oracle_crawler.crawl(cfg, seeds)


def test_url_seen_set_equality(crawl_run, oracle):
    _, storage, _, _, _ = crawl_run
    engine_seen = {
        r["url_canon"] for r in storage.read_table("seen").select("url_canon").collect()
    }
    assert engine_seen == oracle.seen


def test_rounds_to_exhaustion_equal(crawl_run, oracle):
    _, _, _, summary, _ = crawl_run
    assert summary["rounds"] == oracle.rounds
    assert summary["exhausted"]


def test_crawl_ordering_equality(crawl_run, oracle):
    """Total crawl order (round, fetch_time, host, host_rank) must match the
    sequential oracle exactly, URL for URL."""
    _, storage, _, _, _ = crawl_run
    rows = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    engine_order = [(r["round"], r["doc_id"]) for r in rows]
    assert engine_order == oracle.crawl_order
    # and the virtual clock itself matches
    engine_clock = [(r["round"], r["fetch_time"], r["host_rank"]) for r in rows]
    oracle_clock = [(d.round, d.fetch_time, d.host_rank) for d in oracle.docs]
    assert engine_clock == oracle_clock


def test_span_sequence_equality(crawl_run, oracle):
    """Per-row invariant (BASELINE.json:15): span sequence (kind, text,
    media_ref, order) equal per document."""
    _, storage, _, _, _ = crawl_run
    rows = storage.read_table("documents").select("doc_id", "spans").collect()
    engine_spans = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }
    oracle_spans = {
        d.url_canon: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d.spans
        ]
        for d in oracle.docs
    }
    assert engine_spans == oracle_spans


def test_per_round_metrics_equality(crawl_run, oracle):
    _, storage, _, summary, _ = crawl_run
    keys = (
        "frontier_size fetched ok_200 skipped_robots skipped_politeness "
        "skipped_banned candidates deduped new_urls"
    ).split()
    for om in oracle.per_round:
        em = storage.manifest(om["round"])
        assert em is not None, f"no manifest for round {om['round']}"
        got = {k: em[k] for k in keys}
        want = {k: om[k] for k in keys}
        assert got == want, f"round {om['round']}: {got} != {want}"


# RFC 9309 wildcard rules the synthetic web never emits: a `$` anchor, a
# `*` before a regex metacharacter (`?`), and a longer Allow (`*$`) that
# overrides the first Disallow for paths like /x/p17.
_WILDCARD_DISALLOW = [
    {"allow": False, "prefix": "/*7$"},
    {"allow": False, "prefix": "/*?a="},
]
_WILDCARD_RULES = _WILDCARD_DISALLOW + [{"allow": True, "prefix": "/*/p1*$"}]


def test_wildcard_robots_match_oracle(spark, tmp_path, monkeypatch):
    """R2 regex branch end to end: with `*`/`$` rules on every other host,
    the engine's JVM matcher must reproduce the oracle's crawl, and some
    URL must be skipped only because of a wildcard rule, and some must be
    fetched only because a longer wildcard Allow overrides one."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.functions.canon import host_of
    from crawlspark.functions.robots import allowed, path_of
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    literal_table = synthweb.robots_table

    def wildcard_table(cfg):
        rows = literal_table(cfg)
        for r in rows[::2]:
            r["rules"] = _WILDCARD_RULES + r["rules"]
        return rows

    monkeypatch.setattr(synthweb, "robots_table", wildcard_table)
    monkeypatch.setattr(oracle_crawler, "robots_table", wildcard_table)

    cfg = CrawlConfig(max_depth=1, max_rounds=12, web_hosts=12, shuffle_partitions=4)
    storage = CrawlStorage(spark, tmp_path / "wild")
    seeds = synthweb.seed_list(cfg, n=60)
    summary = CrawlEngine(spark, cfg, storage).run(seeds)
    want = oracle_crawler.crawl(cfg, seeds)

    seen = {
        r["url_canon"] for r in storage.read_table("seen").select("url_canon").collect()
    }
    assert seen == want.seen
    assert summary["rounds"] == want.rounds
    rows = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    assert [(r["round"], r["doc_id"]) for r in rows] == want.crawl_order
    skipped = 0
    for om in want.per_round:
        em = storage.manifest(om["round"])
        assert em["skipped_robots"] == om["skipped_robots"], om["round"]
        skipped += em["skipped_robots"]
    assert skipped > 0

    # an unfetched seen URL was skipped by robots; find one that only a
    # wildcard rule disallows
    wild = {r["host"]: r["rules"] for r in wildcard_table(cfg)}
    literal = {r["host"]: r["rules"] for r in literal_table(cfg)}
    fetched = {r["doc_id"] for r in rows}
    by_wildcard = [
        u
        for u in seen - fetched
        if not allowed(path_of(u), wild[host_of(u)])
        and allowed(path_of(u), literal[host_of(u)])
    ]
    assert by_wildcard, sorted(seen - fetched)
    by_override = [
        u
        for u in fetched
        if not allowed(path_of(u), _WILDCARD_DISALLOW)
        and wild[host_of(u)] != literal[host_of(u)]
    ]
    assert by_override


def test_indegree_priority_mode_matches_oracle(spark, tmp_path):
    """P1 is a pluggable policy: under priority_mode="indegree" (in-round
    link-count boost within a depth level — the cheap rendering of
    authority-ordered crawling, Cho/Garcia-Molina/Page 1998) the engine must
    still reproduce the sequential oracle's exact total order and seen set,
    and the order must actually differ from strict BFS somewhere."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    # hot_host concentrates ~50% of links on one host → repeated in-round
    # links to the same URL → real in-degree variation, so the boost
    # actually reorders (the plain 6-host web has no count variation and
    # indegree degenerates to BFS).
    cfg = CrawlConfig(
        max_depth=2, max_rounds=12, web_hosts=6, shuffle_partitions=4,
        priority_mode="indegree", hot_host="host00.example",
    )
    storage = CrawlStorage(spark, tmp_path / "indeg")
    seeds = synthweb.seed_list(cfg, n=20)
    summary = CrawlEngine(spark, cfg, storage).run(seeds)
    want = oracle_crawler.crawl(cfg, seeds)

    engine_seen = {
        r["url_canon"]
        for r in storage.read_table("seen").select("url_canon").collect()
    }
    assert engine_seen == want.seen
    assert summary["rounds"] == want.rounds

    rows = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    engine_order = [(r["round"], r["doc_id"]) for r in rows]
    assert engine_order == want.crawl_order
    engine_clock = [(r["round"], r["fetch_time"], r["host_rank"]) for r in rows]
    assert engine_clock == [(d.round, d.fetch_time, d.host_rank) for d in want.docs]

    # the knob is live: same web crawled BFS gives a different total order
    # (seen SET stays equal — priority changes order, never membership)
    bfs = oracle_crawler.crawl(
        CrawlConfig(
            max_depth=2, max_rounds=12, web_hosts=6, hot_host="host00.example"
        ),
        seeds,
    )
    assert bfs.seen == want.seen
    assert bfs.crawl_order != want.crawl_order


def test_pagerank_priority_mode_matches_oracle(spark, tmp_path):
    """P1 "pagerank": the frontier is ranked each round by exact
    fixed-point-integer PageRank over the edge graph accumulated so far —
    the full authority-ordered crawl (Cho/Garcia-Molina/Page 1998) wired
    into the loop. The integer ranks are bit-deterministic, so the engine
    must reproduce the sequential oracle's exact total order and seen set;
    and the order must genuinely differ from BOTH strict BFS and the
    in-round "indegree" mode (else the mode adds nothing)."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    base = dict(
        max_depth=2, max_rounds=8, web_hosts=6, hot_host="host00.example"
    )
    cfg = CrawlConfig(**base, priority_mode="pagerank", shuffle_partitions=4)
    storage = CrawlStorage(spark, tmp_path / "pr")
    seeds = synthweb.seed_list(cfg, n=20)
    summary = CrawlEngine(spark, cfg, storage).run(seeds)
    want = oracle_crawler.crawl(cfg, seeds)

    engine_seen = {
        r["url_canon"]
        for r in storage.read_table("seen").select("url_canon").collect()
    }
    assert engine_seen == want.seen
    assert summary["rounds"] == want.rounds

    rows = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    engine_order = [(r["round"], r["doc_id"]) for r in rows]
    assert engine_order == want.crawl_order

    # the mode is live: pagerank order diverges from BFS and from indegree
    # on the same web (seen SET equal — priority reorders, never drops)
    bfs = oracle_crawler.crawl(CrawlConfig(**base), seeds)
    ind = oracle_crawler.crawl(
        CrawlConfig(**base, priority_mode="indegree"), seeds
    )
    assert want.crawl_order != bfs.crawl_order
    assert want.crawl_order != ind.crawl_order
    assert want.seen == bfs.seen == ind.seen


def test_seed_injection_matches_oracle(spark, tmp_path):
    """Mid-crawl seed injection (engine.inject_seeds): crawl seeds1 to
    exhaustion, inject a second seed list (some new, some already-seen),
    continue — the whole multi-phase history must equal the single oracle
    run with injections={round: seeds2}: seen set, total crawl order,
    rounds. Injection is idempotent: re-injecting the same list adds 0 and
    the re-opened crawl stays exhausted."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=2, max_rounds=20, web_hosts=6, shuffle_partitions=4)
    storage = CrawlStorage(spark, tmp_path / "inj")
    seeds1 = synthweb.seed_list(cfg, n=12)
    engine = CrawlEngine(spark, cfg, storage)
    sum1 = engine.run(seeds1)
    assert sum1["exhausted"]
    k = sum1["rounds"]

    # new URLs on known hosts + two already-seen dupes (must inject 0 rows
    # for those) + one canonicalization trap
    seeds2 = [
        f"http://host0{i % 6}.example/injected{i}/page" for i in range(8)
    ] + [seeds1[0], seeds1[3], "HTTP://HOST02.EXAMPLE:80/injected2/page#f"]
    inj = engine.inject_seeds(seeds2)
    assert inj["round"] == k + 1 and 0 < inj["injected"] <= 8
    sum2 = CrawlEngine(spark, cfg, storage).run()  # fresh engine: resume path
    assert sum2["exhausted"] and sum2["rounds"] > k + 1

    want = oracle_crawler.crawl(cfg, seeds1, injections={k + 1: seeds2})
    engine_seen = {
        r["url_canon"]
        for r in storage.read_table("seen").select("url_canon").collect()
    }
    assert engine_seen == want.seen
    assert sum2["rounds"] == want.rounds
    rows = (
        storage.read_table("documents")
        .select("round", "fetch_time", "host", "host_rank", "doc_id")
        .orderBy("round", "fetch_time", "host", "host_rank")
        .collect()
    )
    assert [(r["round"], r["doc_id"]) for r in rows] == want.crawl_order

    # idempotency: same list again -> nothing new, crawl stays exhausted
    inj2 = engine.inject_seeds(seeds2)
    assert inj2["injected"] == 0
    sum3 = CrawlEngine(spark, cfg, storage).run()
    assert sum3["rounds_run_this_session"] == 0
