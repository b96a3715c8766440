"""End-to-end engine smoke: small synthetic web, full crawl to exhaustion,
structural invariants (SURVEY.md §7 step 3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.config import CrawlConfig
from crawlspark.engine import CrawlEngine, _next_frontier_size
from crawlspark.sources import synthweb
from crawlspark.storage import CrawlStorage


@pytest.fixture(scope="module")
def crawl(crawl_run):
    cfg, storage, engine, summary, _seeds = crawl_run
    return cfg, storage, engine, summary


def test_crawl_exhausts(crawl):
    _, _, _, summary = crawl
    assert summary["exhausted"]
    assert summary["rounds"] >= 2
    assert summary["totals"]["fetched"] > 0


def test_documents_schema_and_spans(crawl, spark):
    _, storage, _, _ = crawl
    docs = storage.read_table("documents")
    assert docs.count() > 0
    # contract schema (BASELINE.json:15): spans array<struct<kind,text,media_ref,offset>>
    span_type = docs.schema["spans"].dataType.elementType
    assert [f.name for f in span_type.fields] == ["kind", "text", "media_ref", "offset"]
    # offsets are 0..n-1 in order for every 200 doc
    bad = docs.filter(F.col("status") == 200).filter(
        ~F.expr(
            "forall(transform(spans, (s,i) -> s.offset = i), x -> x)"
        )
    )
    assert bad.count() == 0
    # every 200 document has >=1 text and >=1 media span
    no_media = docs.filter(F.col("status") == 200).filter(
        F.expr("size(filter(spans, s -> s.kind = 'media')) = 0")
    )
    assert no_media.count() == 0


def test_seen_set_unique_and_consistent(crawl):
    _, storage, _, _ = crawl
    seen = storage.read_table("seen")
    assert seen.count() == seen.select("url_hash").distinct().count()
    # every fetched doc is in seen
    docs = storage.read_table("documents")
    missing = docs.join(seen, "url_hash", "left_anti")
    assert missing.count() == 0


def test_no_url_fetched_twice(crawl):
    _, storage, _, _ = crawl
    docs = storage.read_table("documents")
    assert docs.count() == docs.select("url_hash").distinct().count()


def test_politeness_budget_respected(crawl, spark):
    cfg, storage, _, _ = crawl
    docs = storage.read_table("documents")
    robots = {r["host"]: r for r in synthweb.robots_table(cfg)}
    per = docs.groupBy("round", "host").count().collect()
    for row in per:
        delay = robots.get(row["host"], {"crawl_delay": 1.0})["crawl_delay"]
        budget = max(1, int(cfg.round_seconds // delay))
        assert row["count"] <= budget, (row, budget)


def test_banned_hosts_never_fetched(crawl):
    cfg, storage, _, _ = crawl
    banned = [r["host"] for r in synthweb.robots_table(cfg) if r["banned"]]
    docs = storage.read_table("documents")
    if banned:
        assert docs.filter(F.col("host").isin(banned)).count() == 0


def assert_round_counters_match_tables(storage, summary) -> None:
    """Every committed round: the frontier snapshot is unique per url_hash
    and as large as the manifest says; in every fetch round the four
    admission fates (banned, robots, defer, fetch) partition the frontier;
    the metrics (S7) table's per-round column sums are the manifest's
    counters, and it has no all-zero row."""
    rounds = range(summary["rounds"] + 1)
    manifests = {r: storage.manifest(r) for r in rounds}
    frontier = {
        r["round"]: (r["n"], r["distinct"])
        for r in storage.read_table("frontier")
        .groupBy("round")
        .agg(F.count("*").alias("n"), F.countDistinct("url_hash").alias("distinct"))
        .collect()
    }
    for rnd in rounds:
        n, distinct = frontier.get(rnd, (0, 0))
        assert n == distinct == _next_frontier_size(manifests[rnd]), rnd

    cols = ["fetched", "skipped_robots", "skipped_politeness", "new_urls"]
    metrics = storage.read_table("metrics")
    assert metrics.filter(" AND ".join(f"{c} = 0" for c in cols)).count() == 0
    sums = {
        r["round"]: {c: r[c] for c in cols}
        for r in metrics.groupBy("round")
        .agg(*[F.sum(c).alias(c) for c in cols])
        .collect()
    }
    fates = ["skipped_banned", "skipped_robots", "skipped_politeness", "fetched"]
    for rnd in rounds[1:]:
        m = manifests[rnd]
        assert m["frontier_size"] == sum(m[c] for c in fates), rnd
        want = {c: m[c] for c in cols}
        assert sums.get(rnd, dict.fromkeys(cols, 0)) == want, rnd


def test_metrics_totals_match_tables(crawl):
    _, storage, _, summary = crawl
    docs_n = storage.read_table("documents").count()
    assert summary["totals"]["fetched"] == docs_n
    assert_round_counters_match_tables(storage, summary)


def test_metrics_round_is_one_file(crawl):
    """The metrics sink asks for one file per round and gets exactly one."""
    _, storage, _, summary = crawl
    for rnd in range(1, summary["rounds"] + 1):
        parts = list((storage.root / "metrics" / f"round={rnd:05d}").glob("part-*"))
        assert len(parts) == 1, (rnd, parts)


def _executed_write_plan(spark, path) -> str:
    """The physical plan Spark executed for the write into ``path``, from
    the session's SQL status store (kept with the UI off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [runs.apply(i).physicalPlanDescription() for i in range(runs.size())]
    return next(p for p in reversed(plans) if f"file:{path}," in p)


def test_round_file_layout_per_table(crawl, spark, tmp_path):
    """Storage writes frontier, seen, documents and edges as their frames
    are partitioned (metrics' one file per round is
    test_metrics_round_is_one_file): plain round dirs carry no bucket spec,
    so a write-side shuffle would cluster files no reader's plan can use.
    Rewriting a crawl round, the executed write plan holds no exchange and
    no coalesce, and the round dir holds no more files than the frame has
    partitions."""
    _, storage, _, _ = crawl
    rewrite = CrawlStorage(spark, tmp_path)
    for table in ("frontier", "seen", "documents", "edges"):
        frame = storage.read_round(table, 1)
        parts = frame._jdf.rdd().getNumPartitions()
        rewrite.write_round(table, frame, 1)
        out = rewrite.root / table / "round=00001"
        plan = _executed_write_plan(spark, out)
        assert "InsertIntoHadoopFsRelationCommand" in plan, plan
        assert "Exchange" not in plan and "Coalesce" not in plan, plan
        assert 0 < len(list(out.glob("*.parquet"))) <= parts, (table, parts)


def test_empty_and_invalid_seed_lists(spark, tmp_path):
    """Degenerate inputs: no seeds / only invalid (non-http, malformed)
    seeds must bootstrap an empty frontier and exhaust immediately."""
    cfg = CrawlConfig(web_hosts=4, shuffle_partitions=4, max_rounds=3)
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path / "a"))
    summary = eng.run(["ftp://x.example/a", "not a url", "mailto:a@b", ""])
    assert summary["exhausted"] and summary["totals"].get("fetched", 0) == 0


def test_fetch_cpu_work_does_not_change_results(spark, tmp_path):
    """CrawlConfig.fetch_cpu_work is a pure CPU burn inside the fetch stage
    (the parallel-fraction knob of jobs/executor_scaling.py --work): every
    table a crawl produces must be byte-identical with it on or off."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    def state(work: int, sub: str):
        cfg = CrawlConfig(max_depth=2, max_rounds=6, web_hosts=5,
                          shuffle_partitions=4, fetch_cpu_work=work)
        store = CrawlStorage(spark, tmp_path / sub)
        summary = CrawlEngine(spark, cfg, store).run(
            synthweb.seed_list(cfg, n=15)
        )
        seen = sorted(
            (r["url_hash"], r["url_canon"], r["round"])
            for r in store.read_table("seen").collect()
        )
        docs = sorted(
            (r["round"], r["fetch_time"], r["host"], r["host_rank"],
             str(r["spans"]))
            for r in store.read_table("documents").collect()
        )
        return summary["totals"], summary["rounds"], seen, docs

    assert state(0, "off") == state(50, "on")
