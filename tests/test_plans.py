"""Physical-plan assertions (SURVEY.md §4): the plans Catalyst produces must
be the plans we designed for — broadcast for the robots dim, partition
pruning on round-partitioned tables, column pruning into the parquet scan,
and JVM-only (whole-stage codegen) expression pipelines where no UDF is
declared."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_robots_join_is_broadcast(spark, tmp_path):
    """R1: the robots dimension must broadcast, never shuffle the frontier.
    Admission (R1/R2/A4) runs in the JVM even with Arrow off, as in the
    test SparkSession: the dim is a LocalRelation, so its broadcast needs
    no Python worker, and the admission frame plans no Python UDF node."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.storage import CrawlStorage
    from crawlspark.sources import synthweb

    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "false"
    cfg = CrawlConfig(web_hosts=6, shuffle_partitions=4)
    storage = CrawlStorage(spark, tmp_path)
    eng = CrawlEngine(spark, cfg, storage)
    eng.bootstrap(synthweb.seed_list(cfg, n=10))
    dim = eng._robots_df()._jdf.queryExecution().optimizedPlan().toString()
    assert dim.lstrip().startswith("LocalRelation"), dim
    plan = _plan(eng._admission_frame(storage.read_round("frontier", 0), 1))
    assert "BroadcastHashJoin" in plan and "LocalTableScan" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_curation_audit_runs_simhash_once(spark, monkeypatch):
    """curation_audit hands simhash_near_pairs checkpointed signatures:
    the pair join reads them several times, and an unpersisted SimHash
    UDF subtree plans (and runs) once per reference (12 Python eval nodes
    on this fixture without the checkpoint)."""
    import crawlspark.ops.pipeline as pipeline

    pair_frames = []
    real = pipeline.simhash_near_pairs

    def capture(sigs, **kw):
        pair_frames.append(real(sigs, **kw))
        return pair_frames[-1]

    monkeypatch.setattr(pipeline, "simhash_near_pairs", capture)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    pipeline.curation_audit(docs, min_chars=10, min_tokens=2)
    (pairs,) = pair_frames
    plan = _plan(pairs)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_round_partition_pruning(spark, tmp_path, seen_rows):
    """S2: a `round <= k` predicate must prune to the matching partition
    dirs (Iceberg-snapshot-style pruning via the parquet facade)."""
    from crawlspark.storage import CrawlStorage

    storage = CrawlStorage(spark, tmp_path)
    for rnd in range(3):
        storage.write_round("seen", seen_rows(0, 10, rnd), rnd)
    pruned = storage.read_table("seen", upto_round=1)
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "round" in plan
    # only 2 of 3 round dirs survive pruning
    assert pruned.select("round").distinct().count() == 2


def test_compacted_read_keeps_pushdown_and_pruning(spark, tmp_path, seen_rows):
    """After compaction, a `round <= k` cut must still reach the scans: as a
    parquet-pushed data filter on the compacted set (where `round` became a
    data column) and as partition pruning on the still-live round dirs."""
    from crawlspark.storage import CrawlStorage

    storage = CrawlStorage(spark, tmp_path)
    for rnd in range(4):
        storage.write_round("seen", seen_rows(0, 10, rnd), rnd)
    storage.compact_table("seen", upto_round=1)

    cut = storage.read_table("seen", upto_round=2)
    plan = _plan(cut)
    assert "LessThanOrEqual(round,2)" in plan  # pushed into the compacted scan
    assert "PartitionFilters" in plan  # live dirs (rounds 2,3) still prune
    assert cut.count() == 30  # rounds 0,1 (compacted) + round 2 (live)


def test_scan_prunes_columns_and_pushes_filters(spark):
    """A 2-column projection must not read all 7 lineitem columns."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan


def test_quality_score_is_pure_codegen(spark):
    """F-series text ops declare no Python UDF — the whole expression
    pipeline must stay in WholeStageCodegen (no ArrowEvalPython node)."""
    from crawlspark.ops.text import quality_features

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(quality_features(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted explain marks whole-stage-codegen nodes with '*'; the
    # higher-order-function Projects are JVM-interpreted but never Python
    assert "* ColumnarToRow" in plan or "* Project" in plan


def test_ann_brute_force_broadcasts_queries(spark):
    from crawlspark.ops.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(brute_force_topk(emb, queries, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lsh_band_join_is_key_only(spark):
    """The LSH banding join must shuffle only (sig_key, band, band_hash) —
    never the 64-slot minhash array (ops/dedup.py docstring claim). Every
    exchange that feeds the band-bucket join must not carry a minhash
    column; signatures re-attach once per DISTINCT signature pair and doc
    ids once per sig_key, in later joins."""
    from crawlspark.ops.dedup import lsh_candidate_pairs, with_minhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    out = lsh_candidate_pairs(with_minhash(docs))
    plan = _plan(out)
    # formatted explain: each Exchange node section lists Arguments with its
    # partitioning expressions. Find exchanges partitioned on band_hash.
    sections = plan.split("\n\n")
    band_exchanges = [
        s for s in sections
        if s.lstrip().startswith("(")
        and "Exchange" in s.splitlines()[0]
        and "band_hash" in s
    ]
    assert band_exchanges, "expected hash exchanges on band_hash:\n" + plan
    for s in band_exchanges:
        assert "minhash" not in s, (
            "band-bucket shuffle carries the full signature:\n" + s
        )


def _band_exchange_subtree(plan: str) -> list[str]:
    """The operator lines below the (band, band_hash) hash exchange of a
    physical plan tree string, down to the next exchange."""
    lines = plan.splitlines()
    i = next(
        i for i, line in enumerate(lines)
        if "Exchange hashpartitioning(band#" in line and "ReusedExchange" not in line
    )
    depth = lines[i].index("+-")
    sub = []
    for line in lines[i + 1:]:
        if line.find("+-") <= depth:
            break
        sub.append(line)
        if "Exchange" in line:
            break
    return sub


def _near_dup_pairs(spark, op: str):
    """One of the three banded near-duplicate operators on 100 copies of
    one document (or vector) plus 30 distinct ones."""
    import numpy as np

    from crawlspark.ops import dedup, similarity

    if op == "embedding":
        rng = np.random.default_rng(11)
        base = rng.standard_normal(32).astype(float).tolist()
        rows = [(i, base) for i in range(100)]
        rows += [(1000 + i, rng.standard_normal(32).astype(float).tolist())
                 for i in range(30)]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return similarity.embedding_near_dup_pairs(vecs, threshold=0.95)
    rows = [(i, "the same exact duplicated document body " * 4) for i in range(100)]
    rows += [(1000 + i, f"distinct text number {i} with filler words") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    if op == "minhash":
        return dedup.lsh_candidate_pairs(dedup.with_minhash(docs))
    return dedup.simhash_near_pairs(dedup.with_simhash(docs))


@pytest.mark.parametrize(
    "op, sig", [("minhash", "sig_key"), ("simhash", "simhash"), ("embedding", "simhash")]
)
def test_near_dup_band_join_reads_distinct_signatures(spark, op, sig):
    """The (band, band_hash) exchange feeding each near-duplicate
    operator's banded self-join is fed by a distinct on the signature
    (HashAggregate keyed on it over an exchange partitioned on it), so 100
    copies of one document put one row, not 100, into each band bucket."""
    out = _near_dup_pairs(spark, op)
    plan = out._jdf.queryExecution().executedPlan().toString()
    sub = _band_exchange_subtree(plan)
    assert any(f"HashAggregate(keys=[{sig}#" in line for line in sub), (
        "band exchange not fed by a distinct on the signature:\n" + "\n".join(sub)
    )
    assert f"Exchange hashpartitioning({sig}#" in sub[-1], "\n".join(sub)


def test_quota_sample_is_window_group_limit(spark):
    """quota_sample's row_number()<=k filter must collapse to a
    WindowGroupLimit (map-side partial top-k BEFORE the group exchange) so a
    10^10-row corpus ships at most quota rows per group per input partition,
    and the rank expression must stay JVM-side (no Python node)."""
    from crawlspark.ops.pipeline import quota_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(quota_sample(docs, group_col="lang", quota=40))
    assert "WindowGroupLimit" in plan, plan
    # partial limit runs on BOTH sides of the exchange: Partial then Final
    assert "Partial" in plan.split("Exchange")[-1] or plan.count("WindowGroupLimit") >= 2, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_temperature_mix_is_window_group_limit(spark):
    """temperature_mix's varying per-group target cannot itself be a
    WindowGroupLimit, so the op must rank through quota_sample's STATIC
    quota=total bound: the plan's one ranking window collapses to a
    WindowGroupLimit (map-side partial top-total before the exchange) and
    the varying target cut is a plain Filter on the bounded stream — a
    dominant group (60% of a 10^10-row corpus) costs its mappers, never
    one reducer sorting its full mass."""
    from crawlspark.ops.pipeline import temperature_mix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(temperature_mix(docs, group_col="lang", total=200))
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("Exchange")[-1] or plan.count("WindowGroupLimit") >= 2, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_iceberg_dispatch_seam(spark, tmp_path, seen_rows):
    """catalog=None keeps the parquet facade (bit-for-bit existing
    behavior); catalog="..." routes every table write/read through the
    DataSourceV2 path. The real Iceberg runtime is absent in this sandbox,
    so the routed write must fail with a catalog-resolution error — proving
    the branch is taken — and must NOT fall back to writing parquet."""
    import pytest

    from crawlspark.storage import CrawlStorage

    df = seen_rows(0, 4)

    plain = CrawlStorage(spark, tmp_path / "plain")
    plain.write_round("seen", df, 0)
    assert (tmp_path / "plain" / "seen" / "round=00000").exists()

    iceberg = CrawlStorage(spark, tmp_path / "ice", catalog="no_such_cat.db")
    with pytest.raises(Exception) as ei:
        iceberg.write_round("seen", df, 0)
    assert "no_such_cat" in str(ei.value)
    assert not (tmp_path / "ice" / "seen" / "round=00000").exists()

    routed = []
    iceberg._write_round_iceberg = lambda t, d, r: routed.append((t, r))
    iceberg.write_round("seen", df, 1)
    assert routed == [("seen", 1)]
    assert not (tmp_path / "ice" / "seen" / "round=00001").exists()


def test_range_join_is_equi_join(spark):
    """The binned range join must plan as a hash/sort-merge EQUI join on the
    bin — never BroadcastNestedLoopJoin/CartesianProduct — and must produce
    exactly the theta join's result."""
    from crawlspark.ops.temporal import interval_point_join

    pts = spark.range(0, 500).select((F.col("id") * 7.3).alias("p"))
    iv = spark.range(0, 60).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 55.0).alias("lo"),
        (F.col("id") * 55.0 + 120.0).alias("hi"),
    )
    out = interval_point_join(pts, iv, "p", "lo", "hi", bin_width=120.0)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan

    got = {(r["iv_id"], r["p"]) for r in out.collect()}
    want = {
        (r["iv_id"], r["p"])
        for r in iv.crossJoin(pts)
        .filter((F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi")))
        .collect()
    }
    assert got == want and len(got) > 0


def test_round_driver_job_count_is_flat_and_bounded(spark, tmp_path):
    """Per-round driver-job budget: every Spark job carries ~0.5-1 s of fixed
    scheduling latency in local mode, and at 10^10 scale each extra action is
    an extra cluster-wide barrier. The round loop counts everything with ONE
    per-bucket sum (collected, then written as the metrics table from the
    driver), answers "seen?" with one exact anti-join (no prefilter
    stages), overlaps the tail sinks, and reads every table with its
    declared schema (no footer-inference jobs) — 8 jobs/round and 3 for the
    bootstrap measured. This pins
    both budgets (<=9, <=4) and flatness (round k and k+1 identical), so an
    accidental extra .count()/.collect() in the hot loop fails loudly.
    Stages are pinned the same way (12 run per round measured, <=12):
    storage writes each round as its plan partitions it, and a write-side
    re-shuffle (15 run stages per round with frontier, seen and documents
    hash-clustered on host_hash) fails here. Only stages that ran count: a
    job re-creates a skipped stage for each finished shuffle in its lineage
    that no running job holds, so how many the concurrent tail jobs create
    (17 or 20 stage ids) depends on whether they overlap. So are the tasks
    those stages ran (45 per round measured, <=45): every shuffle, the
    frontier sink and the counter union run one wave on the 4 task slots;
    two-wave windows and the unsized unions ran 91-93."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=2, max_rounds=3, web_hosts=6,
                      shuffle_partitions=4)
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path))

    # The DAGScheduler's job-id counter sees jobs from ALL threads (the
    # tail sinks run in a thread pool, so thread-local job groups would
    # undercount) and, unlike statusStore.jobsList (bounded by
    # spark.ui.retainedJobs — EVICTS old jobs late in a long shared-session
    # suite, silently shrinking deltas), it is monotone forever.
    def n_jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def n_stages() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextStageId()

    def ran(first: int, end: int) -> tuple[int, int]:
        """(stages that ran, tasks they completed) among the stage ids in
        [first, end); a skipped stage (its shuffle output reused) runs no
        task. Past spark.ui.retainedStages the status store evicts stages
        in completion-time order, skipped ones (no completion time) first,
        so late in a long shared-session suite this round's skipped stages
        are gone while its run stages, the newest, stay; a round that
        reads as no stage or no task ran has been evicted whole, and fails
        below rather than passing with nothing checked."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = spark.sparkContext.statusTracker()
        infos = [tracker.getStageInfo(sid) for sid in range(first, end)]
        tasks = [i.numCompletedTasks for i in infos if i is not None]
        return sum(t > 0 for t in tasks), sum(tasks)

    nb = n_jobs()
    eng.bootstrap(synthweb.seed_list(cfg, n=20))
    n0, s0 = n_jobs(), n_stages()
    eng.run_round(1)
    n1, s1 = n_jobs(), n_stages()
    eng.run_round(2)
    n2, s2 = n_jobs(), n_stages()
    (r1, t1), (r2, t2) = ran(s0, s1), ran(s1, s2)
    assert n0 - nb <= 4, f"bootstrap launched {n0-nb} driver jobs (budget 4)"
    assert n1 - n0 == n2 - n1, f"per-round job count not flat: {n1-n0} vs {n2-n1}"
    assert n1 - n0 <= 9, f"round launched {n1-n0} driver jobs (budget 9)"
    assert r1 > 0 and t1 > 0, f"round 1 ran {r1} stages, {t1} tasks: status store evicted it"
    assert r1 == r2, f"per-round stage count not flat: {r1} vs {r2}"
    assert r1 <= 12, f"round ran {r1} stages (budget 12)"
    assert t1 == t2, f"per-round task count not flat: {t1} vs {t2}"
    assert t1 <= 45, f"round ran {t1} tasks (budget 45)"


def test_round_caches_frontier_once(spark, tmp_path, monkeypatch):
    """A bfs round persists four frames: the admission frame (every
    frontier row with its fate, read by the fetch, the next frontier and
    the counters), the fetch output, the edges and the new rows."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=2, max_rounds=2, web_hosts=6,
                      shuffle_partitions=4)
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path))
    eng.bootstrap(synthweb.seed_list(cfg, n=20))
    frame = type(spark.range(1))
    persists = []
    persist = frame.persist

    def counting(self, *args, **kwargs):
        persists.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(frame, "persist", counting)
    eng.run_round(1)
    assert len(persists) == 4, f"round persisted {len(persists)} frames (want 4)"


def _py4j_counter(monkeypatch):
    """Returns ``commands(step)``: runs ``step()`` and returns how many py4j
    commands it sent. Object releases ("m\nd\n…") are not counted: they
    follow Python's garbage collector, not the plan."""
    import threading

    import py4j.clientserver as cs

    sent = [0]
    lock = threading.Lock()
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\nd\n"):
            with lock:
                sent[0] += 1
        return send(self, command)

    # class-level, so the tail sinks' pool threads are counted too
    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)

    def commands(step) -> int:
        before = sent[0]
        step()
        return sent[0] - before

    return commands


def test_round_driver_round_trips_are_flat_and_bounded(spark, tmp_path, monkeypatch):
    """Per-round py4j budget: building a round's plan is driver time no
    executor overlaps, ~0.2 ms per Python→JVM command, and a Column-API
    call costs several commands (PySpark records each call site over
    py4j). The round writes its projections, filters, windows and
    counters as SQL text and builds the robots match expression once, at
    engine construction (~410 commands, before these counts): 510
    commands in round 1, 486 from round 2 and 161 for the bootstrap
    measured on this fixture (3,664 per round and 439 for the bootstrap
    with Column-API plans). Pins <= 800 per round,
    flat from round 2 (round 1 also builds the robots dim), and <= 439
    for the bootstrap."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=2, max_rounds=4, web_hosts=6,
                      shuffle_partitions=4)
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path))
    commands = _py4j_counter(monkeypatch)

    boot = commands(lambda: eng.bootstrap(synthweb.seed_list(cfg, n=20)))
    r1, r2, r3 = (commands(lambda r=r: eng.run_round(r)) for r in (1, 2, 3))
    assert 0 < boot <= 439, f"bootstrap sent {boot} py4j commands (budget 439)"
    assert r2 == r3, f"per-round py4j commands not flat: {r2} vs {r3}"
    assert max(r1, r2) <= 800, f"round sent {max(r1, r2)} py4j commands (budget 800)"


def test_pagerank_priority_jobs_are_flat(spark, tmp_path):
    """priority_mode="pagerank" re-ranks the frontier each round from the
    accumulated edge graph — that must cost a FIXED number of extra jobs
    per round, never a count that grows with the round number or the graph
    so far. Measured: 19/round steady state = bfs's 8 + 11 for the ranking
    (nodes count, eager localCheckpoints for the node base and each of the
    default 4 power iterations, and their materialization jobs); round 1
    pays a one-time +1 (first edges-table listing + ed-persist
    materialization), so flatness is asserted from round 2."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=3, max_rounds=4, web_hosts=6,
                      shuffle_partitions=4, priority_mode="pagerank")
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path))
    eng.bootstrap(synthweb.seed_list(cfg, n=20))

    # monotone DAGScheduler counter, not statusStore.jobsList — the latter
    # is capped by spark.ui.retainedJobs and evicts old jobs late in a long
    # shared-session suite, which distorts the deltas this test compares
    def n_jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    eng.run_round(1)  # one-time costs (first listing, persist materialize)
    n1 = n_jobs()
    eng.run_round(2)
    n2 = n_jobs()
    eng.run_round(3)
    n3 = n_jobs()
    assert n2 - n1 == n3 - n2, f"per-round job count not flat: {n2-n1} vs {n3-n2}"
    assert n2 - n1 <= 23, f"round launched {n2-n1} driver jobs (budget 23)"


def test_pagerank_round_trips_are_flat_and_bounded(spark, tmp_path, monkeypatch):
    """Per-round py4j budget of a priority_mode="pagerank" round, on
    test_pagerank_priority_jobs_are_flat's fixture: ops/graph.pagerank
    builds its per-iteration joins and projections as SQL text, like the
    bfs round: 782 commands per round measured and pinned (1,338 with
    Column-API plans). Counted from round 2, after round 1 has built the
    robots dim."""
    from crawlspark.config import CrawlConfig
    from crawlspark.engine import CrawlEngine
    from crawlspark.sources import synthweb
    from crawlspark.storage import CrawlStorage

    cfg = CrawlConfig(max_depth=3, max_rounds=4, web_hosts=6,
                      shuffle_partitions=4, priority_mode="pagerank")
    eng = CrawlEngine(spark, cfg, CrawlStorage(spark, tmp_path))
    eng.bootstrap(synthweb.seed_list(cfg, n=20))
    eng.run_round(1)
    commands = _py4j_counter(monkeypatch)
    r2, r3 = (commands(lambda r=r: eng.run_round(r)) for r in (2, 3))
    assert r2 == r3, f"per-round py4j commands not flat: {r2} vs {r3}"
    assert r2 <= 782, f"pagerank round sent {r2} py4j commands (budget 782)"


def test_decontaminate_broadcasts_bench_grams(spark):
    """ops/pipeline.decontaminate's contamination join must be a BROADCAST
    left-semi on gram_hash (the benchmark side is tiny next to a crawl) and
    no exchange feeding it may carry the text column — the join ships 16
    bytes per gram, never documents."""
    from crawlspark.ops.pipeline import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(decontaminate(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    sections = plan.split("\n\n")
    gram_exchanges = [
        s for s in sections
        if s.lstrip().startswith("(")
        and "Exchange" in s.splitlines()[0]
        and "gram_hash" in s
    ]
    for s in gram_exchanges:
        assert "text" not in s, "gram shuffle carries document text:\n" + s


def test_indegree_count_window_shares_dedup_exchange(spark):
    """engine.run_round's "indegree" boost claims the count-over-url_hash
    window rides the dedup window's exchange (same partitioning -> Catalyst
    plans BOTH Window nodes over ONE hash exchange). Pin that shape on the
    same expression pair the engine builds."""
    from pyspark.sql import Window

    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("url_hash"),
        (F.col("id") % 5).cast("double").alias("priority"),
        F.col("id").alias("d_pos"),
    )
    wcnt = Window.partitionBy("url_hash")
    boost = F.least(F.count(F.lit(1)).over(wcnt), F.lit(99)).cast("double") / F.lit(100.0)
    out = (
        df.withColumn("priority", F.col("priority") - boost)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url_hash").orderBy("priority", "d_pos")
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    plan = _plan(out)
    n_exchanges = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line and "Reused" not in line
    )
    assert n_exchanges == 1, plan
    assert plan.count("Window") >= 2, plan
