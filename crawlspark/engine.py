"""Batch-iterative crawl engine (SURVEY.md §3 E1; BASELINE.json:6 north_star).

One driver loop iteration = one crawl round:

  frontier snapshot → admission frame, cached once [broadcast robots join
  (cuckoo ban flag probed per host at dim build) → JVM robots path match →
  per-host priority rank of the eligible rows → each row's fate: banned,
  robots, fetch (within the host's crawl-delay budget) or defer] → [fetch
  rows → repartition(host_hash, url_hash) → mapInPandas fetch/parse] →
  documents + edges appends → [canonicalize extracted links → intra-round
  dedup → exact seen anti-join] → next frontier snapshot (deferred rows,
  banned rows while an unban is coming, new rows) → atomic manifest commit.

Crawl-ordering determinism (BASELINE.json:14 "matching the reference's crawl
ordering"): the reference is sequential, so a parallel engine reproduces its
order only if order is a **pure function of the data**. The total crawl order
here is the tuple

    (fetch_round, fetch_time, host, host_rank)

where ``fetch_time = host_rank * crawl_delay`` is the *virtual* politeness
clock (P4). Discovery order — the tie-breaker for priority and the
first-wins rule for dedup — is the tuple

    (priority=depth, discovered_round, d_time, d_host, d_rank, d_pos, url_hash)

with (d_time, d_host, d_rank) = the parent's fetch-order key and d_pos = the
link's position in the parent page. **No global row_number / dense sequence
is ever materialized**: a dense id would need a single-partition window (or a
driver-side zipWithIndex), which serializes at 10^10-frontier scale; a
multi-column sort key costs nothing and is exactly as deterministic.

Skew (G3): hot domains concentrate in one host partition. The *politeness*
path (per-host window P2) must stay whole-host, but its per-row work is a
comparison, so skew there is benign; the *fetch/parse* path is the expensive
one and is keyed per URL — ``repartition(host_hash, url_hash)``, and every
admitted row has its own ``url_hash`` — safe because fetch is per-URL pure
and happens after admission.

Plan construction is driver time that no executor overlaps: every
Column-API call (``F.col``, ``.alias``, ``==``, …) is a py4j round trip
(~0.2 ms each on a 4-CPU machine), and PySpark's default DataFrame
debugging adds three more per call to record its call site. The round's
projections, filters, windows and counters are therefore SQL text
(``selectExpr``, ``filter(str)``, ``F.expr``) — about one round trip per
operator — and the robots match expression is built once per engine. Only
engine-made numbers and booleans are rendered into that text, never data.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass, field, fields

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from crawlspark.config import INDEGREE_CAP, PAGERANK_ITERATIONS, CrawlConfig
from crawlspark.filters import CuckooFilter
from crawlspark.functions.canon import canonicalize_udf, with_url_identity
from crawlspark.functions.robots import allowed_col, path_col, pattern_regex
from crawlspark.sources import synthweb
from crawlspark.storage import TABLE_SCHEMAS, CrawlStorage

# Discovery-order tuple: first-wins dedup and priority tie-breaking are both
# decided by lexicographic order on these columns (see module docstring).
DISCOVERY_ORDER = [
    "priority",
    "discovered_round",
    "d_time",
    "d_host",
    "d_rank",
    "d_pos",
    "url_hash",
]
_DISCOVERY_SQL = ", ".join(DISCOVERY_ORDER)
FRONTIER_COLS = TABLE_SCHEMAS["frontier"].names
# G3: the fetch repartitions per URL, so a hot host spreads (docstring)
FETCH_KEY = ["host_hash", "url_hash"]

# One partition count per round, CrawlEngine._width: one wave on the task
# slots, capped at shuffle_partitions. It sizes the round's windows, joins
# and groupBy (the session's shuffle partitions), the fetch repartition,
# the next-frontier sink and the counter union. Every task carries fixed
# cost (scheduling, a shuffle-block fetch per map output, a file per sink
# task, a Python worker and Arrow setup in the fetch), and a second wave
# only adds that cost: a traced polite round ran 92 tasks at
# two waves and 45 at one, and bench.py's big crawl (rounds of 10^4-10^5
# URLs) ran 8% faster at 4 partitions on 4 slots than at 8. Tables do not
# depend on the width (test_pagerank_mode_partitioning_invariance).

# mapInPandas fetch output: spans come back as parallel primitive arrays and
# are zipped into array<struct> JVM-side (arrays_zip stays in codegen and
# sidesteps pandas→Arrow nested-struct conversion cost).
FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("host_hash", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("fetch_time", T.DoubleType()),
        T.StructField("host_rank", T.IntegerType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("kind", T.ArrayType(T.StringType())),
        T.StructField("text", T.ArrayType(T.StringType())),
        T.StructField("media_ref", T.ArrayType(T.StringType())),
        T.StructField("offset", T.ArrayType(T.IntegerType())),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("links_canon", T.ArrayType(T.StringType())),
    ]
)

def _parallel(*thunks) -> None:
    """Run independent Spark jobs concurrently from driver threads (shared
    SparkSession; standard Spark concurrent-job scheduling). Exceptions
    propagate after all threads join."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        for f in futures:
            f.result()


def _signed64(v: int) -> int:
    """Two's-complement view of an unsigned 64-bit hash (numpy int64-safe)."""
    return v - (1 << 64) if v >= (1 << 63) else v


_SPANS_EXPR = (
    "transform(arrays_zip(kind, text, media_ref, offset), "
    "s -> struct(s.kind as kind, s.text as text, "
    "s.media_ref as media_ref, s.offset as offset))"
)


@dataclass
class RoundMetrics:
    round: int = 0
    frontier_size: int = 0
    fetched: int = 0
    ok_200: int = 0
    skipped_robots: int = 0
    skipped_politeness: int = 0
    skipped_banned: int = 0
    candidates: int = 0
    deduped: int = 0
    new_urls: int = 0
    extras: dict = field(default_factory=dict)


# Counters the round sums per host-hash bucket (every RoundMetrics field but
# the round, the derived ``deduped`` and ``extras``); METRICS_COLS of them
# are the S7 metrics table's lineage columns.
COUNTERS = [
    f.name
    for f in fields(RoundMetrics)
    if f.name not in ("round", "deduped", "extras")
]
METRICS_SCHEMA = to_arrow_schema(TABLE_SCHEMAS["metrics"])
METRICS_COLS = [c for c in METRICS_SCHEMA.names if c in COUNTERS]


class CrawlEngine:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig, storage: CrawlStorage):
        self.spark = spark
        self.cfg = cfg
        self.storage = storage
        # A4 ban filter. Its contents are a pure function of the config and
        # the round (banned hosts inserted here, deleted from unban_round on
        # by _refresh_cuckoo), so a fresh run and a resume rebuild the same
        # filter and nothing is checkpointed.
        self.cuckoo = CuckooFilter(capacity=max(64, cfg.web_hosts * 4))
        for key in self._banned_host_keys():
            self.cuckoo.insert(key)
        self.history: list[RoundMetrics] = []
        self._robots_cached: DataFrame | None = None
        # R2 robots match over the joined dim's rules: round-invariant, and
        # building it is ~410 py4j round trips, so it is built once here
        self._allowed = allowed_col(path_col(F.col("url_canon")), F.col("rules"))
        # the round's width (module note above FETCH_SCHEMA); the slot
        # count is read once, since each read is py4j round trips, so on a
        # cluster build the engine after its executors have registered
        # (bench.make_spark waits for local-cluster executors)
        self._width = min(cfg.shuffle_partitions, spark.sparkContext.defaultParallelism)

    # ------------------------------------------------------------ robots
    def _robots_df(self) -> DataFrame:
        """Broadcast robots dim, built once per engine (the rules are
        round-invariant for a given config). Each rule carries its
        ``pattern_regex`` and each host its cuckoo answer ``maybe_banned``,
        probed here once per host. That answer stays valid for the dim's
        lifetime: the filter changes only at ``unban_round``, from which on
        ``bans_active`` masks it. The rows arrive as a pyarrow Table, so the
        dim is a ``LocalRelation`` and broadcasting it needs no Python
        worker."""
        if self._robots_cached is not None:
            return self._robots_cached
        rows = synthweb.robots_table(self.cfg)
        keys = np.fromiter(
            (self._host_key(r["host"]) for r in rows), dtype=np.int64, count=len(rows)
        )
        maybe_banned = self.cuckoo.contains_many(keys)
        dim = [
            {
                **r,
                "rules": [
                    {**rule, "regex": pattern_regex(rule["prefix"])}
                    for rule in r["rules"] or []
                ],
                "maybe_banned": bool(mb),
            }
            for r, mb in zip(rows, maybe_banned)
        ]
        self._robots_cached = self.spark.createDataFrame(
            pa.Table.from_pylist(dim),
            "host string, rules array<struct<allow:boolean, prefix:string, "
            "regex:string>>, crawl_delay double, banned boolean, "
            "maybe_banned boolean",
        )
        return self._robots_cached

    def _host_key(self, host: str) -> int:
        return _signed64(synthweb.stable_hash("host:" + host, self.cfg.seed))

    def _banned_host_keys(self) -> list[int]:
        return [
            self._host_key(r["host"])
            for r in synthweb.robots_table(self.cfg)
            if r["banned"]
        ]

    def _refresh_cuckoo(self, rnd: int) -> None:
        """A4: deletable politeness bans. Hosts banned in the robots fixture
        are in the filter from construction; from ``cfg.unban_round`` on they
        are *deleted* (the operation a Bloom filter cannot do), after which
        their URLs become eligible again. The exact ban state is
        ``robots.banned AND rnd < unban_round``; the cuckoo filter mirrors it
        and is probed per host at dim build (``_robots_df``)."""
        if (
            self.cfg.unban_round is not None
            and rnd >= self.cfg.unban_round
            and self.cuckoo.n_items > 0
        ):
            for key in self._banned_host_keys():
                self.cuckoo.delete(key)

    def _admission_frame(self, frontier: DataFrame, rnd: int) -> DataFrame:
        """Every frontier row with its ``crawl_delay``, ``host_rank`` and
        ``fate`` this round, JVM-only (a broadcast robots join and column
        expressions): ``'banned'`` while the exact ban (robots.banned AND
        the unban clock) and the cuckoo answer hold (A4: a false positive
        never bans), ``'robots'`` where the rules disallow the row (R2),
        else ``'fetch'`` within the host's crawl-delay budget and
        ``'defer'`` past it (P2-P4). ``host_rank`` numbers the host's
        eligible rows in discovery order; a skipped row ranks in its own
        window partition, so it never takes a budget slot."""
        bans_active = self.cfg.unban_round is None or rnd < self.cfg.unban_round
        budget = (
            f"greatest(1, floor(CAST({self.cfg.round_seconds!r} AS DOUBLE)"
            " / crawl_delay))"
        )
        return (
            frontier.join(F.broadcast(self._robots_df()), "host", "left")
            .withColumn("is_allowed", self._allowed)
            .selectExpr(
                *FRONTIER_COLS,
                "coalesce(crawl_delay, 1.0D) AS crawl_delay",
                "CASE WHEN coalesce(maybe_banned AND banned, false) AND "
                f"{bans_active} THEN 'banned' WHEN NOT is_allowed THEN 'robots' "
                "END AS skip",
            )
            .selectExpr(
                *FRONTIER_COLS,
                "crawl_delay",
                f"row_number() OVER (PARTITION BY host, skip ORDER BY {_DISCOVERY_SQL})"
                " AS host_rank",
                f"coalesce(skip, IF(host_rank <= {budget}, 'fetch', 'defer')) AS fate",
            )
        )

    # --------------------------------------------------------- bootstrap
    def _seed_frontier(self, seeds: list[str], rnd: int) -> DataFrame:
        """Seed list → frontier rows: canonicalized, depth 0 / priority 0.0,
        discovered in round ``rnd``, first-wins deduplicated by seed
        position (``d_rank``), the window at the round's width."""
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self._width))
        fr = self.spark.createDataFrame(
            [(u, i) for i, u in enumerate(seeds)], "url string, seed_pos int"
        )
        fr = fr.withColumn("url_canon", canonicalize_udf()("url")).filter(
            "url_canon IS NOT NULL"
        )
        fr = with_url_identity(fr).selectExpr(
            "url",
            "url_canon",
            "url_hash",
            "host",
            "host_hash",
            "0 AS depth",
            "0.0D AS priority",
            f"{rnd} AS discovered_round",
            "0.0D AS d_time",
            "'' AS d_host",
            "seed_pos AS d_rank",
            "0 AS d_pos",
            "CAST(NULL AS BIGINT) AS parent_hash",
        )
        return _first_wins(fr)

    def bootstrap(self, seeds: list[str]) -> None:
        """Round 0: seed list → canonical dedup'd frontier + seen."""
        fr = self._seed_frontier(seeds, 0)
        self.storage.write_round("frontier", fr, 0)
        self.storage.write_round(
            "seen", _seen_rows(self.storage.read_round("frontier", 0), 0), 0
        )
        n = self.storage.read_round("frontier", 0).count()
        self.storage.commit_manifest(
            0, {"phase": "bootstrap", "frontier_size": n, "totals": {"seen": n}}
        )

    def inject_seeds(self, seeds: list[str]) -> dict:
        """Mid-crawl seed injection: add new seed URLs to a live (or even
        exhausted) crawl as the crawl's next committed snapshot round.

        The injection is a full round in the manifest protocol — frontier
        snapshot, seen append, then the atomic manifest commit LAST — so it
        inherits every resume guarantee the fetch rounds have: a crash
        mid-injection leaves orphan dirs that a re-run overwrites
        (write_round is overwrite-idempotent), and a crash after the commit
        resumes cleanly at the next round. Because the manifest's
        ``next_frontier_size`` becomes non-zero again, injecting into an
        exhausted crawl re-opens it — ``run()`` simply continues.

        Semantics match bootstrap: seeds canonicalize, first-wins dedup by
        seed position, and anti-join against the EXACT seen table
        (enqueue-time seen — a URL ever crawled or enqueued is never
        re-fetched, so injection is idempotent: re-injecting the same list
        is a no-op). New entries enter at depth 0 / priority 0.0 with
        ``discovered_round`` = the injection round. No fetching happens in
        the injection round; the sequential oracle models the same round
        (tests/oracle_crawler.crawl(injections=...)).
        """
        latest = self.storage.latest_manifest()
        if latest is None:
            self.bootstrap(seeds)
            n = self.storage.manifest(0)["frontier_size"]
            return {"round": 0, "injected": n, "phase": "bootstrap"}
        rnd = latest["round"] + 1
        new = self._append_unseen(self._seed_frontier(seeds, rnd), rnd)
        next_frontier = self.storage.read_round("frontier", rnd - 1).unionByName(new)
        self.storage.write_round("frontier", next_frontier, rnd)
        n_new = self.storage.read_round("seen", rnd).count()
        prev_size = _next_frontier_size(latest) or 0
        totals = dict(latest.get("totals", {}))
        totals["seen"] = totals.get("seen", 0) + n_new
        self.storage.commit_manifest(
            rnd,
            {
                "phase": "inject",
                "injected": n_new,
                "frontier_size": prev_size,
                "next_frontier_size": prev_size + n_new,
                "totals": totals,
            },
        )
        new.unpersist()
        return {"round": rnd, "injected": n_new, "phase": "inject"}

    def _append_unseen(self, rows: DataFrame, rnd: int) -> DataFrame:
        """A2 exact seen anti-join + S5 seen append: the frontier rows of
        ``rows`` whose (host_hash, url_hash) is not in ``seen`` through
        round ``rnd - 1``, persisted, and appended to ``seen`` with
        ``first_round = rnd``. The one answer to "seen?" for every row."""
        seen = self.storage.read_table("seen", upto_round=rnd - 1).selectExpr(
            "host_hash", "url_hash"
        )
        new = (
            rows.join(seen, ["host_hash", "url_hash"], "left_anti")
            .selectExpr(*FRONTIER_COLS)
            .persist()
        )
        self.storage.write_round("seen", _seen_rows(new, rnd), rnd)
        return new

    # ------------------------------------------------------------- round
    def run_round(self, rnd: int) -> RoundMetrics:
        """Consume frontier snapshot rnd-1, commit round rnd."""
        cfg, sp = self.cfg, self.spark
        m = RoundMetrics(round=rnd)
        timings: dict[str, float] = {}
        _t0 = [time.time()]

        def tick(phase: str) -> None:
            now = time.time()
            timings[phase] = round(now - _t0[0], 3)
            _t0[0] = now

        frontier = self.storage.read_round("frontier", rnd - 1)

        # The round's width sizes every window, join and groupBy planned
        # below and the fetch repartition; the frontier sink and counter
        # union coalesce to it.
        sp.conf.set("spark.sql.shuffle.partitions", str(self._width))
        prev_m = self.storage.manifest(rnd - 1) or {}

        self._refresh_cuckoo(rnd)  # unban (cuckoo delete) takes effect here
        # The round's one frontier cache: the fetch, the next frontier and
        # the counters all read their rows from it by fate. No counting
        # here: the round's counters come from ONE per-bucket sum in the
        # round tail, and nothing on the fetch path needs them.
        adm = self._admission_frame(frontier, rnd).persist()

        tick("admission_plan")

        # G3 fetch repartition → F1/F2 fetch+parse (mapInPandas) at the
        # round's width; only the columns the fetcher reads cross into Python
        admitted = (
            adm.filter("fate = 'fetch'")
            .selectExpr(
                "url_canon",
                "url_hash",
                "host",
                "host_hash",
                "depth",
                "host_rank * crawl_delay AS fetch_time",
                "host_rank",
            )
            .repartition(self._width, *FETCH_KEY)
        )
        fetched = admitted.mapInPandas(_make_fetcher(cfg), FETCH_SCHEMA).persist()

        # S3 documents append (contract schema + bookkeeping)
        # (content_sha2 reads ``spans`` as a lateral alias of this projection)
        docs = fetched.selectExpr(
            "url_canon AS doc_id",
            f"{_SPANS_EXPR} AS spans",
            "url_hash",
            "host",
            "host_hash",
            "depth",
            "fetch_time",
            "host_rank",
            "status",
            "sha2(to_json(spans), 256) AS content_sha2",
        )

        # F3 link extraction → S4 edges append. Links arrive from the fetch
        # pass already resolved+canonicalized (fused C8 — no second python
        # stage here); the explode and identity columns stay in codegen.
        edges = (
            fetched.filter("status = 200")
            .selectExpr(
                "url_canon AS src_canon",
                "url_hash AS src_hash",
                "host AS p_host",
                "fetch_time AS p_time",
                "host_rank AS p_rank",
                "depth AS p_depth",
                "posexplode(arrays_zip(links, links_canon)) AS (pos, _lnk)",
            )
            .selectExpr(
                "src_canon",
                "src_hash",
                "p_host",
                "p_time",
                "p_rank",
                "p_depth",
                "pos",
                "_lnk.links AS href",
                "_lnk.links_canon AS url_canon",
            )
            .filter("url_canon IS NOT NULL")
        )
        edges = with_url_identity(edges).persist()
        edges_out = edges.selectExpr(
            "src_hash",
            "href AS dst_url",
            "url_canon AS dst_canon",
            "url_hash AS dst_hash",
            "pos",
        )
        # driver-side job pipelining: the edges sink materializes the edges
        # cache the candidate pipeline needs next, so it runs NOW; the
        # documents sink only reads the (already materialized) fetch cache
        # and is deferred into the round-tail parallel group — the round
        # pays one barrier here, not two.
        self.storage.write_round("edges", edges_out, rnd)
        tick("edges_write")

        # U1/U2: candidate frontier rows with lineage
        cand_rows = edges.filter(f"p_depth + 1 <= {cfg.max_depth}")
        cand = cand_rows.selectExpr(
            "href AS url",
            "url_canon",
            "url_hash",
            "host",
            "host_hash",
            "p_depth + 1 AS depth",
            "CAST(p_depth + 1 AS DOUBLE) AS priority",
            f"{rnd} AS discovered_round",
            "p_time AS d_time",
            "p_host AS d_host",
            "p_rank AS d_rank",
            "pos AS d_pos",
            "src_hash AS parent_hash",
        )
        # P1 priority policy: "indegree" boosts URLs linked more often this
        # round — priority = depth - min(n_links, cap)/(cap+1). The count
        # window shares the dedup window's partitioning (url_hash), so
        # Catalyst plans BOTH over ONE exchange; the boost is identical for
        # every row of a url_hash partition, so first-wins tie-breaking
        # inside the partition is unchanged. Exact-double discipline: count
        # is a long, cast once, one division, one subtraction — the
        # sequential oracle replays the identical IEEE-754 ops.
        if cfg.priority_mode == "indegree":
            cand = cand.withColumn(
                "priority",
                F.expr(
                    "priority - CAST(least(count(1) OVER (PARTITION BY url_hash), "
                    f"{INDEGREE_CAP}) AS DOUBLE) / CAST({INDEGREE_CAP + 1} AS DOUBLE)"
                ),
            )
        elif cfg.priority_mode == "pagerank":
            # P1 "pagerank": exact fixed-point-integer PageRank (ops/graph)
            # over edges rounds <= rnd, this round's included (written
            # above). Integer ranks are bit-deterministic, and the float
            # discipline matches "indegree" (one long→double cast, one
            # division by 10^12, one subtraction), so the oracle replays the
            # identical boost; boost < 1, so depth levels never interleave.
            # Fixed cost per round: one edges scan + O(PAGERANK_ITERATIONS)
            # jobs (test_pagerank_priority_jobs_are_flat).
            from crawlspark.ops.graph import SCALE, pagerank

            g = self.storage.read_table("edges", upto_round=rnd).selectExpr(
                "src_hash AS src", "dst_hash AS dst"
            )
            nodes = (
                g.selectExpr("src AS node")
                .unionByName(g.selectExpr("dst AS node"))
                .distinct()
            )
            ranks = pagerank(g, nodes, iterations=PAGERANK_ITERATIONS)
            cand = (
                cand.join(
                    ranks.withColumnRenamed("node", "url_hash"), "url_hash", "left"
                )
                .withColumn(
                    "priority",
                    F.expr(
                        "priority - CAST(least(coalesce(pagerank_scaled, "
                        f"CAST(0 AS BIGINT)), CAST({SCALE - 1} AS BIGINT)) AS DOUBLE)"
                        f" / CAST({SCALE} AS DOUBLE)"
                    ),
                )
                .drop("pagerank_scaled")
            )
        cand = _first_wins(cand)
        tick("candidates_dedup")

        new = self._append_unseen(cand, rnd)
        tick("seen_antijoin_write")

        # U1: next frontier snapshot = deferred ∪ banned ∪ new. Banned rows
        # are kept when an unban is coming and dropped when the ban is
        # forever (else the crawl never exhausts). One sink task per width
        # slot, not one per partition of each part.
        unban_coming = cfg.unban_round is not None
        next_frontier = (
            adm.filter(f"fate = 'defer' OR (fate = 'banned' AND {unban_coming})")
            .selectExpr(*FRONTIER_COLS)
            .unionByName(new)
            .coalesce(self._width)
        )

        # G1 counters: ONE groupBy(host_hash) sum over the round's cached
        # frames gives every RoundMetrics counter per host-hash bucket. Its
        # <= NUM_HOST_BUCKETS rows come back to the driver: the counters are
        # their column sums, and the rows with a nonzero S7 column are the
        # metrics table. This and the documents and frontier sinks only read
        # materialized caches, so they run as concurrent jobs.
        def flags(df: DataFrame, **conds: str) -> DataFrame:
            return df.selectExpr(
                "host_hash",
                *[f"IF({conds.get(c, 'false')}, 1, 0) AS {c}" for c in COUNTERS],
            )

        per_bucket = (
            flags(
                adm,
                frontier_size="true",
                skipped_banned="fate = 'banned'",
                skipped_robots="fate = 'robots'",
                skipped_politeness="fate = 'defer'",
            )
            .unionByName(flags(fetched, fetched="true", ok_200="status = 200"))
            .unionByName(flags(cand_rows, candidates="true"))
            .unionByName(flags(new, new_urls="true"))
            .coalesce(self._width)
            .groupBy("host_hash")
            .agg(*[F.expr(f"sum({c}) AS {c}") for c in COUNTERS])
        )

        def count_and_write_metrics() -> None:
            rows = [r.asDict() for r in per_bucket.collect()]
            for c in COUNTERS:
                setattr(m, c, sum(r[c] for r in rows))
            # a pyarrow Table becomes a LocalRelation: writing it skips the
            # pickled-RDD round trip of a Python list (~0.1 s against ~0.85 s
            # per round at local[4] on a 4-CPU machine)
            snapshot = f"frontier/round={rnd-1:05d}"
            sink = sorted(
                (
                    {**r, "input_snapshot": snapshot}
                    for r in rows
                    if any(r[c] for c in METRICS_COLS)
                ),
                key=lambda r: r["host_hash"],
            )
            self.storage.write_round(
                "metrics",
                sp.createDataFrame(pa.Table.from_pylist(sink, schema=METRICS_SCHEMA)),
                rnd,
            )

        _parallel(
            lambda: self.storage.write_round("documents", docs, rnd),
            lambda: self.storage.write_round("frontier", next_frontier, rnd),
            count_and_write_metrics,
        )
        m.deduped = m.candidates - m.new_urls
        tick("tail_parallel_sinks")
        # next snapshot size is already known arithmetically — no read-back job
        next_size = m.skipped_politeness + m.new_urls + (
            m.skipped_banned if cfg.unban_round is not None else 0
        )
        totals = dict(prev_m.get("totals", {}))
        totals["seen"] = totals.get("seen", 0) + m.new_urls
        totals["fetched"] = totals.get("fetched", 0) + m.fetched
        counters = {k: v for k, v in asdict(m).items() if k != "extras"}
        self.storage.commit_manifest(
            rnd, {**counters, "next_frontier_size": next_size, "totals": totals}
        )
        # Post-commit table maintenance (both no-ops unless configured):
        # everything below this line only rewrites/reclaims storage layout —
        # table contents, crawl state and resume points are unchanged, so a
        # crash anywhere in here re-runs nothing and corrupts nothing.
        if cfg.compact_seen_every and rnd % cfg.compact_seen_every == 0:
            self.storage.compact_table("seen", upto_round=rnd)
            # pagerank priority re-reads the edges-so-far table each round,
            # so under that mode edges gets the same listing-bound
            # treatment as seen (read_table round<=rnd cuts stay
            # row-identical below the pointer — test_read_table_equality_
            # across_compaction pins it)
            if cfg.priority_mode == "pagerank":
                self.storage.compact_table("edges", upto_round=rnd)
        if cfg.expire_frontier:
            self.storage.expire_frontier_snapshots(keep_upto=rnd)
        m.extras["next_frontier_size"] = next_size
        m.extras["timings"] = timings
        for df in (adm, fetched, edges, new):
            df.unpersist()
        self.history.append(m)
        return m

    # --------------------------------------------------------------- run
    def run(self, seeds: list[str] | None = None) -> dict:
        """Full crawl to frontier exhaustion (or max_rounds), resumable: if a
        manifest exists, continue from the round after the latest commit."""
        latest = self.storage.latest_manifest()
        if latest is None:
            if seeds is None:
                seeds = synthweb.seed_list(self.cfg)
            self.bootstrap(seeds)
            start = 1
        else:
            start = latest["round"] + 1

        rounds_run = 0
        last = start - 1
        for rnd in range(start, self.cfg.max_rounds + 1):
            if not _next_frontier_size(self.storage.manifest(rnd - 1)):
                break
            m = self.run_round(rnd)
            rounds_run += 1
            last = rnd
            if m.extras["next_frontier_size"] == 0:
                break
        final = self.storage.manifest(last) or {}
        return {
            "rounds": last,
            "rounds_run_this_session": rounds_run,
            "totals": final.get("totals", {}),
            "exhausted": _next_frontier_size(final) == 0,
        }


def _seen_rows(frontier: DataFrame, rnd: int) -> DataFrame:
    """S5: the ``seen`` rows of frontier rows first enqueued in round ``rnd``."""
    return frontier.selectExpr(
        "url_hash", "url_canon", "host_hash", f"{rnd} AS first_round"
    )


def _first_wins(rows: DataFrame) -> DataFrame:
    """A1 first-wins dedup: per ``url_hash``, the row first in discovery
    order."""
    return (
        rows.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY url_hash ORDER BY {_DISCOVERY_SQL})"
            " AS _rn",
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def _next_frontier_size(manifest: dict | None) -> int | None:
    """Size of the frontier snapshot a committed round hands to the next
    one (a bootstrap manifest records it as ``frontier_size``); None without
    a manifest."""
    if not manifest:
        return None
    return manifest.get("next_frontier_size", manifest.get("frontier_size"))


def _make_fetcher(cfg: CrawlConfig):
    """F1/F2: iterator-of-batches fetch+parse. The synthetic web is the
    sandbox 'network' (no real HTTP here — SURVEY.md §0.3); on a real cluster
    this same shape holds one HTTP session per partition and the politeness
    spacing is already guaranteed by admission (P3/P4)."""

    def fetch_batches(batches):
        from crawlspark.functions.canon import resolve_series

        for pdf in batches:
            statuses, kinds, texts, refs, offs, links = [], [], [], [], [], []
            flat_bases, flat_hrefs, counts = [], [], []
            for u in pdf["url_canon"]:
                status, spans, lnks = synthweb.page(u, cfg)
                statuses.append(status)
                kinds.append([s["kind"] for s in spans])
                texts.append([s["text"] for s in spans])
                refs.append([s["media_ref"] for s in spans])
                offs.append([s["offset"] for s in spans])
                links.append(lnks)
                flat_bases.extend([u] * len(lnks))
                flat_hrefs.extend(lnks)
                counts.append(len(lnks))
            # C8 fused into the fetch pass: resolve+canonicalize every
            # extracted link in ONE vectorized call per Arrow batch, so the
            # edges path downstream needs no second python stage over the
            # exploded links (chained ArrowEval stages each cost a python
            # worker per task — measured as the dominant local-mode tax).
            resolved = resolve_series(
                pd.Series(flat_bases, dtype="object"),
                pd.Series(flat_hrefs, dtype="object"),
            ).tolist()
            links_canon, at = [], 0
            for n in counts:
                links_canon.append(resolved[at : at + n])
                at += n
            yield pd.DataFrame(
                {
                    "url_canon": pdf["url_canon"].values,
                    "url_hash": pdf["url_hash"].values,
                    "host": pdf["host"].values,
                    "host_hash": pdf["host_hash"].values,
                    "depth": pdf["depth"].values,
                    "fetch_time": pdf["fetch_time"].values,
                    "host_rank": pdf["host_rank"].values,
                    "status": statuses,
                    "kind": kinds,
                    "text": texts,
                    "media_ref": refs,
                    "offset": offs,
                    "links": links,
                    "links_canon": links_canon,
                }
            )

    return fetch_batches
