"""Sequential oracle crawler (SURVEY.md §5 layer 3).

A single-threaded, pure-Python crawler implementing exactly the SURVEY.md §2
semantics over the same synthetic web. It is the stand-in for the absent
reference (`/root/reference` was empty — SURVEY.md §0): correctness of the
Spark engine is judged as equality against this oracle under the same seed
list + politeness budget (BASELINE.json:14):

  (a) final URL-seen set equality,
  (b) crawl-ordering equality (round, fetch_time, host, host_rank),
  (c) span-sequence equality per document (kind, text, media_ref, order).

It shares `canonicalize_url`, `page`, `robots_table`, and `allowed` with the
engine — URL identity and page content are ONE function each, so equality
tests exercise the engine's distributed plumbing (canonicalization UDFs,
windows, anti-joins, Arrow batching), not the fixtures.

No Spark / JVM imports anywhere in this module.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urljoin

from crawlspark.config import INDEGREE_CAP, PAGERANK_ITERATIONS, CrawlConfig
from crawlspark.functions.canon import canonicalize_url, host_of
from crawlspark.functions.robots import allowed, path_of
from crawlspark.sources.synthweb import page, robots_table

# Mirrors crawlspark.ops.graph.SCALE (kept literal here: no Spark imports in
# this module, and the value is part of the priority contract).
PAGERANK_SCALE = 10**12


def _pagerank_int(
    edges: set[tuple[str, str]],
    iterations: int,
    scale: int = PAGERANK_SCALE,
    num: int = 85,
    den: int = 100,
) -> dict[str, int]:
    """Pure-python replica of the exact fixed-point-integer PageRank the
    engine's "pagerank" priority mode runs (ops/graph.pagerank): same
    floor divisions in the same places, dangling mass leaks identically.
    Node identity here is the canonical URL; the engine keys by
    xxhash64(url_canon) — an isomorphic graph, so the integer ranks are
    equal node-for-node (hash collisions aside, absent at fixture scale)."""
    nodes: set[str] = set()
    outdeg: dict[str, int] = {}
    for s, d in edges:
        nodes.add(s)
        nodes.add(d)
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    if n == 0:
        return {}
    per_node = scale // n
    base = ((den - num) * per_node) // den
    rank = {v: per_node for v in nodes}
    for _ in range(iterations):
        mass = dict.fromkeys(nodes, 0)
        for s, d in edges:
            mass[d] += rank[s] // outdeg[s]
        rank = {v: base + (num * mass[v]) // den for v in nodes}
    return rank


@dataclass
class OracleDoc:
    round: int
    url_canon: str
    host: str
    host_rank: int
    fetch_time: float
    status: int
    spans: list


@dataclass
class OracleResult:
    docs: list = field(default_factory=list)  # in exact crawl order
    seen: set = field(default_factory=set)
    rounds: int = 0
    per_round: list = field(default_factory=list)  # dict of counters

    @property
    def crawl_order(self) -> list[tuple[int, str]]:
        return [(d.round, d.url_canon) for d in self.docs]


@dataclass
class _Entry:
    url_canon: str
    host: str
    depth: int
    discovered_round: int
    d_time: float
    d_host: str
    d_rank: int
    d_pos: int
    # explicit priority (engine P1): float(depth) under "bfs"; under
    # "indegree" the crawl() loop subtracts the in-round link-count boost
    # with the exact IEEE-754 ops the engine's column expression performs.
    priority: float | None = None

    def __post_init__(self):
        if self.priority is None:
            self.priority = float(self.depth)

    @property
    def order_key(self):
        # mirrors engine.DISCOVERY_ORDER (url_hash tiebreak never needed:
        # the discovery tuple is unique per URL — see engine docstring)
        return (
            self.priority,
            self.discovered_round,
            self.d_time,
            self.d_host,
            self.d_rank,
            self.d_pos,
        )


def crawl(
    cfg: CrawlConfig,
    seeds: list[str],
    injections: dict[int, list[str]] | None = None,
) -> OracleResult:
    """``injections`` maps round -> extra seed list: that round performs no
    fetching — the seeds canonicalize, dedup first-wins by position, drop
    already-seen, and join the frontier at depth 0 with discovered_round =
    the injection round (mirrors engine.inject_seeds, which commits the
    injection as its own snapshot round)."""
    injections = injections or {}
    res = OracleResult()
    robots = {r["host"]: r for r in robots_table(cfg)}
    # accumulated link graph (engine: the `edges` table) — distinct
    # (src_canon, dst_canon) over every 200-fetch's resolvable links,
    # INCLUDING links beyond max_depth (the engine writes edges before the
    # depth filter); feeds the "pagerank" priority mode.
    edges_acc: set[tuple[str, str]] = set()

    # --- bootstrap (round 0): canonicalize, first-wins dedup by seed order
    frontier: list[_Entry] = []
    for i, u in enumerate(seeds):
        c = canonicalize_url(u)
        if c is None or c in res.seen:
            continue
        res.seen.add(c)
        frontier.append(_Entry(c, host_of(c), 0, 0, 0.0, "", i, 0))

    for rnd in range(1, cfg.max_rounds + 1):
        if rnd in injections:
            added = 0
            for i, u in enumerate(injections[rnd]):
                c = canonicalize_url(u)
                if c is None or c in res.seen:
                    continue
                res.seen.add(c)
                frontier.append(_Entry(c, host_of(c), 0, rnd, 0.0, "", i, 0))
                added += 1
            res.per_round.append(
                {"round": rnd, "phase": "inject", "new_urls": added}
            )
            res.rounds = rnd
            continue
        if not frontier:
            break
        m = {
            "round": rnd,
            "frontier_size": len(frontier),
            "fetched": 0,
            "ok_200": 0,
            "skipped_robots": 0,
            "skipped_politeness": 0,
            "skipped_banned": 0,
            "candidates": 0,
            "deduped": 0,
            "new_urls": 0,
        }
        bans_active = cfg.unban_round is None or rnd < cfg.unban_round

        eligible: list[_Entry] = []
        banned_deferred: list[_Entry] = []
        for e in frontier:
            r = robots.get(e.host)
            if r is not None and r["banned"] and bans_active:
                m["skipped_banned"] += 1
                if cfg.unban_round is not None:
                    banned_deferred.append(e)
                continue
            rules = r["rules"] if r is not None else None
            if not allowed(path_of(e.url_canon), rules):
                m["skipped_robots"] += 1
                continue
            eligible.append(e)

        # P2: per-host ranking by discovery order; P3: crawl-delay budget
        by_host: dict[str, list[_Entry]] = {}
        for e in eligible:
            by_host.setdefault(e.host, []).append(e)
        admitted: list[tuple[float, str, int, _Entry]] = []
        deferred: list[_Entry] = []
        for host, entries in by_host.items():
            entries.sort(key=lambda e: e.order_key)
            r = robots.get(host)
            delay = r["crawl_delay"] if r is not None else 1.0
            budget = max(1, int(cfg.round_seconds // delay))
            for rank, e in enumerate(entries, start=1):
                if rank <= budget:
                    admitted.append((rank * delay, host, rank, e))
                else:
                    deferred.append(e)
                    m["skipped_politeness"] += 1

        # P4: total crawl order = (fetch_time, host, host_rank)
        admitted.sort(key=lambda t: (t[0], t[1], t[2]))

        candidates: list[_Entry] = []
        for fetch_time, host, rank, e in admitted:
            status, spans, links = page(e.url_canon, cfg)
            m["fetched"] += 1
            res.docs.append(
                OracleDoc(rnd, e.url_canon, host, rank, fetch_time, status, spans)
            )
            if status != 200:
                continue
            m["ok_200"] += 1
            for pos, href in enumerate(links):
                child = canonicalize_url(urljoin(e.url_canon, href))
                if child is None:
                    continue
                edges_acc.add((e.url_canon, child))
                depth = e.depth + 1
                if depth > cfg.max_depth:
                    continue
                m["candidates"] += 1
                candidates.append(
                    _Entry(child, host_of(child), depth, rnd, fetch_time, host, rank, pos)
                )

        # P1 "indegree" priority: boost = min(in-round link count, cap) /
        # (cap+1), identical per canonical URL — mirrors the engine's
        # count-over-url_hash window on the same candidate multiset (after
        # the depth filter, before dedup).
        if cfg.priority_mode == "indegree":
            n_links: dict[str, int] = {}
            for c in candidates:
                n_links[c.url_canon] = n_links.get(c.url_canon, 0) + 1
            for c in candidates:
                c.priority = float(c.depth) - (
                    float(min(n_links[c.url_canon], INDEGREE_CAP))
                    / float(INDEGREE_CAP + 1)
                )
        # P1 "pagerank" priority: boost = min(rank, SCALE-1)/SCALE over the
        # integer ranks of the graph accumulated through this round —
        # identical IEEE-754 ops to the engine's column expression
        # (long→double cast, one division, one subtraction).
        elif cfg.priority_mode == "pagerank":
            ranks = _pagerank_int(edges_acc, PAGERANK_ITERATIONS)
            for c in candidates:
                r = min(ranks.get(c.url_canon, 0), PAGERANK_SCALE - 1)
                c.priority = float(c.depth) - (float(r) / float(PAGERANK_SCALE))

        # A1 first-wins intra-round dedup + A2 seen filter (exact)
        candidates.sort(key=lambda e: e.order_key)
        new: list[_Entry] = []
        for c in candidates:
            if c.url_canon in res.seen:
                m["deduped"] += 1
                continue
            res.seen.add(c.url_canon)
            new.append(c)
        m["new_urls"] = len(new)

        frontier = deferred + banned_deferred + new
        res.per_round.append(m)
        res.rounds = rnd
        # an exhausted frontier ends the crawl — unless a later injection
        # re-opens it (engine analog: run() returns, inject_seeds commits a
        # new snapshot with next_frontier_size > 0, run() continues)
        if not frontier and all(r <= rnd for r in injections):
            break
    return res
