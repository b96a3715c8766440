"""Deterministic synthetic web — the "network" for this sandbox (FIXTURES.md §6).

There is no network in the sandbox [SURVEY.md §0.3], so the fetcher target is
a pure function ``page(url_canon, cfg) -> (status, spans, links)``.  The SAME
function is imported by the Spark engine's mapInPandas fetcher and by the
sequential oracle, so span-sequence equality and URL-seen equality test the
*engine* (canonicalization, dedup, scheduling, Arrow plumbing), not the
generator.

Determinism: all randomness is ``blake2b(url + seed)`` — stable across
processes and Python hash randomization (unlike builtin ``hash``).
The web is closed and finite: child links are drawn from a bounded host set
with bounded path depth, and the engine additionally bounds BFS depth, so
rounds-to-frontier-exhaustion is a fixed value per (seed list, config).
"""

from __future__ import annotations

from functools import lru_cache
from hashlib import blake2b

from crawlspark.config import CrawlConfig

_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu"
).split()

# Link shape: a page has hash % OUT_DEGREE_MOD links (0..7), and a link stays
# on its page's host with probability SAME_HOST_PCT / 100.
OUT_DEGREE_MOD = 8
SAME_HOST_PCT = 70


def stable_hash(s: str, seed: int = 42) -> int:
    """64-bit deterministic hash of a string (process-stable)."""
    d = blake2b(s.encode("utf-8"), digest_size=8, key=str(seed).encode()).digest()
    return int.from_bytes(d, "big")


@lru_cache(maxsize=64)
def _hosts_cached(n: int) -> tuple[str, ...]:
    # keyed on web_hosts alone, so configs of one web size share an entry:
    # page() runs once per fetched URL, and rebuilding a web_hosts-sized
    # list per call made the "fetch" O(hosts) per URL — measured 790 us/URL
    # at the bench's 2,000 hosts vs ~15 us with the cache, i.e. the
    # dominant cost of the whole fetch stage was this list comprehension.
    return tuple(f"host{i:02d}.example" for i in range(n))


def hosts(cfg: CrawlConfig) -> list[str]:
    return list(_hosts_cached(cfg.web_hosts))


def page(url_canon: str, cfg: CrawlConfig) -> tuple[int, list[dict], list[str]]:
    """Fetch+parse a synthetic page.

    Returns (status, spans, links):
      status — 200, or 404 for ~2% of URLs (no spans/links emitted then);
      spans  — interleaved text/media span dicts, offsets 0..n-1 in document
               order (the BASELINE.json:15 invariant surface);
      links  — raw hrefs as they would appear in the page: *relative* with
               probability ~1/2 (exercising C8 resolution) else absolute,
               some with canonicalization traps (uppercase host, fragments,
               unsorted query) so the canonicalizer is load-bearing.
    """
    # scaling-calibration burn (CrawlConfig.fetch_cpu_work): deterministic
    # extra hashing per URL — same cost for every URL, zero output effect
    for j in range(cfg.fetch_cpu_work):
        stable_hash(url_canon, cfg.seed + j + 1)

    h = stable_hash(url_canon, cfg.seed)
    if h % 50 == 0:
        return 404, [], []

    all_hosts = _hosts_cached(cfg.web_hosts)
    own_host = url_canon.split("://", 1)[1].split("/", 1)[0].split(":", 1)[0]

    # --- links -------------------------------------------------------------
    out_degree = h % OUT_DEGREE_MOD
    links: list[str] = []
    for i in range(out_degree):
        hi = stable_hash(f"{url_canon}#link{i}", cfg.seed)
        if cfg.hot_host is not None and hi % 2 == 0:
            child_host = cfg.hot_host  # skew fixture: ~50% of links → one host
        elif (hi % 100) < SAME_HOST_PCT:
            child_host = own_host
        else:
            child_host = all_hosts[hi % len(all_hosts)]
        seg_a = _VOCAB[hi % len(_VOCAB)]
        seg_b = (hi >> 8) % 97
        trap = hi % 7
        if child_host == own_host and trap in (0, 1, 2):
            # relative href — resolved against the page URL (C8)
            href = f"../{seg_a}/p{seg_b}" if trap == 0 else f"{seg_a}/p{seg_b}"
        elif trap == 3:
            href = f"HTTP://{child_host.upper()}/{seg_a}/p{seg_b}#frag"
        elif trap == 4:
            href = f"http://{child_host}:80/{seg_a}/p{seg_b}?b=2&a=1"
        elif trap == 5:
            href = f"http://{child_host}/{seg_a}/./x/../p{seg_b}"
        else:
            href = f"http://{child_host}/{seg_a}/p{seg_b}"
        links.append(href)

    # --- interleaved text/media spans ---------------------------------------
    n_spans = 2 + (h >> 16) % 5  # 2..6 spans, ≥1 text and ≥1 media
    spans: list[dict] = []
    for i in range(n_spans):
        si = stable_hash(f"{url_canon}#span{i}", cfg.seed)
        if i % 2 == 0:
            words = " ".join(
                _VOCAB[(si >> (4 * j)) % len(_VOCAB)] for j in range(3 + si % 4)
            )
            spans.append(
                {"kind": "text", "text": words, "media_ref": None, "offset": i}
            )
        else:
            spans.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": f"{url_canon.rstrip('/')}/img{i}.png",
                    "offset": i,
                }
            )
    return 200, spans, links


def robots_table(cfg: CrawlConfig) -> list[dict]:
    """Synthetic per-host robots + politeness rules (FIXTURES.md §4):
    crawl_delay = 1 + (hash(host) mod 5); ~10% of hosts disallow /private;
    ~2% (at least 1 in the default 20-host fixture when hash lands) banned.
    """
    rows = []
    for hname in hosts(cfg):
        hh = stable_hash("robots:" + hname, cfg.seed)
        rules = [{"allow": True, "prefix": "/"}]
        if hh % 10 == 0:
            rules.insert(0, {"allow": False, "prefix": "/" + _VOCAB[hh % len(_VOCAB)]})
        rows.append(
            {
                "host": hname,
                "rules": rules,
                "crawl_delay": float(1 + hh % 5),
                "banned": hh % 50 == 1,
            }
        )
    if cfg.hot_host is not None and cfg.hot_host not in {r["host"] for r in rows}:
        rows.append(
            {
                "host": cfg.hot_host,
                "rules": [{"allow": True, "prefix": "/"}],
                "crawl_delay": 1.0,
                "banned": False,
            }
        )
    return rows


def seed_list(cfg: CrawlConfig, n: int = 100) -> list[str]:
    """Seed URLs with canonicalization traps (FIXTURES.md §5): uppercase
    hosts, :80 ports, fragments, unsorted queries, dot-segments, duplicates
    differing only in those ways — so round-0 dedup is a real test."""
    all_hosts = hosts(cfg)
    seeds = []
    for i in range(n):
        hname = all_hosts[i % len(all_hosts)]
        # variants 0-2 share one host-derived word → they canonicalize to the
        # SAME URL (genuine duplicates exercising round-0 dedup); 3-4 differ.
        host_word = _VOCAB[stable_hash(f"seedhost:{hname}", cfg.seed) % len(_VOCAB)]
        word = _VOCAB[stable_hash(f"seed{i}", cfg.seed) % len(_VOCAB)]
        variant = i % 5
        if variant == 0:
            seeds.append(f"http://{hname}/{host_word}/start")
        elif variant == 1:
            seeds.append(f"HTTP://{hname.upper()}/{host_word}/start#top")  # dup
        elif variant == 2:
            seeds.append(f"http://{hname}:80/{host_word}/start")  # dup
        elif variant == 3:
            seeds.append(f"http://{hname}/{word}/a/../start?z=1&a=2")
        else:
            seeds.append(f"http://{hname}/{word}/start/deep")
    return seeds
