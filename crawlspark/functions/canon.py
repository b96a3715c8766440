"""URL canonicalization (SURVEY.md §2.2, operators C1–C11).

The correctness keystone: URL-seen-set equality and crawl-ordering equality
(BASELINE.json:14) are both decided by this module, because URL identity
everywhere is ``xxhash64(canonicalize(url))``.

Contract (BASELINE.json:6): RFC 3986 lowercase / strip-fragment / sort-query,
computed in vectorized Arrow UDFs — no per-row Python at the Spark layer.
The remaining RFC 3986 §6 rules (default-port removal, percent-encoding
normalization, dot-segment removal, empty-path → "/") are the standard set of
the public crawler literature (Mercator [Heydon & Najork, WWW 1999]; RFC 3986
§6.2) and are marked [typical] in SURVEY.md §2.2 pending a populated
reference checkout (which was empty — SURVEY.md §0).

Design: one pure-Python scalar (`canonicalize_url`) shared verbatim with the
sequential oracle, wrapped in a *vectorized* pandas path
(`canonicalize_series`) with a regex fast path: URLs that are already in
canonical shape (the overwhelming majority of links emitted by a crawl of a
mostly-canonical web) are detected with vectorized pandas string ops and
passed through untouched; only the rest pay the per-element parse.  The Spark
surface is Arrow-batched pandas UDFs (`canonicalize_udf`, `resolve_udf`) plus
JVM-side built-ins for hashing/host extraction (`with_url_identity`), so the
hot path after canonicalization stays inside whole-stage codegen.
"""

from __future__ import annotations

import re
from operator import itemgetter
from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd

from crawlspark.config import NUM_HOST_BUCKETS

__all__ = [
    "canonicalize_url",
    "canonicalize_series",
    "resolve_series",
    "canonicalize_udf",
    "resolve_udf",
    "with_url_identity",
    "host_of",
]

_ALLOWED_SCHEMES = ("http", "https")  # C11 scheme filter [typical]
_DEFAULT_PORTS = {"http": "80", "https": "443"}  # C4 [typical, RFC 3986 §6.2.3]
_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")


def _normalize_percent(s: str) -> str:
    """C5: uppercase %XX hex; decode unreserved characters (RFC 3986 §6.2.2)."""

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        if ch in _UNRESERVED:
            return ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """C6: RFC 3986 §5.2.4 remove_dot_segments, literal transcription."""
    out: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if out:
                out.pop()
        elif path == "/..":
            path = "/"
            if out:
                out.pop()
        elif path in (".", ".."):
            path = ""
        else:
            i = path.find("/", 1) if path.startswith("/") else path.find("/")
            if i == -1:
                out.append(path)
                path = ""
            else:
                out.append(path[:i])
                path = path[i:]
    return "".join(out)


def canonicalize_url(url: str | None) -> str | None:
    """Pure scalar canonicalizer (C1–C7, C11). Returns None for invalid or
    non-http(s) URLs.  Shared verbatim by the Spark engine (inside Arrow
    batches) and the sequential oracle, so URL identity is one function.
    """
    if not url:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()  # C1
    if scheme not in _ALLOWED_SCHEMES:  # C11
        return None
    host = (parts.hostname or "").lower()  # C1
    if not host:
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS[scheme]:  # C4
        netloc = f"{host}:{port}"
    path = _remove_dot_segments(_normalize_percent(parts.path))  # C5, C6
    if not path:
        path = "/"  # C7
    query = ""
    if parts.query:
        # C3: stable sort by key — duplicate keys keep original relative order
        pairs = parse_qsl(parts.query, keep_blank_values=True)
        pairs.sort(key=itemgetter(0))
        query = urlencode(pairs)
    # C2: fragment dropped.
    return urlunsplit((scheme, netloc, path, query, ""))


# Fast-path detector: already-canonical URLs (lowercase scheme+host, explicit
# path, no port/query/fragment/percent/dot-segments).  Matched vectorized.
_SIMPLE_RE = re.compile(r"^https?://[a-z0-9.\-]+/[A-Za-z0-9/_\-~.]*$")


def canonicalize_series(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization over a pandas Series (Arrow batch body).

    pandas `.str` ops classify each URL; canonical-shaped URLs pass through
    with zero Python-per-row work, the rest go through `canonicalize_url`.
    """
    s = urls.astype("object").fillna("")
    stripped = s.str.strip()
    simple = stripped.str.match(_SIMPLE_RE, na=False) & ~stripped.str.contains(
        "/.", regex=False
    )
    out = stripped.where(simple, None)
    slow_idx = out.index[~simple]
    if len(slow_idx):
        out.loc[slow_idx] = stripped.loc[slow_idx].map(canonicalize_url)
    return out


def resolve_series(base: pd.Series, href: pd.Series) -> pd.Series:
    """C8: vectorized relative-URL resolution + canonicalization for
    extracted links: canonicalize(urljoin(page_url, href)). Absolute hrefs
    (the majority on a real web) skip the per-element urljoin entirely —
    only relative links pay the python parse."""
    href = href.astype("object")
    base = base.astype("object")
    absolute = href.str.match(r"^[hH][tT][tT][pP][sS]?://", na=False)
    joined = href.where(absolute, None)
    rel_idx = joined.index[~absolute]
    if len(rel_idx):
        joined.loc[rel_idx] = [
            urljoin(b, h) if (b and h) else None
            for b, h in zip(base.loc[rel_idx], href.loc[rel_idx])
        ]
    return canonicalize_series(joined)


def host_of(url_canon: str) -> str:
    """Scalar host extraction from a canonical URL (oracle-side twin of the
    JVM `parse_url(url, 'HOST')` used by `with_url_identity`)."""
    rest = url_canon.split("://", 1)[1]
    authority = rest.split("/", 1)[0]
    return authority.split(":", 1)[0]


# ---------------------------------------------------------------------------
# Spark surface — imported lazily so the oracle can import this module JVM-free
# ---------------------------------------------------------------------------

def canonicalize_udf():
    """Arrow-batched pandas UDF: url -> canonical url (or NULL)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _canon(urls: pd.Series) -> pd.Series:
        return canonicalize_series(urls)

    return _canon


def resolve_udf():
    """Arrow-batched pandas UDF: (base_canon, href) -> canonical child url."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _resolve(base: pd.Series, href: pd.Series) -> pd.Series:
        return resolve_series(base, href)

    return _resolve


def with_url_identity(df):
    """C9/C10 — JVM-side identity columns over the already-canonical
    ``url_canon``, appended after ``df``'s columns: url_hash =
    xxhash64(url_canon), host = parse_url(…,'HOST'), host_hash =
    pmod(xxhash64(host), config.NUM_HOST_BUCKETS).  Pure built-ins: stays in
    whole-stage codegen, no Python boundary. SQL text, not Column-API
    calls, to keep plan construction cheap (engine module docstring)."""
    return df.selectExpr(
        "*", "xxhash64(url_canon) AS url_hash", "parse_url(url_canon, 'HOST') AS host"
    ).selectExpr(
        "*", f"CAST(pmod(xxhash64(host), {NUM_HOST_BUCKETS}) AS INT) AS host_hash"
    )
