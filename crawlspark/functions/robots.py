"""Robots/politeness matching (SURVEY.md §2.5, R1–R3).

Semantics: RFC 9309 longest-prefix match — among all rules whose prefix
matches the URL path, the longest prefix wins; ties prefer Allow; no match →
allowed. [typical — SURVEY.md §0.1 item 4; the reference checkout was empty.]

The reference matcher is one pure function (`allowed`), used by the
sequential oracle, with a pandas batch form (`allowed_series`) for
microbenchmarks. The Spark engine matches in the JVM instead: `allowed_col`
is the same rule as a column expression over the broadcast robots dim's
``rules`` array (R1), whose structs carry the `pattern_regex` of each
wildcard pattern, so admission needs no Python worker. Host budgets (P3) are
column expressions in ``engine.run_round``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "allowed",
    "allowed_col",
    "allowed_series",
    "path_col",
    "path_of",
    "pattern_regex",
]


def path_of(url_canon: str) -> str:
    """Path+query of a canonical URL (rules match on the path part)."""
    rest = url_canon.split("://", 1)[1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else "/"


def path_col(url_canon: Column) -> Column:
    """`path_of` as a JVM expression; a null or empty URL gives ``/``."""
    rest = F.substr(url_canon, F.instr(url_canon, "://") + 3)
    slash = F.instr(rest, "/")
    return F.when(slash > 0, F.substr(rest, slash)).otherwise("/")


def _is_wildcard(pattern: str) -> bool:
    return "*" in pattern or pattern.endswith("$")


def pattern_regex(pattern: str | None) -> str | None:
    """Regex equivalent of a `_pattern_matches` wildcard pattern, or None for
    a literal prefix (matched with ``startswith``). Every character that is
    not an ASCII letter or digit is escaped with a backslash, which both Java
    and Python read as that literal character; ``*`` becomes ``.*`` and a
    trailing ``$`` becomes the end-of-input anchor ``\\z``."""
    if pattern is None or not _is_wildcard(pattern):
        return None
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern

    def esc(seg: str) -> str:
        return "".join(
            c if c.isascii() and c.isalnum() else "\\" + c for c in seg
        )

    return "(?s)^" + ".*".join(esc(s) for s in core.split("*")) + (
        "\\z" if anchored else ""
    )


def allowed_col(path: Column, rules: Column) -> Column:
    """`allowed` as a JVM expression over an ``array<struct<allow, prefix,
    regex>>`` column: one ``aggregate`` pass keeps the (length, allow) of the
    best matching rule — longest pattern wins, a tie prefers Allow. A null
    ``regex`` matches as a literal prefix; null prefixes are skipped; null or
    empty rules mean allowed."""

    def step(acc: Column, r: Column) -> Column:
        prefix = r["prefix"]
        hit = (
            F.when(prefix.isNull(), F.lit(False))
            .when(r["regex"].isNull(), path.startswith(prefix))
            .otherwise(F.regexp(path, r["regex"]))
        )
        plen = F.length(prefix)
        allow = F.coalesce(r["allow"], F.lit(False))
        better = hit & (
            (plen > acc["len"]) | ((plen == acc["len"]) & allow)
        )
        return F.when(
            better, F.struct(plen.alias("len"), allow.alias("allow"))
        ).otherwise(acc)

    init = F.struct(F.lit(-1).alias("len"), F.lit(True).alias("allow"))
    return F.coalesce(
        F.aggregate(rules, init, step)["allow"], F.lit(True)
    )


def _pattern_matches(path: str, pattern: str) -> bool:
    """RFC 9309 §2.2.2 pattern match: literal prefix with `*` (any run of
    characters) and a trailing `$` anchoring the end of the path.

    Leftmost (greedy-first) matching of the middle segments is complete for
    this wildcard language; the LAST segment of a $-anchored pattern must be
    matched as a path *suffix* (starting at or after the position the middle
    segments reached), not at its first occurrence — `/a.pdf.pdf` matches
    `/*.pdf$` even though the first `.pdf` occurrence is not at the end."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    segs = pattern.split("*")
    if not path.startswith(segs[0]):
        return False
    if len(segs) == 1:
        return path == segs[0] if anchored else True
    pos = len(segs[0])
    last = segs[-1]
    for seg in segs[1:-1]:
        if seg:
            i = path.find(seg, pos)
            if i == -1:
                return False
            pos = i + len(seg)
    if not anchored:
        return (not last) or path.find(last, pos) != -1
    if not last:  # trailing '*' absorbs the rest
        return True
    return path.endswith(last) and len(path) - len(last) >= pos


def allowed(path: str, rules) -> bool:
    """RFC 9309 match: among matching rules the LONGEST pattern wins (length
    counted on the pattern text, per §2.2.2's "most specific"), ties prefer
    Allow; no match → allow. Patterns are prefixes, optionally with `*`
    wildcards and a `$` end anchor.

    ``rules`` may be a list of dicts (oracle) or a numpy array of dicts (how
    Arrow hands an array<struct> column to a pandas UDF) — hence len(), not
    truthiness."""
    if rules is None or len(rules) == 0:
        return True
    best_len = -1
    best_allow = True
    for r in rules:
        # r is a dict {"allow","prefix"} (oracle) or a Row (Spark join output)
        prefix = r["prefix"]
        if prefix is None:
            continue
        if _is_wildcard(prefix):
            hit = _pattern_matches(path, prefix)
        else:
            hit = path.startswith(prefix)
        if hit:
            plen = len(prefix)
            al = bool(r["allow"])
            if plen > best_len or (plen == best_len and al):
                best_len, best_allow = plen, al
    return best_allow


def allowed_series(paths: pd.Series, rules_col: pd.Series) -> pd.Series:
    """Vectorized batch form: most hosts carry the single catch-all
    ``[{allow:True, prefix:'/'}]`` rule — detected once per batch and
    short-circuited; only multi-rule hosts pay the per-row match."""
    n = len(paths)
    out = pd.Series(True, index=paths.index)
    trivial = rules_col.map(
        lambda rs: rs is None
        or (len(rs) == 1 and bool(rs[0]["allow"]) and rs[0]["prefix"] == "/")
    )
    idx = out.index[~trivial]
    if len(idx):
        out.loc[idx] = [
            allowed(p, rs)
            for p, rs in zip(paths.loc[idx], rules_col.loc[idx])
        ]
    return out if n else pd.Series(dtype=bool)
