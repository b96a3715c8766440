"""SURVEY.md §5 layer 1: robots matcher vs urllib.robotparser on generated
rule sets, plus longest-prefix golden cases."""

from __future__ import annotations

import urllib.robotparser

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from crawlspark.functions.robots import allowed, allowed_series, path_of


def test_golden_longest_prefix():
    rules = [
        {"allow": True, "prefix": "/"},
        {"allow": False, "prefix": "/private"},
        {"allow": True, "prefix": "/private/ok"},
    ]
    assert allowed("/index", rules)
    assert not allowed("/private/x", rules)
    assert allowed("/private/ok/y", rules)  # longer Allow overrides Disallow
    assert allowed("/anything", None)
    assert allowed("/anything", [])


def test_tie_prefers_allow():
    rules = [
        {"allow": False, "prefix": "/a"},
        {"allow": True, "prefix": "/a"},
    ]
    assert allowed("/a/x", rules)


def test_path_of():
    assert path_of("http://h.example/a/b?q=1") == "/a/b?q=1"
    assert path_of("http://h.example") == "/"


_SEGMENTS = st.lists(
    st.sampled_from(["a", "b", "private", "data", "x1"]), min_size=1, max_size=3
)


@settings(max_examples=100, deadline=None)
@given(
    rule_specs=st.lists(
        st.tuples(st.booleans(), _SEGMENTS), min_size=0, max_size=5
    ),
    path_segs=_SEGMENTS,
)
def test_matches_urllib_robotparser(rule_specs, path_segs):
    """Property: our longest-prefix matcher agrees with the stdlib parser on
    prefix-only rule sets (no wildcards).  robotparser implements RFC 9309
    longest-match, the same [typical] semantics SURVEY.md §2.5 adopts."""
    # stdlib robotparser is FIRST-match in file order (pre-RFC-9309); feeding
    # it rules longest-first with Allow before Disallow on ties makes its
    # first-match equal RFC 9309 longest-match — which is what we implement.
    rules = []
    for allow_flag, segs in rule_specs:
        prefix = "/" + "/".join(segs)
        rules.append({"allow": allow_flag, "prefix": prefix})
    lines = ["User-agent: *"] + [
        ("Allow: " if r["allow"] else "Disallow: ") + r["prefix"]
        for r in sorted(rules, key=lambda r: (-len(r["prefix"]), not r["allow"]))
    ]
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(lines)
    path = "/" + "/".join(path_segs)
    assert allowed(path, rules) == rp.can_fetch("*", "http://h.example" + path)


def test_allowed_series_matches_scalar():
    rules_a = [{"allow": True, "prefix": "/"}]
    rules_b = [
        {"allow": True, "prefix": "/"},
        {"allow": False, "prefix": "/private"},
    ]
    paths = pd.Series(["/x", "/private/1", "/private", "/pub"])
    rules = pd.Series([rules_a, rules_b, rules_b, rules_b])
    got = allowed_series(paths, rules)
    assert got.tolist() == [True, False, False, True]


def test_wildcard_patterns():
    """RFC 9309 §2.2.2: '*' spans any characters, '$' anchors the end."""
    rules = [
        {"allow": True, "prefix": "/"},
        {"allow": False, "prefix": "/*.pdf$"},
        {"allow": False, "prefix": "/private/*/drafts"},
    ]
    assert not allowed("/docs/report.pdf", rules)
    assert allowed("/docs/report.pdf.html", rules)  # $ anchor holds
    assert not allowed("/private/alice/drafts", rules)
    assert not allowed("/private/alice/drafts/x", rules)  # prefix after match
    assert allowed("/private/alice/published", rules)


def test_wildcard_longest_pattern_wins():
    rules = [
        {"allow": False, "prefix": "/a/*"},
        {"allow": True, "prefix": "/a/*/public"},
    ]
    assert allowed("/a/x/public", rules)
    assert not allowed("/a/x/secret", rules)


def test_dollar_only_and_star_only():
    assert not allowed("/", [{"allow": False, "prefix": "/$"}])
    assert allowed("/x", [{"allow": False, "prefix": "/$"}])
    assert not allowed("/anything", [{"allow": False, "prefix": "/*"}])


def test_anchored_repeated_suffix():
    """$-anchored patterns whose final literal occurs more than once must
    match via the *last* occurrence, not the first (greedy-first-occurrence
    scanning wrongly rejected these in round 1)."""
    from crawlspark.functions.robots import _pattern_matches

    assert _pattern_matches("/a.pdf.pdf", "/*.pdf$")
    assert _pattern_matches("/axbxb", "/a*b$")
    assert not _pattern_matches("/a.pdfx", "/*.pdf$")
    assert _pattern_matches("/abb", "/a*b*b$")
    assert not _pattern_matches("/ab", "/a*b*b$")
    assert not _pattern_matches("/ab", "/a*ab$")  # suffix may not overlap prefix
    assert _pattern_matches("/fish.php?id=anything", "/fish*.php")
    assert not allowed("/a.pdf.pdf", [{"allow": False, "prefix": "/*.pdf$"}])


def test_pattern_matches_regex_model():
    """Property check: _pattern_matches must agree with the obvious regex
    translation of RFC 9309 patterns (* -> .*, trailing $ -> \\Z) on
    generated pattern/path pairs."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawlspark.functions.robots import _pattern_matches

    seg = st.text(alphabet="ab./p", min_size=0, max_size=4)

    @st.composite
    def pattern(draw):
        parts = draw(st.lists(seg, min_size=1, max_size=4))
        p = "/" + "*".join(parts)
        if draw(st.booleans()):
            p += "$"
        return p

    @settings(max_examples=300, deadline=None)
    @given(pat=pattern(), path=st.text(alphabet="ab./p", min_size=0, max_size=12))
    def check(pat, path):
        path = "/" + path
        anchored = pat.endswith("$")
        core = pat[:-1] if anchored else pat
        rx = ".*".join(re.escape(s) for s in core.split("*"))
        rx = "\\A" + rx + ("\\Z" if anchored else "")
        expect = re.search(rx, path) is not None
        assert _pattern_matches(path, pat) == expect, (pat, path)

    check()


# Characters that are wildcards in a robots pattern or special in a regex.
_WILD_ALPHABET = "ab/.p*$?+()[\\"


@st.composite
def _rule_set(draw):
    """None, [] or up to 5 rules; prefixes over ``_WILD_ALPHABET`` (so `*`
    and `$` land in the middle and at the end), some null, and some rules
    repeated with the opposite verdict to force equal-length ties."""
    if draw(st.booleans()) and draw(st.booleans()):
        return draw(st.sampled_from([None, []]))
    rules = []
    for _ in range(draw(st.integers(1, 5))):
        prefix = draw(
            st.none() | st.text(alphabet=_WILD_ALPHABET, max_size=6).map(lambda s: "/" + s)
        )
        allow = draw(st.booleans())
        rules.append({"allow": allow, "prefix": prefix})
        if draw(st.booleans()):
            rules.append({"allow": not allow, "prefix": prefix})
    return rules


_URL = st.tuples(
    st.sampled_from(["http://h.example", "https://h.example:8080"]),
    st.text(alphabet=_WILD_ALPHABET, max_size=10),
).map(lambda t: t[0] + t[1])


def test_allowed_col_matches_allowed(spark):
    """Property: the JVM matcher (`allowed_col` over `path_col`) gives the
    oracle's verdict (`allowed` over `path_of`) on wildcard, anchored and
    regex-metacharacter patterns. Each Hypothesis example is a batch of
    (url, rules) rows evaluated in ONE DataFrame."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from crawlspark.functions.robots import allowed_col, path_col, pattern_regex

    rule_t = pa.struct(
        [("allow", pa.bool_()), ("prefix", pa.string()), ("regex", pa.string())]
    )
    schema = pa.schema(
        [("i", pa.int32()), ("url", pa.string()), ("rules", pa.list_(rule_t))]
    )

    @settings(max_examples=40, deadline=None)
    @given(batch=st.lists(st.tuples(_URL, _rule_set()), min_size=1, max_size=40))
    def check(batch):
        rows = [
            {
                "i": i,
                "url": url,
                "rules": None
                if rules is None
                else [dict(r, regex=pattern_regex(r["prefix"])) for r in rules],
            }
            for i, (url, rules) in enumerate(batch)
        ]
        # a pyarrow Table keeps the batch a LocalRelation: no Python worker
        got = {
            r["i"]: (r["path"], r["allowed"])
            for r in spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema))
            .select(
                "i",
                path_col(F.col("url")).alias("path"),
                allowed_col(path_col(F.col("url")), F.col("rules")).alias("allowed"),
            )
            .collect()
        }
        for i, (url, rules) in enumerate(batch):
            path = path_of(url)
            assert got[i] == (path, allowed(path, rules)), (url, rules)

    check()

