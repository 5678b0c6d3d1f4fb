"""Unit tests: canonicalization, outlinks, bloom filter, politeness, robots."""

import numpy as np
from pyspark.sql import functions as F

from crawler_spark.frontier.canon import (
    canon_expr,
    canonicalize_url,
    extract_outlinks,
    flat_outlinks,
    host_expr,
)
from crawler_spark.frontier.politeness import apply_politeness_budget, robots_allowed
from crawler_spark.frontier.seen import BloomState, _positions


def _test_bits(bitmap: np.ndarray, hashes: np.ndarray, n_bits: int) -> np.ndarray:
    """Numpy Bloom membership test: the reference the JVM probe must match."""
    pos = _positions(hashes, n_bits)  # (n, K)
    words = pos >> 6
    shifts = (pos & 63).astype(np.uint64)
    hit = (bitmap[words] >> shifts) & np.uint64(1)
    return hit.all(axis=1)


def test_canonicalize_url():
    assert canonicalize_url("HTTPS://Host0.EXAMPLE:443/p/1#frag") == "https://host0.example/p/1"
    assert canonicalize_url("http://a.example:80/x?q=1#f") == "http://a.example/x?q=1"
    assert canonicalize_url("http://a.example:8080/") == "http://a.example:8080/"
    assert canonicalize_url("https://a.example") == "https://a.example/"
    assert canonicalize_url("") == ""
    # query order preserved
    assert canonicalize_url("https://a.example/x?b=2&a=1") == "https://a.example/x?b=2&a=1"


def test_extract_outlinks_order_and_perpage_distinct():
    html = (
        '<a href="/b">1</a> <a href="https://other.example/z">2</a>'
        '<a href="/b">dup</a> <a href="#frag">skip</a>'
        '<a href="HTTPS://A.EXAMPLE/c">3</a> <a class="k" href="/d">4</a>'
    )
    out = extract_outlinks("https://a.example/root", html)
    assert out == [
        "https://a.example/b",
        "https://other.example/z",
        "https://a.example/c",
        "https://a.example/d",
    ]


def _outlink_lists(df):
    """flat_outlinks rows of ``df(url, html)`` regrouped into one list per
    page in position order (positions must run 0..n-1)."""
    by_page = {}
    for r in flat_outlinks(df, ["url"], url_col="url").collect():
        by_page.setdefault(r["url"], {})[r["pos"]] = r["child_url"]
    return {u: [pos[i] for i in range(len(pos))] for u, pos in by_page.items()}


def test_canon_and_outlinks_spark_match_kernel(spark):
    rows = [
        ("HTTPS://Host0.EXAMPLE:443/p/1#frag", '<a href="/x">x</a><a href="/x">d</a>'),
        ("https://h.example/a/b", '<a href="c">rel</a><a href="mailto:x@y">m</a>'),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = df.select(canon_expr(F.col("url")).alias("c")).collect()
    links = _outlink_lists(df)
    for (url, html), r in zip(rows, got):
        assert r["c"] == canonicalize_url(url)
        assert links.get(url, []) == extract_outlinks(url, html)
    # host from canonical url via JVM parse_url
    hosts = df.select(host_expr(canon_expr(F.col("url"))).alias("h")).collect()
    assert hosts[0]["h"] == "host0.example"


def test_bloom_no_false_negatives_and_low_fp(spark):
    bs = BloomState(n_buckets=4, bits_per_bucket=1 << 14)
    rng = np.random.default_rng(7)
    hashes = rng.integers(-(2**62), 2**62, size=500).tolist()
    new = spark.createDataFrame(
        [(int(h) % 4, int(h)) for h in hashes], "bucket int, url_hash long"
    )
    bloom = bs.merge(bs.empty(spark), new)
    # probe the same hashes → all maybe_seen (no false negatives)
    cands = spark.createDataFrame(
        [(int(h) % 4, int(h), f"u{h}") for h in hashes],
        "bucket int, url_hash long, url_canon string",
    )
    probed = bs.probe_broadcast(cands, bloom)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # unseen hashes → mostly not maybe_seen
    other = rng.integers(-(2**62), 2**62, size=500)
    cands2 = spark.createDataFrame(
        [(int(h) % 4, int(h), f"v{h}") for h in other],
        "bucket int, url_hash long, url_canon string",
    )
    fp = bs.probe_broadcast(cands2, bloom).filter(F.col("maybe_seen")).count()
    assert fp < 25  # <5% at this sizing


def test_jvm_probe_matches_numpy_kernel_bit_exact(spark):
    """The r3 pure-JVM broadcast probe (bloom_test_expr) must reproduce the
    numpy _test_bits kernel bit-for-bit — a false NEGATIVE would admit a
    duplicate URL past the exactness backstop. Covers negative hashes and
    the extremes of the signed-64 range (where the unsigned-shift h2
    derivation differs between naive and correct translations)."""
    n_bits = 1 << 14
    bs = BloomState(n_buckets=4, bits_per_bucket=n_bits)
    rng = np.random.default_rng(11)
    seed_hashes = rng.integers(-(2**63), 2**63 - 1, size=400).tolist() + [
        0, -1, 2**63 - 1, -(2**63), 1,
    ]
    seed = spark.createDataFrame(
        [(int(h) % 4, int(h)) for h in seed_hashes], "bucket int, url_hash long"
    )
    bloom = bs.merge(bs.empty(spark), seed)
    probe_hashes = seed_hashes[:150] + rng.integers(
        -(2**63), 2**63 - 1, size=600
    ).tolist()
    cands = spark.createDataFrame(
        [(int(h) % 4, int(h), f"u{h}") for h in probe_hashes],
        "bucket int, url_hash long, url_canon string",
    )
    got = {
        r["url_hash"]: r["maybe_seen"]
        for r in bs.probe_broadcast(cands, bloom).collect()
    }
    bitmaps = {
        int(r["bucket"]): np.frombuffer(bytes(r["bitmap"]), dtype=np.uint64)
        for r in bloom.collect()
    }
    for h in probe_hashes:
        want = bool(
            _test_bits(bitmaps[int(h) % 4], np.array([h], dtype=np.int64), n_bits)[0]
        )
        assert got[int(h)] == want, h
    # and every seeded hash probes positive (no false negatives)
    assert all(got[int(h)] for h in probe_hashes[:150])


def test_robots_allowed(spark):
    frontier = spark.createDataFrame(
        [
            ("https://a.example/p/9x", "a.example"),
            ("https://a.example/ok", "a.example"),
            ("https://b.example/p/9", "b.example"),
            ("https://norobots.example/p/9", "norobots.example"),
        ],
        "url_canon string, host string",
    )
    robots = spark.createDataFrame(
        [("a.example", ["/p/9"]), ("b.example", [])],
        "host string, disallow_prefixes array<string>",
    )
    verdict = robots_allowed(frontier, robots)
    assert verdict.count() == 4  # a verdict column, not a filter
    got = {r["url_canon"] for r in verdict.filter("allowed").collect()}
    assert got == {
        "https://a.example/ok",
        "https://b.example/p/9",
        "https://norobots.example/p/9",
    }


def test_robots_matches_path_plus_query(spark):
    """RFC 9309 matches rules against path?query — a 'Disallow: /search?q='
    rule must block /search?q=... but not /search?lang=...; fragments are
    stripped; a bare-authority URL matches as path '/'."""
    frontier = spark.createDataFrame(
        [
            ("https://q.example/search?q=leak", "q.example"),
            ("https://q.example/search?lang=en", "q.example"),
            ("https://q.example/search", "q.example"),
            ("https://q.example/page?q=ok#frag", "q.example"),
            ("https://root.example", "root.example"),
        ],
        "url_canon string, host string",
    )
    robots = spark.createDataFrame(
        [("q.example", ["/search?q="]), ("root.example", ["/"])],
        "host string, disallow_prefixes array<string>",
    )
    got = {r["url_canon"] for r in robots_allowed(frontier, robots).filter("allowed").collect()}
    assert got == {
        "https://q.example/search?lang=en",
        "https://q.example/search",
        "https://q.example/page?q=ok#frag",
    }


def test_crawl_delay_merged_star_groups(spark):
    """Crawl-delay in a SECOND star group (or behind a stacked UA header)
    still applies; first in merged document order wins."""
    from pyspark.sql import functions as F

    from crawler_spark.frontier.politeness import crawl_delay_expr

    bodies = [
        ("late", "User-agent: a\nCrawl-delay: 9\nUser-agent: *\nDisallow: /x\n"
                 "User-agent: b\nCrawl-delay: 7\nUser-agent: *\nCrawl-delay: 4"),
        ("stacked", "User-agent: c\nUser-agent: *\nCrawl-delay: 3"),
        ("first_wins", "User-agent: *\nCrawl-delay: 2\nUser-agent: *\nCrawl-delay: 8"),
        ("none", "User-agent: a\nCrawl-delay: 5"),
    ]
    df = spark.createDataFrame(bodies, "host string, robots_txt string")
    got = {
        r["host"]: r["d"]
        for r in df.select("host", crawl_delay_expr(F.col("robots_txt")).alias("d")).collect()
    }
    assert got == {"late": 4, "stacked": 3, "first_wins": 2, "none": None}


def test_politeness_budget_split(spark):
    rows = [
        ("h1", 0, 0, i, f"u{i}") for i in range(5)
    ] + [("h2", 0, 0, 10, "v0"), ("h1", 1, 0, 99, "low_prio")]
    frontier = spark.createDataFrame(
        [(h, p, r, s, u) for h, p, r, s, u in rows],
        "host string, priority int, round_added int, seq long, url_canon string",
    )
    politeness = spark.createDataFrame(
        [("h1", 3)], "host string, max_fetches_per_round int"
    )
    sched, defer = apply_politeness_budget(frontier, politeness, 16, cap=16)
    s = {r["url_canon"] for r in sched.collect()}
    d = {r["url_canon"] for r in defer.collect()}
    # h1: budget 3 → u0,u1,u2 (priority 0, seq order); low_prio deferred last
    assert s == {"u0", "u1", "u2", "v0"}
    assert d == {"u3", "u4", "low_prio"}


ADVERSARIAL_URLS = [
    "HTTPS://Host0.EXAMPLE:443/p/1#frag",
    "http://a.example:80/x?q=1#f",
    "http://a.example:8080/",
    "https://a.example",
    "",
    "https://a.example/x?b=2&a=1",
    "http://a.example:0080/x",          # leading-zero default port
    "http://user:pw@a.example/x",        # userinfo → slow path
    "http://[2001:db8::1]:8080/x",       # IPv6 → slow path
    "ftp://A.Example:21/f",              # non-http scheme keeps port logic
    "https://under_score.example/x",     # invalid host charset → slow path
    "   https://pad.example/x  ",        # surrounding whitespace
    "https://a.example/p?""",
    "relative/only",
    "//protocol.relative/x",
    "https://a.example:/emptyport",
    "javascript:void(0)",
]


def test_canon_batch_matches_kernel():
    """The vectorized batch kernel is byte-equal to the pure-Python kernel
    on adversarial URLs (fast path + every slow-path trigger)."""
    import pandas as pd

    from crawler_spark.frontier.canon import _canon_batch

    got = _canon_batch(pd.Series(ADVERSARIAL_URLS)).tolist()
    want = [canonicalize_url(u) for u in ADVERSARIAL_URLS]
    assert got == want


def test_outlinks_batch_matches_kernel(spark):
    pages = [
        ("https://a.example/root", '<a href="/b">1</a><a href="https://o.example/z">2</a>'
         '<a href="/b">dup</a><a href="#f">s</a><a href="HTTPS://A.EXAMPLE/c">3</a>'),
        ("https://h.example/a/b", '<a href="c">rel</a><a href="mailto:x">m</a>'
         '<a href="//proto.example/p">pr</a><a href="../up">up</a>'),
        ("https://e.example/", ""),
        ("https://n.example/", "<p>no links</p>"),
        ("https://q.example/x?y=1", '<a href="/only">one</a>'),
    ]
    links = _outlink_lists(spark.createDataFrame(pages, ["url", "html"]))
    got = [links.get(b, []) for b, _ in pages]
    want = [extract_outlinks(b, h) for b, h in pages]
    assert got == want


def test_canon_batch_hypothesis():
    import pandas as pd
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from crawler_spark.frontier.canon import _canon_batch

    url_st = st.one_of(
        st.from_regex(r"https?://[A-Za-z0-9.\-]{1,20}(:[0-9]{1,4})?(/[a-z0-9/.]{0,20})?(\?[a-z=&]{0,10})?(#[a-z]{0,5})?", fullmatch=True),
        st.text(alphabet="abc:/?#@.%", max_size=30),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(url_st, min_size=1, max_size=20))
    # empty host under a scheme outside urllib's uses_netloc list: the spec
    # drops the empty "//", so the fast path must not accept these rows
    @example(["http://0", "b://"])
    @example(["b:///p"])
    def inner(urls):
        want = []
        for u in urls:
            try:
                want.append(canonicalize_url(u))
            except ValueError:
                return  # kernel itself rejects (e.g. bad port) — skip
        got = _canon_batch(pd.Series(urls)).tolist()
        assert got == want

    inner()


def test_canon_expr_matches_kernel_adversarial(spark):
    """canon_expr (JVM codegen fast path + masked Arrow fallback) must be
    byte-equal to the pure-Python kernel row-for-row — including shapes
    where Java-regex and RE2 semantics could diverge (line-terminator code
    points vs `$`/`.`, port 0 / leading zeros, empty host) and every
    slow-path trigger. A Java-gate rejection is harmless (the Python kernel
    answers); a Java-gate ACCEPT with a different value is the bug class
    this test pins."""
    edge = [
        "http://a.example/x#f\u2028g",   # U+2028 in fragment: Java '.' stops, RE2 doesn't
        "http://a.example/b\u2028",      # U+2028 at end of path
        "http://a.example/b\u0085",      # NEL at end (Java '$' line-terminator quirk)
        "http://a.example:0/x",          # port 0 kept as :0
        "http://a.example:00080/x",      # >5 digits → slow path
        "http://",                       # empty host
        "HTTP://A.Example",              # no path at all
        "http://a.example/p?#",          # empty query and empty fragment
        "http://a.example/p?q#",         # empty fragment only
        "ht+p.x://a.example/",           # exotic-but-legal scheme charset
        "http://a\t.exam\nple/x",        # unsafe bytes removed before parse
        None,
    ]
    urls = ADVERSARIAL_URLS + edge
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["c"] for r in df.select(canon_expr(F.col("url")).alias("c")).collect()]
    want = [canonicalize_url(u) if u is not None else "" for u in urls]
    assert got == want


def test_outlinks_expr_matches_kernel_mixed(spark):
    """flat_outlinks on pages with all-fast hrefs and pages with a slow
    href (path-relative, non-http) — equal to the Python kernel either
    way."""
    pages = [
        ("https://a.example/root", '<a href="/x">1</a><a href="https://b.example/Y">2</a><a href="/x">d</a>'),
        ("https://c.example/d/e", '<a href="rel/page">r</a><a href="/abs">a</a>'),
        ("https://e.example/", "<p>none</p>"),
        ("https://f.example/", '<a href="ftp://files.example/f">non-http kept out</a><a href="/ok">k</a>'),
    ]
    links = _outlink_lists(spark.createDataFrame(pages, ["url", "html"]))
    got = [links.get(u, []) for u, _ in pages]
    want = [extract_outlinks(u, h) for u, h in pages]
    assert got == want


def test_flat_outlinks_matches_kernel(spark):
    """flat_outlinks (JVM fast path + Python slow-page routing) must be
    byte-identical to the pure-Python kernel on fast AND slow href shapes."""
    pages = [
        # pure fast shapes
        ("https://a.example/root", '<a href="/x">1</a><A HREF="HTTPS://B.Example:443/Y">2</A><a href="/x">dup</a>'),
        # fragment-only / filtered schemes
        ("https://a.example/p", '<a href="#top">f</a><a href="javascript:void(0)">j</a><a href="mailto:a@b">m</a>'),
        # slow: protocol-relative + path-relative + userinfo + bad port
        ("https://c.example/d/e", '<a href="//cdn.example/lib.js">pr</a><a href="sub/page">rel</a>'),
        ("http://u.example/", '<a href="http://user:pw@h.example/x">ui</a><a href="http://h.example:99999/">bp</a>'),
        # whitespace + entity-ish edge
        ("https://w.example/", '<a href="  /sp aced  ">w</a><a href="">empty</a>'),
        # no links at all
        ("https://none.example/", "<p>nothing here</p>"),
        # mixed fast+slow on one page (whole page must route to Python)
        ("https://m.example/base/", '<a href="/abs">a</a><a href="rel2">r</a><a href="https://ok.example/">o</a>'),
    ]
    from crawler_spark.frontier.canon import extract_outlinks, flat_outlinks

    df = spark.createDataFrame(pages, ["url_canon", "html"])
    got = {
        (r["url_canon"], r["pos"]): r["child_url"]
        for r in flat_outlinks(df, ["url_canon"]).collect()
    }
    want = {}
    for url, html in pages:
        for i, link in enumerate(extract_outlinks(url, html)):
            want[(url, i)] = link
    assert got == want


def test_robots_prefixes_expr_matches_oracle(spark):
    """robots.txt parsing (User-agent:* scope → Disallow prefixes): Spark
    built-ins vs a line-for-line Python oracle of RFC 9309 grouping —
    stacked UA lines share a group, and rules merge across every group
    naming ``*``."""
    import re

    from crawler_spark.frontier.politeness import robots_prefixes_expr

    def oracle(text: str) -> list[str]:
        lines = text.split("\n")
        is_ua = [ln.lstrip().lower().startswith("user-agent:") for ln in lines]
        gid, gids, star_gids = 0, [], set()
        for i, ln in enumerate(lines):
            if is_ua[i] and (i == 0 or not is_ua[i - 1]):
                gid += 1
            gids.append(gid)
            if is_ua[i] and ln.split(":", 1)[1].strip() == "*":
                star_gids.add(gid)
        out = []
        for i, ln in enumerate(lines):
            if is_ua[i] or gids[i] not in star_gids or gids[i] == 0:
                continue
            m = re.match(r"(?i)^\s*disallow\s*:\s*(\S*)", ln)
            if m and m.group(1):
                out.append(m.group(1))
        return out

    bodies = [
        # normal group with comment, empty Disallow, lowercase directive
        "# c\nUser-agent: *\nDisallow: /a\ndisallow: /B\nDisallow:\nAllow: /x",
        # star group after a named group; a later non-star group is excluded
        "User-agent: g\nDisallow: /g\nUser-agent: *\nDisallow: /z\nUser-agent: h\nDisallow: /h",
        # star group at EOF
        "User-agent: a\nDisallow: /1\nUser-agent: *\nDisallow: /tail",
        # no star group at all / empty file / whitespace-tolerant directive
        "User-agent: only\nDisallow: /only",
        "",
        "  User-Agent:   *  \n   DISALLOW:    /WS",
        # stacked UA: * and b share ONE group, so /b IS in star scope
        "User-agent: *\nUser-agent: b\nDisallow: /b",
        # two star groups: rules merge in document order (RFC 9309 §2.2.1)
        "User-agent: *\nDisallow: /one\nUser-agent: x\nDisallow: /x\n"
        "User-agent: *\nDisallow: /two",
        # stacked UA where * is second in the run
        "User-agent: y\nUser-agent: *\nDisallow: /shared",
        # preamble rule line before any group is ignored
        "Disallow: /floating\nUser-agent: *\nDisallow: /real",
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(bodies)], ["host", "robots_txt"]
    )
    got = {
        r["host"]: list(r["disallow_prefixes"])
        for r in df.select(
            "host", robots_prefixes_expr(F.col("robots_txt")).alias("disallow_prefixes")
        ).collect()
    }
    for i, b in enumerate(bodies):
        assert got[i] == oracle(b), (i, b, got[i], oracle(b))


def test_resolve_redirects_chains_cycles_and_caps(spark):
    from crawler_spark.frontier.canon import resolve_redirects

    frontier = spark.createDataFrame(
        [("a",), ("b",), ("x",), ("c1",)], "url_canon string"
    )
    redirects = spark.createDataFrame(
        [("a", "a2"), ("a2", "a3"), ("b", "b2"),
         ("c1", "c2"), ("c2", "c1")],  # 2-cycle
        "src string, dst string",
    )
    got = {
        r["url_canon"]: (r["url_final"], r["n_hops"])
        for r in resolve_redirects(frontier, redirects, max_hops=3).collect()
    }
    assert got["a"] == ("a3", 2)      # chain fully followed
    assert got["b"] == ("b2", 1)
    assert got["x"] == ("x", 0)       # no redirect row: unchanged
    # cycle: hops exhaust the budget, final = wherever the cap landed
    assert got["c1"][1] == 3 and got["c1"][0] in ("c1", "c2")


def test_round_url_sketches_merge_equals_one_pass_and_bounds_error(spark):
    """Unioning per-round HLL sketches must give EXACTLY the one-pass
    sketch's estimate (register merge is lossless at equal lg_k), and the
    estimate must sit within the lg_k=14 error envelope (~0.8% RSE; assert
    a generous 3%) of the exact distinct count."""
    from crawler_spark.frontier.seen import round_url_sketches, union_sketch_estimate

    df = spark.range(0, 60_000).select(
        (F.col("id") % 3).alias("round"),
        F.concat(F.lit("http://h"), (F.col("id") % 40_000).cast("string")).alias("url_canon"),
    )
    merged_est = union_sketch_estimate(round_url_sketches(df)).collect()[0][0]
    one_pass = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("url_canon", F.lit(14)))
    ).collect()[0][0]
    assert merged_est == one_pass
    exact = df.select("url_canon").distinct().count()
    assert abs(merged_est - exact) / exact < 0.03


def test_sitemap_urls_expr(spark):
    """Sitemap: records are group-independent (a line in a foreign UA group
    counts), case-insensitive, doc-order, first-occurrence dedup."""
    from crawler_spark.frontier.politeness import sitemaps_from_robots

    body = (
        "User-agent: alpha\nDisallow: /a\n"
        "SITEMAP: https://h.example/a.xml\n"
        "User-agent: *\nDisallow: /x\n"
        "# Sitemap: https://h.example/commented.xml is still a Sitemap line\n"
        "sitemap: https://cdn.example/shared.xml\n"
        "Sitemap: https://h.example/a.xml\n"
        "Sitemap:\n"  # empty value -> dropped
    )
    df = spark.createDataFrame([("h.example", body)], "host string, robots_txt string")
    got = [
        (r["pos"], r["sitemap_url"]) for r in sitemaps_from_robots(df).collect()
    ]
    # NB: '# Sitemap:' lines do NOT match (^\s*sitemap anchored after ws only)
    assert got == [
        (0, "https://h.example/a.xml"),
        (1, "https://cdn.example/shared.xml"),
    ]


def test_meta_noindex_independent_of_nofollow(spark):
    from crawler_spark.frontier.canon import (
        followable_outlinks_expr,
        meta_noindex_expr,
    )

    df = spark.createDataFrame(
        [
            (1, '<head><meta name="robots" content="noindex"></head>'
                '<a href="/a">x</a>'),
            (2, '<head><meta name="robots" content="nofollow"></head>'
                '<a href="/a">x</a>'),
            (3, '<head><meta name="robots" content="noindex,nofollow"></head>'
                '<a href="/a">x</a>'),
            (4, '<head></head><a href="/a">x</a>'),
        ],
        "page_id long, html string",
    )
    out = {
        r["page_id"]: (r["noindex"], r["n"])
        for r in df.select(
            "page_id",
            meta_noindex_expr(F.col("html")).alias("noindex"),
            F.size(followable_outlinks_expr(F.col("html"))).alias("n"),
        ).collect()
    }
    # noindex drops the page from the corpus but NOT its links; nofollow
    # drops the links but not the page — independent axes
    assert out == {1: (True, 1), 2: (False, 0), 3: (True, 0), 4: (False, 1)}


def test_recrawl_priority_defaults_and_rank(spark):
    from crawler_spark.sources.sitemap import recrawl_priority

    xml = (
        '<url><loc>https://h.ex/a</loc><lastmod>2024-12-31</lastmod>'
        '<changefreq>daily</changefreq><priority>0.8</priority></url>'
        # no changefreq -> weekly default; no priority -> 0.5
        '<url><loc>https://h.ex/b</loc><lastmod>2024-12-01</lastmod></url>'
        # no lastmod -> epoch staleness (huge), but 'never' cadence shrinks it
        '<url><loc>https://h.ex/c</loc><changefreq>never</changefreq>'
        '<priority>0.9</priority></url>'
    )
    df = spark.createDataFrame([("h.ex", xml)], "host string, sitemap_xml string")
    rows = {
        r["url"]: (r["staleness"], r["rnk"])
        for r in recrawl_priority(df, "2025-01-01 00:00:00").collect()
    }
    # a: 0.8 * 1440 / 1440 = 0.8 ; b: 0.5 * 44640 / 10080 ≈ 2.214
    # c: 0.9 * mins(1970..2025) / 2^40 ≈ 0.0000237 — stale-but-never ranks last
    assert rows["https://h.ex/a"][0] == 0.8
    assert rows["https://h.ex/b"][0] == 0.5 * 44640 / 10080
    assert rows["https://h.ex/b"][1] == 1
    assert rows["https://h.ex/a"][1] == 2
    assert rows["https://h.ex/c"][1] == 3


def test_change_rate_priority_estimator_and_truncation(spark):
    """Cho & Garcia-Molina-family recrawl estimator: change flags count
    fingerprint TRANSITIONS in (ts, seq) order; ratio is Laplace-smoothed
    (n_changes+1)/(n_obs+2); staleness floors the microsecond diff to
    whole seconds (the cross-engine-safe path — second-level date_diff
    disagrees between engines on sub-second tails); score = ratio ×
    staleness rounded 6 d.p."""
    from crawler_spark.frontier.priority import change_rate_priority

    rows = [
        # url A: x x y y z → 2 transitions over 5 obs
        ("a", "2024-02-01 00:00:00", 1, "x"),
        ("a", "2024-02-02 00:00:00", 2, "x"),
        ("a", "2024-02-03 00:00:00", 3, "y"),
        ("a", "2024-02-04 00:00:00", 4, "y"),
        ("a", "2024-02-14 23:59:30.500000", 5, "z"),
        # url B: single observation → prior 1/3
        ("b", "2024-02-10 12:00:00", 1, "q"),
        # url C: same-ts tie broken by seq: order (x, y) → 1 change
        ("c", "2024-02-05 00:00:00", 2, "y"),
        ("c", "2024-02-05 00:00:00", 1, "x"),
    ]
    df = spark.createDataFrame(
        rows, "url_canon string, ts string, seq int, fp string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {
        r["url_canon"]: r
        for r in change_rate_priority(df, now_ts="2024-02-15 00:00:00").collect()
    }
    a = out["a"]
    assert (a["n_obs"], a["n_changes"]) == (5, 2)
    assert a["change_ratio"] == round(3 / 7, 6)
    assert a["staleness_s"] == 29  # 29.5 s floors to 29, not 30
    assert a["recrawl_score"] == round(round(3 / 7, 6) * 29, 6)
    b = out["b"]
    assert (b["n_obs"], b["n_changes"], b["change_ratio"]) == (1, 0, round(1 / 3, 6))
    c = out["c"]
    assert (c["n_obs"], c["n_changes"]) == (2, 1)


def test_adaptive_politeness_ewma_fold_and_floor(spark):
    from crawler_spark.frontier.politeness import adaptive_politeness

    rows = [
        # host a: latencies 100, 200, 60 in ts order
        ("a", "2024-01-01 00:00:00", 100.0),
        ("a", "2024-01-01 00:01:00", 200.0),
        ("a", "2024-01-01 00:02:00", 60.0),
        # host b: single fast observation -> min-delay floor kicks in
        ("b", "2024-01-01 00:00:30", 10.0),
    ]
    df = spark.createDataFrame(
        rows, "host string, ts string, latency_ms double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["host"]: r for r in adaptive_politeness(df).collect()}

    def r8(x):
        import math
        return math.floor(x * 1e8 + 0.5) / 1e8

    ew = 100.0
    for x in (200.0, 60.0):
        ew = r8(0.25 * x + 0.75 * ew)
    a = out["a"]
    assert (a["n_obs"], a["ewma_latency"]) == (3, ew)
    assert a["delay_ms"] == int(4.0 * ew)  # 4x EWMA, above the 100ms floor
    b = out["b"]
    assert (b["n_obs"], b["ewma_latency"]) == (1, 10.0)
    assert b["delay_ms"] == 100  # floor: 4*10 = 40 < min_delay


def test_registrable_domain_longest_suffix_and_fallback(spark):
    from crawler_spark.frontier.canon import registrable_domain_expr

    cases = [
        ("www.example.co.uk", "example.co.uk"),   # multi-label beats uk
        ("cdn.media.shop.com.au", "shop.com.au"),
        ("a.b.c.example.com", "example.com"),
        ("example.de", "example.de"),
        ("deep.sub.example.xyz", "example.xyz"),  # off-list: last two labels
        ("localhost", "localhost"),               # single label: itself
        ("co.uk", "co.uk"),                       # bare suffix: via uk arm
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], ["host"])
    got = {
        r["host"]: r["reg"]
        for r in df.select(
            "host", registrable_domain_expr(F.col("host")).alias("reg")
        ).collect()
    }
    for host, want in cases:
        assert got[host] == want, (host, got[host], want)


def test_strip_tracking_params_drop_sort_and_noquery(spark):
    from crawler_spark.frontier.canon import strip_tracking_params_expr

    cases = [
        ("http://a.com/p?utm_source=x&id=1", "http://a.com/p?id=1"),
        ("http://a.com/p?b=2&a=1&fbclid=z", "http://a.com/p?a=1&b=2"),
        ("http://a.com/p?utm_a=1&utm_b=2", "http://a.com/p"),  # all dropped
        ("http://a.com/p", "http://a.com/p"),                  # no query
        ("http://a.com/p?flag&gclid=9", "http://a.com/p?flag"),  # bare param
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = {
        r["url"]: r["c"]
        for r in df.select(
            "url", strip_tracking_params_expr(F.col("url")).alias("c")
        ).collect()
    }
    for url, want in cases:
        assert got[url] == want, (url, got[url], want)


def test_canon_expr_idempotence_properties(spark):
    """Canonicalizers must be idempotent: applying strip_tracking_params
    or registrable_domain to its own output is a no-op, and
    unicode_normalize's clean_text re-normalizes to itself. One Spark
    job per property over an adversarial corpus (multiple '?', empty
    params, bare params, tracking names at every position, decomposed
    accents, control runs)."""
    from crawler_spark.frontier.canon import (
        registrable_domain_expr,
        strip_tracking_params_expr,
    )
    from crawler_spark.pipeline.textstats import unicode_normalize

    urls = [
        "http://a.com/p?utm_a=1&b=2&utm_c=3&fbclid=x",
        "http://a.com/p??b=2",            # second '?' lives inside a param
        "http://a.com/p?&&a=1&",          # empty params
        "http://a.com/p?flag&x",          # bare params, no '='
        "http://a.com/p?z=1&y=2&x=3",     # unsorted
        "http://a.com/p",
        "",
        "?utm_a=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select(strip_tracking_params_expr(F.col("url")).alias("u1"))
    twice = once.select(
        "u1", strip_tracking_params_expr(F.col("u1")).alias("u2")
    )
    for r in twice.collect():
        assert r["u1"] == r["u2"], r

    hosts = [
        "www.example.co.uk", "example.co.uk", "a.b.c.d.com", "x.xyz",
        "deep.sub.example.xyz", "localhost", "co.uk", "uk",
    ]
    hdf = spark.createDataFrame([(h,) for h in hosts], ["host"])
    h_twice = hdf.select(
        registrable_domain_expr(F.col("host")).alias("r1")
    ).select("r1", registrable_domain_expr(F.col("r1")).alias("r2"))
    for r in h_twice.collect():
        assert r["r1"] == r["r2"], r

    texts = [
        ("café ́ x", 0), ("a\x07\x07b  c\t\td", 1),
        ("  \t \n ", 2), ("plain", 3),
    ]
    tdf = spark.createDataFrame(
        [(i, t) for t, i in texts], ["doc_id", "text"]
    )
    clean = unicode_normalize(tdf, "doc_id", "text").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    again = {
        r["doc_id"]: r
        for r in unicode_normalize(clean, "doc_id", "text").collect()
    }
    for i, r in again.items():
        assert r["n_ctrl"] == 0 and not r["changed"], (i, r)
