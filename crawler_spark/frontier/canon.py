"""URL canonicalization, hashing, host extraction, outlink expansion.

north_rule operators absent in the reference (SURVEY.md §2.5): URL
canonicalization + 64-bit hashing in vectorized Arrow UDFs / built-ins.

The *kernel* (:func:`canonicalize_url`, :func:`extract_outlinks`) is pure
Python and shared verbatim with the oracle crawler
(crawler_spark.oracle.crawler) so Spark and oracle can never drift.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str) -> str:
    """Canonical form: lowercase scheme+host, strip default port and
    fragment, empty path → '/'. Query preserved verbatim (order-sensitive —
    reordering could change crawl semantics on real sites)."""
    if not url:
        return ""
    try:
        parts = urlsplit(url.strip())
        port = parts.port  # raises ValueError when out of range 0-65535
    except ValueError:
        return url.strip()
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    return urlunsplit((scheme, netloc, path, parts.query, ""))


# Explicit ASCII whitespace class (not \s): Python's \s is Unicode-aware
# while Java's is ASCII-only — the explicit class makes the pure-Python spec
# and the JVM fast-path twin below byte-identical on every input.
_HREF_RE = re.compile(r'<a[ \t\n\r\f\x0b][^>]*?href="([^"]*)"', re.IGNORECASE | re.DOTALL)
# Java-regex twin of _HREF_RE for the JVM fast path (inline (?is) flags)
HREF_PATTERN_JAVA = '(?is)<a[ \\t\\n\\r\\f\\x0B][^>]*?href="([^"]*)"'


def extract_outlinks(base_url: str, html: str) -> list[str]:
    """Outlinks of a page: href values in document order, resolved against
    the page URL, canonicalized, per-page first-occurrence dedup (the
    reference's per-page distinct, collector-url.go:31)."""
    out: list[str] = []
    seen: set[str] = set()
    for m in _HREF_RE.finditer(html):
        href = m.group(1).strip()
        if not href or href.startswith(("#", "javascript:", "mailto:")):
            continue
        absolute = urljoin(base_url, href)
        canon = canonicalize_url(absolute)
        if not canon.startswith(("http://", "https://")):
            continue
        if canon in seen:
            continue
        seen.add(canon)
        out.append(canon)
    return out


# --- vectorized batch kernels ------------------------------------------------
#
# north_star forbids per-row Python: the batch kernels below run pandas
# .str vectorized ops over the whole Arrow batch, with a per-row fallback
# ONLY for rare shapes (userinfo, IPv6, out-of-range ports, exotic
# relatives) — byte-equality with the pure-Python kernels is pinned by
# tests/test_frontier.py.

# "simple" URL: scheme://host[:port][/path][?query][#frag], no userinfo,
# no IPv6 brackets, non-empty host — covers essentially every crawl-frontier
# URL. An empty host takes the fallback: for a scheme outside urllib's
# uses_netloc list, urlunsplit drops the empty "//" ("b://" → "b:/").
# RE2 (pyarrow) dialect with named groups; semantics identical to Python re
# for this pattern (no backrefs/lookarounds).
_FAST_URL_PA = (
    r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*)://(?P<host>[A-Za-z0-9.\-]+)"
    r"(?::(?P<port>[0-9]{1,5}))?(?P<path>/[^?#]*)?(?:\?(?P<query>[^#]*))?(?:#.*)?$"
)

# The exact character set Python's str.strip() removes (c.isspace() == True):
# Arrow's utf8_trim_whitespace uses the Unicode White_Space property, which
# EXCLUDES \x1c-\x1f and \x85 — trimming with the explicit set keeps the
# fast path byte-identical to the pure-Python kernel.
_PY_WS = "".join(chr(c) for c in range(0x3001) if chr(c).isspace())


def _canon_arrow(arr):
    """Arrow-native :func:`canonicalize_url` over a ``pa.Array`` of strings.

    Fast path runs entirely in pyarrow.compute (RE2 extract + string kernels
    over contiguous Arrow buffers — no per-row Python, no object-dtype
    pandas regex); rows the fast regex rejects (userinfo, IPv6, bad ports,
    non-URLs) fall back to the pure-Python kernel row-by-row. Input nulls
    canonicalize like ``""`` (→ ``""``); output has no nulls."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pc.fill_null(arr, "")
    trimmed = pc.utf8_trim(arr, characters=_PY_WS)
    # urlsplit removes tab/CR/LF anywhere in the URL (WHATWG unsafe bytes,
    # CPython _UNSAFE_URL_BYTES_TO_REMOVE) — mirror that before matching so
    # fast-path output stays byte-identical to the pure-Python kernel.
    for ch in ("\t", "\r", "\n"):
        trimmed = pc.replace_substring(trimmed, ch, "")
    ext = pc.extract_regex(trimmed, _FAST_URL_PA)
    # non-participating groups extract as "" (port can't legally be empty,
    # so "" means absent; empty query and absent query both canonicalize to
    # no '?', matching urlunsplit)
    port_s = pc.struct_field(ext, "port")
    has_port = pc.not_equal(port_s, "")
    port_int = pc.cast(pc.if_else(has_port, port_s, "0"), pa.int64())
    fast = pc.and_kleene(pc.is_valid(ext), pc.less_equal(port_int, 65535))
    fast_np = fast.to_numpy(zero_copy_only=False).astype(bool)

    scheme = pc.utf8_lower(pc.struct_field(ext, "scheme"))
    host = pc.utf8_lower(pc.struct_field(ext, "host"))
    default = pc.if_else(
        pc.equal(scheme, "http"), "80", pc.if_else(pc.equal(scheme, "https"), "443", "")
    )
    port_str = pc.cast(port_int, pa.string())  # int round-trip strips leading zeros
    keep_port = pc.and_(has_port, pc.not_equal(port_str, default))
    empty = pa.nulls(len(arr), pa.string())
    port_sfx = pc.if_else(keep_port, pc.binary_join_element_wise(":", port_str, ""), "")
    path = pc.struct_field(ext, "path")
    path = pc.if_else(pc.equal(path, ""), "/", path)
    query = pc.struct_field(ext, "query")
    q_sfx = pc.if_else(
        pc.not_equal(query, ""), pc.binary_join_element_wise("?", query, ""), ""
    )
    joined = pc.binary_join_element_wise(scheme, "://", host, port_sfx, path, q_sfx, "")
    out = pc.if_else(fast, joined, empty)
    slow = ~fast_np
    if slow.any():
        # canonicalize_url strips internally, so the originals are fine here
        out_np = out.to_numpy(zero_copy_only=False)
        orig_np = arr.to_numpy(zero_copy_only=False)
        out_np[slow] = np.array([canonicalize_url(u) for u in orig_np[slow]], dtype=object)
        return pa.array(out_np, type=pa.string())
    return out


def _canon_batch(urls: pd.Series) -> pd.Series:
    """Vectorized :func:`canonicalize_url` over a pandas batch (pandas-UDF
    entry point; the work happens in :func:`_canon_arrow`)."""
    import pyarrow as pa

    s_orig = urls.fillna("")
    out = _canon_arrow(pa.Array.from_pandas(s_orig.astype(object)))
    return out.to_pandas().set_axis(s_orig.index)


def _resolve_arrow(b, h):
    """Arrow-native urljoin for the two dominant shapes (absolute URL,
    root-relative path) via pyarrow.compute; everything else falls back to
    urljoin per row. Inputs/output ``pa.Array`` of strings, no nulls out."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    is_abs = pc.match_substring_regex(h, r"^[A-Za-z][A-Za-z0-9+.\-]*://")
    root_rel = pc.and_(pc.starts_with(h, "/"), pc.invert(pc.starts_with(h, "//")))
    origin = pc.struct_field(
        pc.extract_regex(b, r"^(?P<o>[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)"), "o"
    )
    rr = pc.binary_join_element_wise(origin, h, "")  # null where origin null
    empty = pa.nulls(len(h), pa.string())
    out_pa = pc.if_else(
        is_abs, h, pc.if_else(pc.and_kleene(root_rel, pc.is_valid(origin)), rr, empty)
    )
    rest = pc.is_null(out_pa).to_numpy(zero_copy_only=False).astype(bool)
    if rest.any():
        out_np = out_pa.to_numpy(zero_copy_only=False)
        b_np = b.to_numpy(zero_copy_only=False)
        h_np = h.to_numpy(zero_copy_only=False)
        out_np[rest] = np.array(
            [urljoin(bb, hh) for bb, hh in zip(b_np[rest], h_np[rest])], dtype=object
        )
        return pa.array(out_np, type=pa.string())
    return out_pa


# --- Spark expressions -------------------------------------------------------

@pandas_udf(StringType())
def _canon_udf(urls: pd.Series) -> pd.Series:
    return _canon_batch(urls)


def canon_expr(url_col: Column) -> Column:
    """Vectorized canonicalization (Arrow pandas UDF)."""
    return _canon_udf(url_col)


def host_expr(canon_url_col: Column) -> Column:
    """Host of a canonical URL — JVM built-in (stays in codegen)."""
    return F.coalesce(F.parse_url(canon_url_col, F.lit("HOST")), F.lit(""))


def url_hash_expr(canon_url_col: Column) -> Column:
    """64-bit URL hash (north_star) — JVM xxhash64."""
    return F.xxhash64(canon_url_col)


def host_bucket_expr(host_col: Column, n_buckets: int) -> Column:
    """Salted host-hash bucket for partitioning frontier state."""
    return F.pmod(F.xxhash64(host_col), F.lit(n_buckets)).cast("int")


def flat_outlinks(df, carry_cols: list[str], url_col: str = "url_canon", html_col: str = "html"):
    """Flat outlink expansion: ``(carry…, url, html)`` → ``(carry…, pos,
    child_url)`` rows, one per extracted outlink, per-page order preserved
    and per-page first-occurrence deduped.

    The same rows as ``posexplode`` over :func:`extract_outlinks` per page,
    without per-page Python lists: the href scan runs JVM-side
    (``regexp_extract_all`` in codegen, html never crosses Arrow), and one
    ``mapInArrow`` resolves + canonicalizes the flat href stream and emits
    flat rows directly.

    Arrow end-to-end: strings never leave contiguous Arrow buffers — the
    per-row PyObject materialization of a pandas object column (one Python
    str per href, ~10× the string bytes in allocator traffic) is exactly
    the memory-bandwidth term that stops scaling at high core counts, so
    the batch kernel is pyarrow.compute + numpy index math only, with
    per-row Python confined to the rare slow-path rows inside
    :func:`_canon_arrow` / :func:`_resolve_arrow`.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import IntegerType, StructField, StructType

    scanned = df.select(
        *carry_cols,
        F.col(url_col).alias("_base"),
        F.regexp_extract_all(
            F.col(html_col).cast("string"), F.lit(HREF_PATTERN_JAVA), 1
        ).alias("_hrefs"),
    )
    carry_fields = [f for f in scanned.schema.fields if f.name in carry_cols]
    carry_names = [f.name for f in carry_fields]
    out_schema = StructType(
        carry_fields
        + [StructField("pos", IntegerType()), StructField("child_url", StringType())]
    )

    def emit(batches):
        for rb in batches:
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            hrefs = cols["_hrefs"]
            counts = pc.fill_null(pc.list_value_length(hrefs), 0).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            if counts.sum() == 0:
                continue
            # flatten order: row-major, so row_pos is nondecreasing
            row_pos = np.repeat(np.arange(len(counts)), counts)
            flat = pc.list_flatten(hrefs)
            href = pc.utf8_trim(flat, characters=_PY_WS)
            keep = pc.and_(
                pc.not_equal(href, ""),
                pc.invert(
                    pc.or_(
                        pc.or_(
                            pc.starts_with(href, "#"),
                            pc.starts_with(href, "javascript:"),
                        ),
                        pc.starts_with(href, "mailto:"),
                    )
                ),
            )
            keep_np = keep.to_numpy(zero_copy_only=False).astype(bool)
            if not keep_np.any():
                continue
            href = pc.filter(href, keep)
            rows = row_pos[keep_np]
            base = pc.take(pc.fill_null(cols["_base"], ""), pa.array(rows))
            canon = _canon_arrow(_resolve_arrow(base, href))
            keep2 = pc.or_(
                pc.starts_with(canon, "http://"), pc.starts_with(canon, "https://")
            )
            keep2_np = keep2.to_numpy(zero_copy_only=False).astype(bool)
            if not keep2_np.any():
                continue
            urls = pc.filter(canon, keep2)
            rows = rows[keep2_np]
            # per-page first-occurrence dedup + in-page position, all numpy:
            # rows is nondecreasing (flatten order), so a (row, url-code)
            # int64 key + C hashtable `duplicated` beats string dedup, and
            # pos falls out of group run-lengths instead of a groupby.
            codes = pc.dictionary_encode(urls).indices.to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            key = rows.astype(np.int64) << np.int64(32) | codes
            first = ~pd.Series(key).duplicated().to_numpy()
            rows = rows[first]
            urls = pc.take(urls, pa.array(np.flatnonzero(first)))
            starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
            run_len = np.diff(np.r_[starts, len(rows)])
            pos = (np.arange(len(rows)) - np.repeat(starts, run_len)).astype("int32")
            take_idx = pa.array(rows)
            arrays = [pc.take(cols[c], take_idx) for c in carry_names]
            arrays.append(pa.array(pos))
            arrays.append(urls)
            yield pa.RecordBatch.from_arrays(
                arrays, names=[*carry_names, "pos", "child_url"]
            )

    return scanned.mapInArrow(emit, out_schema)


def resolve_redirects(
    frontier: DataFrame,
    redirects: DataFrame,
    url_col: str = "url_canon",
    max_hops: int = 3,
) -> DataFrame:
    """Follow redirect chains before the fetch join, bounded at
    ``max_hops`` — the declarative twin of the reference's silent
    redirect-following (Go's ``http.Get`` chases up to 10 redirects
    inside the fetch call, /root/reference/util.go:37-52; our fetch is an
    equi-join, so redirects become joins too).

    ``redirects(src, dst)`` is the corpus's redirect edge table. Each hop
    is one left join: URLs with no redirect row keep their current value;
    a longer-than-max_hops chain (or a cycle) stops where the budget runs
    out, matching an HTTP client's redirect cap. Output: the frontier
    with ``url_final`` plus ``n_hops`` taken.

    Scale: the redirect table is a fraction of the corpus → hash join on
    the url key each hop, max_hops bounded small (browsers use 10-20);
    at 10^10 URLs each hop is one keys-only shuffle. No Python.
    """
    cur = frontier.withColumn("url_final", F.col(url_col)).withColumn(
        "n_hops", F.lit(0)
    )
    r = redirects.select(F.col("src").alias("_rsrc"), F.col("dst").alias("_rdst"))
    for _ in range(max_hops):
        cur = (
            cur.join(r, cur.url_final == r._rsrc, "left")
            .withColumn(
                "n_hops",
                F.when(F.col("_rdst").isNotNull(), F.col("n_hops") + 1).otherwise(
                    F.col("n_hops")
                ),
            )
            .withColumn("url_final", F.coalesce("_rdst", "url_final"))
            .drop("_rsrc", "_rdst")
        )
    return cur


_ANCHOR_RE = r'(?is)<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>'


def anchor_texts_expr(html_col: Column) -> Column:
    """``array<struct<href,anchor>>`` of a page's links WITH their anchor
    text — the classic relevance signal anchor-text ranking feeds on
    (the crawl's outlink op keeps only hrefs; this is its enriched twin).

    Two aligned ``regexp_extract_all`` passes over the same anchor
    pattern (group 1 = href, group 2 = inner text), zipped — all codegen,
    no HTML parse: for the ranking signal, tag-stripped inner text is the
    accepted approximation (nested markup inside <a> is stripped, not
    parsed). Document order preserved.
    """
    pat = F.lit(_ANCHOR_RE)
    hrefs = F.regexp_extract_all(html_col, pat, 1)
    texts = F.regexp_extract_all(html_col, pat, 2)
    strip_tags = lambda t: F.trim(F.regexp_replace(t, r"<[^>]*>", " "))  # noqa: E731
    return F.zip_with(
        hrefs,
        texts,
        lambda h, t: F.struct(h.alias("href"), strip_tags(t).alias("anchor")),
    )


# anchor tag with href, capturing (1) the full attribute span and (2) the
# href value — ONE pattern for both aligned extractions, so attr/href pairs
# can't drift out of document order
_FOLLOW_ANCHOR_JAVA = '(?is)<a[ \\t\\n\\r\\f\\x0B]([^>]*?href="([^"]*)"[^>]*)>'
_NOFOLLOW_REL = '(?i)rel="[^"]*nofollow'
_META_NOFOLLOW = '(?is)<meta[^>]*name="robots"[^>]*content="[^"]*nofollow'


def followable_outlinks_expr(html_col: Column) -> Column:
    """``array<string>`` of hrefs ELIGIBLE for frontier expansion under the
    Robots Exclusion Protocol's link-level rules: drops links whose ``<a>``
    tag carries ``rel=nofollow`` (before or after the href), and every link
    of a page whose ``<meta name="robots">`` says ``nofollow``.

    The reference follows everything (its regex rule has no rel awareness);
    a polite crawler must not. Two aligned ``regexp_extract_all`` passes
    over ONE pattern (group 1 = full attr span, group 2 = href) zip into
    (attrs, href) pairs; the rel check is a per-element rlike on the attr
    span — all whole-stage codegen, document order preserved, no HTML
    parse.
    """
    attrs = F.regexp_extract_all(html_col, F.lit(_FOLLOW_ANCHOR_JAVA), 1)
    hrefs = F.regexp_extract_all(html_col, F.lit(_FOLLOW_ANCHOR_JAVA), 2)
    kept = F.zip_with(
        attrs, hrefs, lambda a, h: F.when(~a.rlike(_NOFOLLOW_REL), h)
    )
    return F.when(
        html_col.rlike(_META_NOFOLLOW), F.array().cast("array<string>")
    ).otherwise(F.array_compact(kept))


_META_NOINDEX = '(?is)<meta[^>]*name="robots"[^>]*content="[^"]*noindex'


def meta_noindex_expr(html_col: Column) -> Column:
    """True when the page's ``<meta name="robots">`` declares ``noindex``:
    the page must be EXCLUDED from the extracted/indexed corpus, while its
    links remain frontier-followable unless ``nofollow`` is also declared —
    the two directives are independent axes of the robots-meta protocol
    (the reference indexes everything it fetches; a compliant crawler must
    not). Pure codegen ``rlike``, no HTML parse."""
    return html_col.rlike(_META_NOINDEX)


# <link rel=canonical> in either attribute order; first match wins per page
_CANON_REL_FIRST = '(?is)<link[^>]*?rel="canonical"[^>]*?href="([^"]*)"'
_CANON_HREF_FIRST = '(?is)<link[^>]*?href="([^"]*)"[^>]*?rel="canonical"'


def canonical_link_expr(html_col: Column, self_url: Column) -> Column:
    """The page's ``<link rel="canonical">`` target, falling back to the
    page's own URL — the consolidation key duplicate-content dedup groups
    on (mirrors/trackers/session-id variants all declare one canonical, so
    grouping by this column collapses them without any content compare).
    Handles both attribute orders; first declaration wins; empty hrefs fall
    through to self. Pure ``regexp_extract`` — codegen, no HTML parse."""
    a = F.nullif(F.regexp_extract(html_col, _CANON_REL_FIRST, 1), F.lit(""))
    b = F.nullif(F.regexp_extract(html_col, _CANON_HREF_FIRST, 1), F.lit(""))
    return F.coalesce(a, b, self_url)


# --- crawler-trap detection (URL path templates) -----------------------------

_TEMPLATE_HEX = "[0-9a-f]{8,}"  # session ids / content hashes in paths
_TEMPLATE_DIGITS = "[0-9]+"


def url_template_expr(canon_url_col: Column) -> Column:
    """Collapse a canonical URL's PATH to its template: long hex runs →
    ``{x}`` first (session ids, content hashes), then digit runs → ``{d}``
    (ids, dates, page numbers). ``/item/82731`` and ``/item/9`` become the
    same ``/item/{d}`` — the unit at which infinite URL spaces (calendars,
    faceted search, session links) reveal themselves. Pure JVM regexp —
    codegen, no Python."""
    path = F.coalesce(F.parse_url(canon_url_col, F.lit("PATH")), F.lit("/"))
    return F.regexp_replace(
        F.regexp_replace(path, _TEMPLATE_HEX, "{x}"), _TEMPLATE_DIGITS, "{d}"
    )


def url_template_stats(
    df, url_col: str = "url_canon", min_urls: int = 50, min_share: float = 0.3
):
    """Crawler-trap detection over a (distinct-URL) frontier: count URLs
    per (host, path template) and flag templates that are both large
    (``>= min_urls``) and dominate their host (``>= min_share`` of the
    host's URLs) — the signature of a calendar/faceted/session infinite
    space that will eat a host's crawl budget at 10^10-URL scale. The
    scheduler demotes flagged templates instead of fetching them breadth-
    first (the classic trap mitigation; see Heritrix's path-repetition
    rules for the lineage of the idea).

    Input contract: URLs are already canonical + distinct (this runs on
    post-dedup frontier state, so the count is a row count — no
    count-distinct shuffle). Output: one row per (host, template) with
    ``n_urls >= 2`` (singleton templates are noise and would dominate the
    row count), share as an exact-division double rounded to 6 places
    (IEEE division is correctly rounded — cross-engine deterministic),
    and the trap flag.

    Scale shape: ONE exchange — groupBy(host, template) with map-side
    partial aggregation; the per-host total rides a window over the
    ALREADY-GROUPED (small) result partitioned by host, not a second scan
    of the frontier. Template cardinality is bounded by real site
    structure (hosts × distinct path shapes), so the grouped result is
    dimension-sized; a host-hot template is exactly what gets collapsed
    to one row.
    """
    url = F.col(url_col)
    grouped = (
        df.select(
            host_expr(url).alias("host"), url_template_expr(url).alias("template")
        )
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )
    w_host = Window.partitionBy("host")
    share = F.round(F.col("n_urls") / F.sum("n_urls").over(w_host), 6)
    return (
        grouped.withColumn("host_share", share)
        .withColumn(
            "is_trap",
            (F.col("n_urls") >= min_urls) & (F.col("host_share") >= min_share),
        )
        .filter(F.col("n_urls") >= 2)
        .select("host", "template", "n_urls", "host_share", "is_trap")
    )


# Public-suffix subset (from the Mozilla Public Suffix List — the
# longest-match RULE is what the operator implements; a production run
# swaps in the full ~9k-entry list, which still broadcasts trivially).
# Multi-label suffixes must precede their parent TLDs for longest-match.
PUBLIC_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "net.br",
    "co.in", "ac.in",
    "com", "org", "net", "io", "dev", "gov", "edu", "info",
    "uk", "au", "jp", "br", "in", "de", "fr",
)


def registrable_domain_expr(host_col: Column) -> Column:
    """eTLD+1 registrable domain of a hostname — the unit real crawlers
    budget politeness at (``www.shop.example.co.uk`` and
    ``cdn.example.co.uk`` are ONE crawl target, ``example.co.uk``, not
    two; hostname-level budgets let a single registrant dodge its cap
    with subdomain fan-out).

    Longest-suffix-match over :data:`PUBLIC_SUFFIXES`: the first
    when-arm that matches wins, and the tuple orders multi-label
    suffixes before their parent TLDs, so ``a.b.co.uk`` resolves via
    ``co.uk`` (→ ``b.co.uk``), never plain ``uk``. Hosts matching no
    suffix fall back to their last two labels, bare single-label hosts
    to themselves. Pure JVM ``endswith``/``regexp_extract`` chain —
    whole-stage codegen, zero shuffle, and the suffix list is a
    compile-time literal (no join against a suffix table needed at this
    list size).
    """
    expr = F.regexp_extract(host_col, r"([^.]+\.[^.]+)$", 1)
    expr = F.when(expr == "", host_col).otherwise(expr)  # single-label host
    for sfx in reversed(PUBLIC_SUFFIXES):
        pat = r"([^.]+\." + sfx.replace(".", r"\.") + r")$"
        expr = F.when(
            host_col.endswith("." + sfx),
            F.regexp_extract(host_col, pat, 1),
        ).otherwise(expr)
    return expr


# Tracking parameters every major crawler strips before dedup: the same
# page arrives once per campaign link otherwise. utm_* is matched by
# prefix; the rest are exact names (public, well-known lists).
TRACKING_PARAMS: tuple[str, ...] = (
    "fbclid", "gclid", "msclkid", "dclid", "yclid", "igshid",
    "mc_cid", "mc_eid", "spm", "ref_src",
)


def strip_tracking_params_expr(url_col: Column) -> Column:
    """Canonicalize away tracking query parameters and order-normalize
    the rest: drop ``utm_*`` (prefix) and :data:`TRACKING_PARAMS`
    (exact), sort surviving ``k=v`` pairs bytewise, rejoin. Two URLs
    differing only in campaign tags or param order then hash to ONE
    frontier entry — on real crawls this collapses a large slice of
    duplicate fetches before any content-level dedup runs.

    Pure built-in split/filter/array_sort/array_join — whole-stage
    codegen, zero shuffle, rides the canonicalization scan. Bytewise
    sort and ``split_part`` behave identically in DuckDB, so the twin
    replays verbatim. Assumes fragment-free input (upstream
    ``canon_expr`` already strips fragments).
    """
    qpos = F.instr(url_col, "?")
    base = F.split_part(url_col, F.lit("?"), F.lit(1))
    query = F.when(qpos > 0, F.substr(url_col, qpos + 1)).otherwise(F.lit(""))
    params = F.filter(
        F.split(query, "&", -1), lambda p: p != F.lit("")
    )

    def _keep(p: Column) -> Column:
        name = F.split_part(p, F.lit("="), F.lit(1))
        return ~(
            name.startswith("utm_")
            | name.isin(*TRACKING_PARAMS)
        )

    kept = F.array_sort(F.filter(params, _keep))
    return F.when(
        F.size(kept) > 0,
        F.concat(base, F.lit("?"), F.array_join(kept, "&")),
    ).otherwise(base)
