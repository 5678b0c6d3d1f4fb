"""robots.txt filtering + per-host politeness budget (north_rule operators).

Both absent in the reference (its only throttle is a global 100-ticket pool,
/root/reference/pool.go:3); semantics here are defined jointly with the
pure-Python oracle (crawler_spark.oracle.crawler).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def url_path_query_expr(url: Column) -> Column:
    """The ``path?query`` substring of a URL — the string RFC 9309 §2.2.2
    matches rules against (``parse_url(...,'PATH')`` drops the query, so a
    rule like ``Disallow: /search?q=`` could never match through it).

    Textual strip of ``scheme://authority`` and any ``#fragment`` — also
    covers URLs ``parse_url`` would reject (those used to silently fall back
    to ``/`` = always allowed). Empty path → ``/``; a bare ``?query`` gets
    the implicit root path. Pure codegen regexps, no Python."""
    pq = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    pq = F.regexp_replace(pq, r"#.*", "")
    return (
        F.when(pq.isNull() | (pq == ""), F.lit("/"))
        .when(pq.startswith("?"), F.concat(F.lit("/"), pq))
        .otherwise(pq)
    )


def robots_allowed(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """The robots verdict as a column: ``frontier`` plus a boolean
    ``allowed``, false iff the URL's path?query starts with a disallowed
    prefix of its host. A column, not a filter, so one pass over the rows
    serves both a caller that keeps blocked urls (the crawl remembers them
    as seen) and one that drops them.

    ``robots(host, disallow_prefixes array<string>)`` is a per-host dim —
    tiny next to the frontier → broadcast join; prefix matching stays
    JVM-side via ``exists(startswith)``, no Python.
    Hosts with no robots row are allowed (crawler convention).
    """
    path = url_path_query_expr(F.col("url_canon"))
    joined = frontier.join(
        F.broadcast(robots.select("host", "disallow_prefixes")), "host", "left"
    )
    allowed = F.when(F.col("disallow_prefixes").isNull(), F.lit(True)).otherwise(
        ~F.exists(
            F.col("disallow_prefixes"),
            lambda p: path.startswith(p),
        )
    )
    return joined.withColumn("allowed", allowed).drop("disallow_prefixes")


#: value of a ``Disallow:`` line (leading ws / case-insensitive directive)
_DISALLOW_RE = r"(?i)^\s*disallow\s*:\s*(\S*)"


def _star_scope_idx(lines: Column, idx: Column) -> Column:
    """Indices (1-based, document order) of the lines governed by ANY
    ``User-agent: *`` group — RFC 9309 §2.2.1 grouping:

    * a group starts at a ``User-agent:`` line whose predecessor is not a
      ``User-agent:`` line; a run of stacked UA lines shares ONE group, so
      ``User-agent: *`` followed by ``User-agent: foo`` keeps its rules;
    * rules from EVERY group naming ``*`` merge (the spec merges rules
      across all groups matching the agent — a second ``*`` group late in
      the file must not be dropped).

    Mechanics: group id of a line = count of group-starts at-or-before it;
    a line is in star scope iff its group id is the id of some ``*`` line.
    O(lines × groups) array ops per body, all codegen."""

    def is_ua_i(i: Column) -> Column:
        return _is_ua(F.element_at(lines, i))

    def is_star_i(i: Column) -> Column:
        line = F.element_at(lines, i)
        return _is_ua(line) & (F.trim(F.get(F.split(line, ":", 2), 1)) == F.lit("*"))

    starts = F.filter(idx, lambda i: is_ua_i(i) & ((i == 1) | ~is_ua_i(i - 1)))

    def gid(i: Column) -> Column:
        return F.size(F.filter(starts, lambda s: s <= i))

    star_gids = F.array_distinct(F.transform(F.filter(idx, is_star_i), gid))
    return F.filter(
        idx,
        lambda i: ~is_ua_i(i) & F.exists(star_gids, lambda g: g == gid(i)),
    )


def _is_ua(line: Column) -> Column:
    return F.lower(F.ltrim(line)).startswith("user-agent:")


def robots_prefixes_expr(text: Column) -> Column:
    """Parse a raw robots.txt body into its ``User-agent: *`` Disallow
    prefixes — ``array<string>``, document order, pure built-ins.

    RFC 9309 grouping via :func:`_star_scope_idx`: rules from every group
    naming ``*`` (including stacked-UA groups) merge in document order.
    Each ``Disallow:`` line in scope contributes its value; empty values
    (``Disallow:`` alone = allow-all) are dropped. Directive matching is
    case-insensitive and whitespace-tolerant; values keep their case (URL
    paths are case-sensitive).

    Stays in whole-stage codegen: split + higher-order array functions
    over the line array, one regexp per Disallow candidate — no Python,
    so parsing the ~10^7 robots bodies of a 10^10-URL crawl is a map-only
    columnar stage. Output feeds :func:`robots_allowed` directly.
    """
    lines = F.split(text, "\n")
    idx = F.sequence(F.lit(1), F.size(lines))  # 1-based, aligned with element_at
    scope = _star_scope_idx(lines, idx)
    vals = F.transform(
        scope,
        lambda i: F.regexp_extract(F.element_at(lines, i), _DISALLOW_RE, 1),
    )
    prefixes = F.filter(vals, lambda v: v != "")
    return F.coalesce(prefixes, F.array().cast("array<string>"))


#: value of an ``Allow:`` line (leading ws / case-insensitive directive)
_ALLOW_RE = r"(?i)^\s*allow\s*:\s*(\S*)"


def robots_rules_expr(text: Column) -> Column:
    """Parse a raw robots.txt body into its ``User-agent: *`` rule list —
    ``array<struct<prefix:string, allow:boolean>>``, document order.

    The full-precedence sibling of :func:`robots_prefixes_expr`: it keeps
    ``Allow:`` lines too, so :func:`robots_allowed_rfc` can apply RFC 9309
    §2.2.2 longest-match precedence (most specific rule wins; Allow wins
    length ties). Same merged-group scoping (:func:`_star_scope_idx`), same
    codegen-only machinery; empty rule values are dropped on both
    directives."""
    lines = F.split(text, "\n")
    idx = F.sequence(F.lit(1), F.size(lines))
    scope = _star_scope_idx(lines, idx)

    def rule(i: Column) -> Column:
        line = F.element_at(lines, i)
        dis = F.regexp_extract(line, _DISALLOW_RE, 1)
        alw = F.regexp_extract(line, _ALLOW_RE, 1)
        return F.when(
            alw != "", F.struct(alw.alias("prefix"), F.lit(True).alias("allow"))
        ).when(dis != "", F.struct(dis.alias("prefix"), F.lit(False).alias("allow")))

    rules = F.array_compact(F.transform(scope, rule))
    empty = F.array().cast("array<struct<prefix:string,allow:boolean>>")
    return F.coalesce(rules, empty)


def robots_allowed_rfc(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """RFC 9309 §2.2.2 verdict: among the rules whose prefix matches the
    URL path?query, the LONGEST prefix wins; an Allow wins length ties; no
    matching rule (or no robots row) means allowed.

    ``robots(host, rules array<struct<prefix,allow>>)`` is the per-host dim
    from :func:`robots_rules_expr` — broadcast join, verdict evaluated with
    higher-order array functions entirely in codegen (no Python, no
    explode: the rule list never leaves its row)."""
    path = url_path_query_expr(F.col("url_canon"))
    joined = frontier.join(F.broadcast(robots.select("host", "rules")), "host", "left")
    matches = F.filter(F.col("rules"), lambda r: path.startswith(r["prefix"]))
    best = F.array_max(F.transform(matches, lambda r: F.length(r["prefix"])))
    allowed = (
        F.when(F.col("rules").isNull(), F.lit(True))
        .when(F.size(matches) == 0, F.lit(True))
        .otherwise(
            F.exists(matches, lambda r: r["allow"] & (F.length(r["prefix"]) == best))
        )
    )
    return joined.withColumn("_allowed", allowed).filter(F.col("_allowed")).drop(
        "_allowed", "rules"
    )


def politeness_cap(politeness: DataFrame, default_budget: int) -> int:
    """Max budget across the politeness dim — the literal bound that lets
    Catalyst plan the map-side WindowGroupLimit. The dim is static for a
    crawl, so compute this ONCE and pass it to every round's
    :func:`apply_politeness_budget`: a driver collect per round is pure
    flat cost that Amdahl charges straight against N→4N efficiency."""
    dim_max = politeness.agg(F.max("max_fetches_per_round")).collect()[0][0]
    return max(default_budget, dim_max) if dim_max is not None else default_budget


def apply_politeness_budget(
    frontier: DataFrame,
    politeness: DataFrame,
    default_budget: int,
    cap: int,
) -> tuple[DataFrame, DataFrame]:
    """Split the round's frontier into (scheduled, deferred).

    Per host, the first ``max_fetches_per_round`` entries in deterministic
    ``(priority, round_added, seq)`` order are scheduled this round; the rest
    carry over. This is the window-function replacement for the reference's
    global ticket pool (SURVEY.md §2.3 F6) — the ordering makes the schedule
    a *data* property, identical under any parallelism.

    Scale note (hot-host skew): the window partitions by ``host``, so a
    single hot host would rank all its rows in ONE task. Two measures keep
    that off the critical path at 10^10-URL scale:

    * the ``_rk <= lit(cap)`` bound (cap = :func:`politeness_cap`, the
      max budget across the politeness dim, once per crawl) lets Catalyst
      plan a *partial* ``WindowGroupLimit`` BEFORE the shuffle — every map task
      keeps at most ``cap`` rows per host, so the post-shuffle hot-host
      partition holds ≤ cap × map_tasks rows instead of the host's whole
      frontier;
    * ``deferred`` is frontier ∖ scheduled via a ``left_anti`` join on the
      unique ``url_canon`` key (hash-partitioned — host-skew-free) instead
      of the ``rank > budget`` side of a full window, which would have
      forced ranking every row of the hot host anyway.
    """
    joined = frontier.join(
        F.broadcast(politeness.select("host", "max_fetches_per_round")), "host", "left"
    ).withColumn(
        "_budget",
        F.coalesce(F.col("max_fetches_per_round"), F.lit(default_budget)),
    )
    w = Window.partitionBy("host").orderBy("priority", "round_added", "seq")
    ranked = joined.withColumn("_rk", F.row_number().over(w))
    # the literal bound is implied by (_rk <= _budget) but triggers the
    # map-side WindowGroupLimit; keep it first in the conjunction.
    scheduled = ranked.filter(
        (F.col("_rk") <= F.lit(cap)) & (F.col("_rk") <= F.col("_budget"))
    ).drop("_rk", "_budget", "max_fetches_per_round")
    deferred = frontier.join(
        scheduled.select("url_canon"), "url_canon", "left_anti"
    )
    return scheduled, deferred


_SITEMAP_RE = r"(?i)^\s*sitemap\s*:\s*(\S+)"


def sitemap_urls_expr(text: Column) -> Column:
    """``Sitemap:`` directive URLs from a raw robots.txt body —
    ``array<string>``, document order, first-occurrence dedup.

    Unlike Allow/Disallow/Crawl-delay, Sitemap records are independent of
    any ``User-agent`` group (sitemaps.org protocol; RFC 9309 treats them
    as "other records" outside group scope), so EVERY line counts — no
    :func:`_star_scope_idx` here on purpose. Directive matching is
    case-insensitive and whitespace-tolerant; URL values keep their case.
    Pure codegen (split + transform + one regexp per line), map-only: the
    ~10^7 robots bodies of a 10^10-URL crawl parse in one columnar pass,
    and the output feeds :mod:`crawler_spark.sources.sitemap` seed
    expansion directly."""
    lines = F.split(text, "\n")
    vals = F.transform(lines, lambda l: F.regexp_extract(l, _SITEMAP_RE, 1))
    return F.array_distinct(F.filter(vals, lambda v: v != ""))


def sitemaps_from_robots(
    df: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """``(host, robots_txt)`` → ``(host, pos, sitemap_url)``, one row per
    discovered sitemap, document order per host. The discovery half of the
    sitemap seed pipeline (expansion half: ``sources/sitemap.py``)."""
    return df.select(
        F.col(host_col).alias("host"),
        F.posexplode(sitemap_urls_expr(F.col(text_col))).alias("pos", "sitemap_url"),
    ).select("host", F.col("pos").cast("int").alias("pos"), "sitemap_url")


_CRAWL_DELAY_RE = r"(?i)^\s*crawl-delay\s*:\s*([0-9]+)"


def crawl_delay_expr(text: Column) -> Column:
    """``Crawl-delay`` seconds from the ``User-agent: *`` scope of a raw
    robots.txt body — NULL when absent/malformed. Same merged-group
    selection (:func:`_star_scope_idx`) and codegen-only shape as
    :func:`robots_prefixes_expr`; first Crawl-delay in scope (document
    order across merged groups) wins."""
    lines = F.split(text, "\n")
    idx = F.sequence(F.lit(1), F.size(lines))
    scope = _star_scope_idx(lines, idx)
    vals = F.transform(
        scope,
        lambda i: F.regexp_extract(F.element_at(lines, i), _CRAWL_DELAY_RE, 1),
    )
    first = F.get(F.filter(vals, lambda v: v != ""), 0)
    return first.cast("int")


def budgets_from_crawl_delay(
    robots_raw: DataFrame,
    round_seconds: int = 60,
    default_budget: int = 16,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Derive the per-host politeness dim from robots Crawl-delay: a host
    asking for one fetch every D seconds gets ``max(1, round_seconds/D)``
    fetches per round (a round models ``round_seconds`` of wall time);
    hosts without a delay keep ``default_budget``. Output matches the
    ``politeness(host, max_fetches_per_round)`` contract of
    :func:`apply_politeness_budget`. Map-only, no shuffle."""
    d = crawl_delay_expr(F.col(text_col))
    # explicit floor: Spark's double→int cast truncates but other engines
    # round, so the truncation is spelled out rather than relied on
    budget = F.when(
        d.isNotNull() & (d > 0),
        F.greatest(F.lit(1), F.floor(F.lit(round_seconds) / d).cast("int")),
    ).otherwise(F.lit(default_budget))
    return robots_raw.select(
        F.col(host_col).alias("host"), budget.alias("max_fetches_per_round")
    )


def rank_weighted_budgets(
    ranks: DataFrame,
    node_col: str,
    rank_col: str,
    total_budget: int,
    min_budget: int = 1,
) -> DataFrame:
    """Allocate a global fetch budget across hosts proportionally to a
    link-value rank (PageRank feeding the politeness dimension — the
    north-rule "priority queue" closed end to end):
    ``budget = max(min_budget, floor(total_budget · rank / Σrank))``.

    Cross-engine determinism: the global Σ is taken over
    ``DECIMAL(18,8)`` casts of the (8-d.p.-rounded) ranks — decimal
    addition is exact, so the total is independent of partition/reduction
    order, where a double Σ would drift ulps between engines and plans.
    The share then returns to DOUBLE (one correctly-rounded conversion
    per operand) and the floor is written explicitly (Spark's double→int
    cast truncates while DuckDB's rounds — CLAUDE.md rule).

    Plan shape: a scalar aggregate broadcast back over the rank frame
    (one tiny exchange), never a SinglePartition global window.
    """
    dec = F.col(rank_col).cast("decimal(18,8)")
    tot = ranks.agg(F.sum(dec).alias("_tot"))
    # Operand ORDER matters for bit-identical replay: the SQL twin's
    # `total * pr / tot` is left-associative, i.e. (total·pr)/tot. Build
    # the same tree here — total*(pr/tot) can differ by an ulp, which
    # flips floor() at an integer boundary (round-4 advice).
    alloc = (F.lit(float(total_budget)) * dec.cast("double")) / F.col("_tot").cast(
        "double"
    )
    return ranks.crossJoin(F.broadcast(tot)).select(
        F.col(node_col),
        F.greatest(F.lit(min_budget), F.floor(alloc).cast("int")).alias("budget"),
    )


def adaptive_politeness(
    fetch_log: DataFrame,
    host_col: str = "host",
    ts_col: str = "ts",
    latency_col: str = "latency_ms",
    alpha: float = 0.25,
    k: float = 4.0,
    min_delay_ms: int = 100,
) -> DataFrame:
    """Latency-adaptive per-host crawl delay (the Heritrix
    "adaptive politeness" family): ``delay = max(min_delay,
    floor(k · EWMA(latency)))`` with the EWMA folded over each host's
    fetch history in ``(ts, latency)`` order — a slow server backs the
    crawler off automatically, a fast one is revisited sooner. This is
    the MEASURED-latency complement to ``budgets_from_crawl_delay``
    (the host's DECLARED crawl-delay) exactly as ``change_rate_priority``
    complements the sitemap's declared cadence.

    Output: ``(host, n_obs, ewma_latency, delay_ms)``.

    The per-host recurrence ``ewma ← round8(α·x + (1-α)·ewma)``
    (seeded with the first observation) is inherently sequential, so it
    runs as an in-row JVM ``aggregate`` fold over the host's collected
    history — ONE host-keyed exchange with map-side partial
    ``collect_list``, no window, no UDF. History length is bounded by
    the per-round politeness cap (a host contributes at most its fetch
    budget per round), so the collected arrays are small by
    construction at any corpus scale.

    ``round8`` here is NOT the engine ``round(…, 8)``: DuckDB's double
    round computes the last digit differently from the JVM's on ~1% of
    values (measured — one mid-fold ulp then propagates to the end of
    the chain), so the per-step rounding is written as
    ``floor(x·1e8 + 0.5) / 1e8`` — multiply, add, floor, divide are all
    individually correctly-rounded IEEE ops, hence bit-identical in any
    engine. The fold is replayed by DuckDB ``list_reduce`` over the
    same ordered list; the delay floor is explicit per the cross-engine
    cast rule.
    """

    def _round8(c: Column) -> Column:
        return F.floor(c * F.lit(1e8) + F.lit(0.5)).cast("double") / F.lit(1e8)

    obs = fetch_log.select(
        F.col(host_col).alias("host"),
        F.struct(
            F.col(ts_col).alias("ts"), F.col(latency_col).alias("lat")
        ).alias("o"),
    )
    hist = obs.groupBy("host").agg(
        F.sort_array(F.collect_list("o")).alias("h")
    )
    ew = F.aggregate(
        F.slice(F.col("h"), 2, F.size("h")),
        F.element_at(F.col("h"), 1).getField("lat").cast("double"),
        lambda acc, x: _round8(
            F.lit(alpha) * x.getField("lat") + F.lit(1.0 - alpha) * acc
        ),
    )
    return hist.select(
        "host",
        F.size("h").cast("long").alias("n_obs"),
        ew.alias("ewma_latency"),
        F.greatest(
            F.lit(min_delay_ms).cast("long"),
            F.floor(F.lit(k) * ew).cast("long"),
        ).alias("delay_ms"),
    )
