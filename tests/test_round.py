"""The crawl round's stages (scheduler.admit / fetch_round / expand) as the
streaming crawl and the benchmark kernel run them."""

import os

import pytest

from crawler_spark.benchmarks import frontier_round_kernel
from crawler_spark.corpus import make_corpus
from crawler_spark.streaming import StreamCrawlConfig, stream_crawl


def _persisted(spark):
    """Ids of the session's persisted RDDs. Compare ids, not counts: the
    JVM's ContextCleaner may unpersist an unreachable RDD of an earlier test
    while this one runs."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_stream_rejects_duplicate_url_canon_corpus(spark, tmp_path_factory):
    """Two pages with one canonical url break the fetch join's contract:
    the stream raises the batch crawl's ValueError, naming the key, before
    it publishes anything, and leaves no cache behind."""
    pages = spark.createDataFrame(
        [
            ("https://h.example/p/0", '<a href="/p/1">a</a>'),
            ("HTTPS://H.example:443/p/0", '<a href="/p/2">b</a>'),
            ("https://h.example/p/1", "<p>leaf</p>"),
            ("https://h.example/p/2", "<p>leaf</p>"),
        ],
        "url string, html string",
    )
    seeds = spark.createDataFrame(
        [("https://h.example/p/0", 0, 0)], "url string, priority int, seq long"
    )
    cfg = StreamCrawlConfig(work_dir=str(tmp_path_factory.mktemp("stream_dup")), n_buckets=8)
    before = _persisted(spark)
    with pytest.raises(ValueError, match="'https://h.example/p/0'"):
        stream_crawl(spark, pages, seeds, None, None, cfg)
    assert not os.path.exists(cfg.frontier_in)
    assert _persisted(spark) - before == set()


def _plan_nodes(plan):
    """Node names of a plan tree, NOT descending into cached relations."""
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _plan_nodes(kids.apply(i))
    return names


def test_stream_batches_fetch_from_canonical_corpus_cache(
    spark, tmp_path_factory, monkeypatch
):
    """The stream canonicalizes its corpus once: every batch's fetch join
    reads it from the cache and evaluates no Python UDF on the corpus side,
    and the stream releases the cache when it drains."""
    import crawler_spark.scheduler as sch

    corpus = make_corpus(seed=11, n_hosts=6, pages_per_host=10, n_seed_hosts=3)
    pages = spark.createDataFrame(corpus["pages"])
    seeds = spark.createDataFrame(corpus["seeds"])
    fetch_join_fn = sch._fetch_join
    plans = []

    def recording(corpus_df, scheduled):
        ok = fetch_join_fn(corpus_df, scheduled)
        plans.append(_plan_nodes(ok._jdf.queryExecution().optimizedPlan()))
        return ok

    monkeypatch.setattr(sch, "_fetch_join", recording)
    before = _persisted(spark)
    cfg = StreamCrawlConfig(
        work_dir=str(tmp_path_factory.mktemp("stream_corpus")), n_buckets=8, max_passes=60
    )
    res = stream_crawl(spark, pages, seeds, None, None, cfg)
    assert res["schedule"].count() > 0
    assert len(plans) >= 2
    for nodes in plans:
        assert "ArrowEvalPython" not in nodes, nodes
        assert "InMemoryRelation" in nodes, nodes
    assert _persisted(spark) - before == set()


def test_frontier_round_kernel_smoke(spark):
    """The bench kernel runs the production stages end to end and returns
    the keys bench.py reads."""
    n_urls, n_hosts = 20_000, 100
    before = _persisted(spark)
    r = frontier_round_kernel(spark, n_urls=n_urls, n_hosts=n_hosts)
    assert 0 < r["urls_scheduled"] <= n_hosts * 512
    assert r["outlinks"] > 0
    for key in (
        "round_wall_sec",
        "urls_scheduled_per_sec",
        "canary_sec",
        "canary_io_sec",
    ):
        assert key in r, key
    assert _persisted(spark) - before == set()


def test_assign_seq_dense_in_admission_order_for_any_bounds(spark):
    """``_assign_seq`` ranks the allowed rows densely from ``seq_offset`` in
    (first_occ_a, first_occ_b) order whatever the bounds — empty,
    duplicated, all below or above the keys, one per key — and blocked
    rows get no seq."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from crawler_spark.scheduler import _assign_seq

    def bounds_for(kind, keys, extra):
        if kind == "empty":
            return []
        if kind == "duplicated":
            return sorted(extra + extra)
        if kind == "below":
            return [min(keys, default=0) - 1 - x for x in extra]
        if kind == "above":
            return [max(keys, default=0) + 1 + x for x in extra]
        if kind == "per_key":
            return sorted(set(keys))
        return extra

    @settings(max_examples=25, deadline=None)
    @given(
        rows=st.dictionaries(
            st.tuples(st.integers(0, 30), st.integers(0, 4)), st.booleans(), max_size=40
        ),
        kind=st.sampled_from(["empty", "duplicated", "below", "above", "per_key", "random"]),
        extra=st.lists(st.integers(-5, 35), max_size=6),
        seq_offset=st.integers(0, 1 << 40),
    )
    def check(rows, kind, extra, seq_offset):
        cands = spark.createDataFrame(
            [
                (f"https://h.example/{a}/{b}", "h.example", 0, a * 10 + b, 0, a, b, ok)
                for (a, b), ok in rows.items()
            ],
            "url_canon string, host string, bucket int, url_hash long, priority int, "
            "first_occ_a long, first_occ_b long, allowed boolean",
        )
        out = _assign_seq(cands, bounds_for(kind, [a for a, _ in rows], extra), seq_offset, 3)
        try:
            got = {r["url_canon"]: r["seq"] for r in out.collect()}
        finally:
            out._assign_seq_cache.unpersist()
        allowed = sorted(k for k, ok in rows.items() if ok)
        want = {f"https://h.example/{a}/{b}": seq_offset + i for i, (a, b) in enumerate(allowed)}
        assert got == want
        assert out._assign_seq_total == len(allowed)
        assert out._assign_seq_fresh == len(rows)

    before = _persisted(spark)
    check()
    assert _persisted(spark) - before == set()
