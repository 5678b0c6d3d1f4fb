"""Structured Streaming tier: incremental crawl (foreachBatch rounds fed
back through a watched directory), cross-batch keyed state
(applyInPandasWithState lifetime budget) and watermarked URL dedup."""

import datetime as dt
import os
import re
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.corpus import make_corpus
from crawler_spark.oracle import crawl_oracle
from crawler_spark.streaming import (
    StreamCrawlConfig,
    stateful_host_budget,
    stream_crawl,
)


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(seed=11, n_hosts=6, pages_per_host=10, n_seed_hosts=3)


def _inputs(spark, corpus):
    pages = spark.createDataFrame(corpus["pages"])
    seeds = spark.createDataFrame(corpus["seeds"])
    robots = spark.createDataFrame(corpus["robots"])
    politeness = spark.createDataFrame(corpus["politeness"])
    return pages, seeds, robots, politeness


def _oracle(corpus, max_rounds=60, default_budget=16):
    pages = {r.url: bytes(r.html).decode("utf-8") for r in corpus["pages"].itertuples()}
    seeds = [(r.url, int(r.priority), int(r.seq)) for r in corpus["seeds"].itertuples()]
    robots = {r.host: list(r.disallow_prefixes) for r in corpus["robots"].itertuples()}
    budgets = {
        r.host: int(r.max_fetches_per_round) for r in corpus["politeness"].itertuples()
    }
    return crawl_oracle(
        pages, seeds, robots, budgets, default_budget=default_budget, max_rounds=max_rounds
    )


def test_stream_crawl_drains_to_oracle_sets(spark, corpus, tmp_path_factory):
    """At drain, the streaming crawl's seen set and fetched-url set equal
    the batch oracle's: politeness only reorders rounds/batches, never
    changes the reachable closure."""
    work = str(tmp_path_factory.mktemp("stream_crawl"))
    pages, seeds, robots, politeness = _inputs(spark, corpus)
    cfg = StreamCrawlConfig(work_dir=work, default_budget=16, n_buckets=8, max_passes=60)
    res = stream_crawl(spark, pages, seeds, robots, politeness, cfg)
    oracle = _oracle(corpus)

    got_seen = {r["url_canon"] for r in res["seen"].collect()}
    assert got_seen == oracle.seen

    got_fetched = {
        r["url"] for r in res["schedule"].filter(F.col("fetched")).collect()
    }
    want_fetched = {e.url for e in oracle.schedule if e.fetched}
    assert got_fetched == want_fetched

    # every scheduled url exactly once (dedup + carry-over bookkeeping)
    n = res["schedule"].count()
    assert n == res["schedule"].select("url").distinct().count()
    assert n == len(oracle.schedule)


def test_stream_crawl_budget_never_exceeded_per_batch(spark, corpus, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("stream_budget"))
    pages, seeds, robots, politeness = _inputs(spark, corpus)
    cfg = StreamCrawlConfig(work_dir=work, default_budget=3, n_buckets=8, max_passes=60)
    res = stream_crawl(spark, pages, seeds, robots, politeness, cfg)
    budgets = {
        r.host: int(r.max_fetches_per_round) for r in corpus["politeness"].itertuples()
    }
    per = (
        res["schedule"].groupBy("batch_id", "host").agg(F.count("*").alias("n")).collect()
    )
    assert per, "no batches scheduled"
    for r in per:
        assert r["n"] <= budgets.get(r["host"], 3), (r["host"], r["batch_id"], r["n"])


def test_stream_crawl_rerun_is_noop(spark, corpus, tmp_path_factory):
    """Restarting over the same work_dir re-offers only new files (the
    re-written seeds); everything is already seen → seen set unchanged."""
    work = str(tmp_path_factory.mktemp("stream_resume"))
    pages, seeds, robots, politeness = _inputs(spark, corpus)
    cfg = StreamCrawlConfig(work_dir=work, default_budget=16, n_buckets=8, max_passes=60)
    first = stream_crawl(spark, pages, seeds, robots, politeness, cfg)
    seen1 = {r["url_canon"] for r in first["seen"].collect()}
    sched1 = first["schedule"].count()
    second = stream_crawl(spark, pages, seeds, robots, politeness, cfg)
    assert {r["url_canon"] for r in second["seen"].collect()} == seen1
    assert second["schedule"].count() == sched1


def test_stream_rejects_admit_first_work_dir(spark, tmp_path_factory):
    """A work_dir left by the admit-first stream (a checkpoint, candidate
    rows in the watched directory, no seen/seeds) raises ValueError naming
    it before anything is scheduled: read as frontier rows, its candidates
    would carry null host, bucket and url_hash."""
    work = str(tmp_path_factory.mktemp("stream_admit_first"))
    cfg = StreamCrawlConfig(work_dir=work, n_buckets=8)
    os.makedirs(cfg.checkpoint)
    os.makedirs(os.path.join(cfg.seen_dir, "batch=0"))
    os.makedirs(cfg.frontier_in)
    pd.DataFrame(
        {"url_canon": ["https://h.example/p/1"], "priority": [0], "first_occ_a": [1],
         "first_occ_b": [0], "seq": [None], "round_added": [None]}
    ).astype(
        {"priority": "int32", "first_occ_a": "int64", "first_occ_b": "int64",
         "seq": "Int64", "round_added": "Int32"}
    ).to_parquet(os.path.join(cfg.frontier_in, "b0-0.parquet"))
    pages = spark.createDataFrame(
        [("https://h.example/p/0", '<a href="/p/1">a</a>'), ("https://h.example/p/1", "x")],
        "url string, html string",
    )
    seeds = spark.createDataFrame(
        [("https://h.example/p/0", 0, 0)], "url string, priority int, seq long"
    )
    with pytest.raises(ValueError, match=re.escape(work)):
        stream_crawl(spark, pages, seeds, None, None, cfg)
    assert not os.path.exists(cfg.schedule_dir)


# --- crash-anywhere resume ------------------------------------------------------
#
# The stream writes its seen deltas through scheduler._snapshot, its schedule
# through scheduler._write_state and the watched directory's files through
# crawl_stream._publish. Each case raises at one of them (the crash_at
# fixture, tests/conftest.py), for the seeds or in batch 1, then reruns
# stream_crawl on the same work_dir.


@pytest.fixture(scope="module")
def fault_corpus():
    return make_corpus(seed=7, n_hosts=3, pages_per_host=6, n_seed_hosts=2)


def _fault_stream(spark, corpus, work):
    pages, seeds, robots, politeness = _inputs(spark, corpus)
    cfg = StreamCrawlConfig(work_dir=work, default_budget=2, n_buckets=4, max_passes=60)
    res = stream_crawl(spark, pages, seeds, robots, politeness, cfg)
    schedule = sorted(
        tuple(r)
        for r in res["schedule"].select("batch_id", "url", "priority", "seq", "fetched").collect()
    )
    return schedule, {r["url_canon"] for r in res["seen"].collect()}


@pytest.fixture(scope="module")
def uninterrupted_stream(spark, fault_corpus, tmp_path_factory):
    return _fault_stream(spark, fault_corpus, str(tmp_path_factory.mktemp("stream_clean")))


@pytest.mark.parametrize(
    "write, target",
    [
        ("_snapshot", os.path.join("seen", "seeds")),
        ("_publish", "seeds"),
        ("_write_state", os.path.join("schedule", "batch=1")),
        ("_snapshot", os.path.join("seen", "batch=1")),
        ("_publish", "b1"),
    ],
)
def test_stream_crash_at_any_write_resumes_to_uninterrupted_stream(
    spark, fault_corpus, uninterrupted_stream, tmp_path_factory, crash_at, write, target
):
    """A stream killed at any one write of the seeds or of batch 1, rerun on
    the same work_dir, ends with the schedule and seen set of a stream that
    was never interrupted."""
    import crawler_spark.scheduler as sch
    from crawler_spark.streaming import crawl_stream

    def hit(*args, **kwargs):
        if write == "_publish":
            return args[3] == target
        path = args[1] if write == "_write_state" else args[2]
        return path.rstrip(os.sep).endswith(target)

    hits = crash_at(crawl_stream if write == "_publish" else sch, write, hit)
    work = str(tmp_path_factory.mktemp("stream_crash"))
    with pytest.raises(Exception, match="injected crash"):
        _fault_stream(spark, fault_corpus, work)
    assert hits == [write]
    assert _fault_stream(spark, fault_corpus, work) == uninterrupted_stream


def _ts(h, m=0):
    return dt.datetime(2025, 3, 1, h, m)


def test_stateful_host_budget_lifetime_cap(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("statebudget"))
    rows1 = [("h1", f"http://h1/{i}", 0, i) for i in range(4)] + [
        ("h2", "http://h2/0", 0, 100)
    ]
    rows2 = [("h1", f"http://h1/x{i}", 0, 10 + i) for i in range(4)] + [
        ("h2", "http://h2/1", 0, 101)
    ]
    schema = "host string, url_canon string, priority int, seq long"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(base + "/b0")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(base + "/b1")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/*")
    )
    q = (
        stateful_host_budget(stream, total_cap=5)
        .writeStream.format("memory")
        .queryName("budget_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("select * from budget_out").collect()
    per_host = {}
    for r in out:
        per_host.setdefault(r["host"], []).append(r["seq"])
    # lifetime cap across BOTH batches: h1 admits 4 then only 1 more
    assert sorted(per_host["h1"]) == [0, 1, 2, 3, 10]
    assert sorted(per_host["h2"]) == [100, 101]


def test_url_dedup_stream_drops_in_horizon_duplicates(spark, tmp_path_factory):
    """First arrival of each url_canon is emitted; a re-fetch within the
    watermark horizon is dropped; a re-fetch far beyond it re-emits (state
    for the key was evicted — burst-dedup tier, not forever-dedup)."""
    from crawler_spark.streaming import url_dedup_stream
    import time

    base = str(tmp_path_factory.mktemp("streamdedup"))
    batches = [
        [(_ts(0, 0), "u1"), (_ts(0, 1), "u2")],
        [(_ts(0, 30), "u1")],              # dup 30min later: inside 1h horizon
        [(_ts(5, 0), "adv")],              # watermark advancer
        [(_ts(6, 0), "adv2")],             # eviction lag (SPARK-40925)
        [(_ts(7, 0), "u1")],               # u1 again, hours later: re-emits
    ]
    t0 = time.time()
    for i, rows in enumerate(batches):
        d = os.path.join(base, f"f{i}")
        spark.createDataFrame(rows, "warc_ts timestamp, url_canon string").coalesce(
            1
        ).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t0 + 60 * i, t0 + 60 * i))
    stream = (
        spark.readStream.schema("warc_ts timestamp, url_canon string")
        .option("maxFilesPerTrigger", 1)
        .parquet(base + "/*")
    )
    q = (
        url_dedup_stream(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        (r["url_canon"], r["warc_ts"].hour)
        for r in spark.sql(
            "select * from stream_dedup order by warc_ts"
        ).collect()
    ]
    assert got.count(("u1", 0)) == 1      # 00:30 duplicate dropped
    assert ("u2", 0) in got
    assert ("u1", 7) in got               # beyond horizon: re-emitted
