"""Structured Streaming tier: incremental crawl (foreachBatch rounds fed
back through a watched directory), cross-batch keyed state
(applyInPandasWithState lifetime budget) and watermarked URL dedup."""

import datetime as dt
import os
import sys

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
