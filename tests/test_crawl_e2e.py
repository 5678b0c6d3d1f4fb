"""End-to-end: Spark BSP crawl == pure-Python oracle on the synthetic corpus.

Checks the three north_rule correctness gates:
1. identical crawl schedule (round, priority, seq, url),
2. identical final URL-seen set,
3. byte-identical extracted text per url,
plus kill-and-resume equivalence from a mid-crawl checkpoint.
"""

import os

import pytest
from pyspark.sql import functions as F

from crawler_spark.corpus import make_corpus
from crawler_spark.oracle import crawl_oracle
from crawler_spark.rules.htmlpath import html_visible_text
from crawler_spark.scheduler import CrawlConfig, crawl


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(seed=42, n_hosts=10, pages_per_host=12, n_seed_hosts=5)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    pages = {
        r.url: bytes(r.html).decode("utf-8") for r in corpus["pages"].itertuples()
    }
    seeds = [(r.url, int(r.priority), int(r.seq)) for r in corpus["seeds"].itertuples()]
    robots = {
        r.host: list(r.disallow_prefixes) for r in corpus["robots"].itertuples()
    }
    budgets = {
        r.host: int(r.max_fetches_per_round) for r in corpus["politeness"].itertuples()
    }
    return crawl_oracle(pages, seeds, robots, budgets, default_budget=16, max_rounds=12)


def _spark_inputs(spark, corpus):
    pages = spark.createDataFrame(corpus["pages"])
    seeds = spark.createDataFrame(corpus["seeds"])
    robots = spark.createDataFrame(corpus["robots"])
    politeness = spark.createDataFrame(corpus["politeness"])
    return pages, seeds, robots, politeness


def _schedule_tuples_spark(result):
    return [
        (r["round"], r["priority"], r["seq"], r["url"], r["fetched"])
        for r in result.schedule.orderBy("round", "priority", "seq").collect()
    ]


def _schedule_tuples_oracle(oracle_result):
    out = []
    for e in oracle_result.schedule:
        out.append((e.round, e.priority, e.seq, e.url, e.fetched))
    # oracle emits rounds in order and within a round in (priority, seq) order
    return sorted(out, key=lambda t: (t[0], t[1], t[2]))


def test_crawl_matches_oracle(spark, corpus, oracle_result, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_oracle"))
    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    cfg = CrawlConfig(checkpoint_dir=ckpt, max_rounds=12, default_budget=16, n_buckets=8)
    result = crawl(spark, pages, seeds, robots, politeness, cfg)

    got = _schedule_tuples_spark(result)
    want = _schedule_tuples_oracle(oracle_result)
    assert len(got) == len(want)
    assert got == want

    got_seen = {r["url_canon"] for r in result.seen.collect()}
    assert got_seen == oracle_result.seen


def test_extracted_text_byte_identical(spark, corpus):
    """input_hint invariant: extracted text per url == oracle extraction."""
    pages = spark.createDataFrame(corpus["pages"])
    from crawler_spark.rules.spark import as_text
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def extract_text(html: pd.Series) -> pd.Series:
        return html.map(lambda h: html_visible_text(h if h is not None else ""))

    rows = pages.select(
        "url", "text", extract_text(as_text(F.col("html"))).alias("got")
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["got"] == r["text"], r["url"]


def test_resume_from_checkpoint_identical(spark, corpus, oracle_result, tmp_path_factory):
    """Kill after round k, resume → identical schedule + seen set."""
    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)

    ckpt = str(tmp_path_factory.mktemp("ckpt_resume"))
    cfg_partial = CrawlConfig(
        checkpoint_dir=ckpt, max_rounds=3, default_budget=16, n_buckets=8
    )
    partial = crawl(spark, pages, seeds, robots, politeness, cfg_partial)
    assert partial.rounds == 3

    cfg_full = CrawlConfig(
        checkpoint_dir=ckpt, max_rounds=12, default_budget=16, n_buckets=8
    )
    resumed = crawl(spark, pages, seeds, robots, politeness, cfg_full, resume=True)

    got = _schedule_tuples_spark(resumed)
    want = _schedule_tuples_oracle(oracle_result)
    assert got == want
    got_seen = {r["url_canon"] for r in resumed.seen.collect()}
    assert got_seen == oracle_result.seen


def test_metrics_and_budget_invariant(spark, corpus, tmp_path_factory):
    """Politeness: no host exceeds its budget in any round."""
    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    ckpt = str(tmp_path_factory.mktemp("ckpt_metrics"))
    cfg = CrawlConfig(checkpoint_dir=ckpt, max_rounds=12, default_budget=16, n_buckets=8)
    result = crawl(spark, pages, seeds, robots, politeness, cfg)

    per_host = (
        result.schedule.groupBy("round", "host")
        .agg(F.count("*").alias("n"))
        .join(politeness, "host", "left")
        .withColumn("budget", F.coalesce("max_fetches_per_round", F.lit(16)))
    )
    violations = per_host.filter(F.col("n") > F.col("budget")).count()
    assert violations == 0
    assert result.metrics.count() > 0
    # lineage counters add up: sum(scheduled) == schedule rows
    total = result.metrics.agg(F.sum("scheduled")).collect()[0][0]
    assert total == result.schedule.count()
    # the mergeable distinct-URL lineage: unioning every (round, bucket)
    # sketch estimates the seen-set size without rescanning any round.
    # Admissions are exactly-once (seen filter), so exact == sum(admitted)
    # == |seen| - |seeds already counted at round 0|; just compare against
    # the true distinct count with the lg_k=12 error envelope (~1.6% RSE).
    est = (
        result.metrics.filter(F.col("url_sketch").isNotNull())
        .agg(F.hll_sketch_estimate(F.hll_union_agg("url_sketch")).alias("e"))
        .collect()[0][0]
    )
    exact = result.metrics.agg(F.sum("admitted")).collect()[0][0]
    assert abs(est - exact) / max(exact, 1) < 0.05


def test_resume_from_pre_frontier_size_manifest(spark, corpus, oracle_result, tmp_path_factory):
    """Manifests written before frontier_size existed must still resume
    (one count() fallback), and the arithmetic must pick up correctly."""
    import json

    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    ckpt = str(tmp_path_factory.mktemp("ckpt_oldmanifest"))
    cfg = CrawlConfig(checkpoint_dir=ckpt, max_rounds=3, default_budget=16, n_buckets=8)
    crawl(spark, pages, seeds, robots, politeness, cfg)
    mpath = os.path.join(ckpt, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    assert "frontier_size" in m
    del m["frontier_size"]  # simulate a pre-change checkpoint
    with open(mpath, "w") as f:
        json.dump(m, f)
    cfg_full = CrawlConfig(
        checkpoint_dir=ckpt, max_rounds=12, default_budget=16, n_buckets=8
    )
    resumed = crawl(spark, pages, seeds, robots, politeness, cfg_full, resume=True)
    got = _schedule_tuples_spark(resumed)
    want = _schedule_tuples_oracle(oracle_result)
    assert got == want


def test_resume_from_manifest_naming_bloom_path(spark, corpus, oracle_result, tmp_path_factory):
    """A manifest written while the crawl kept a Bloom filter also names a
    ``bloom_path``. Resume ignores the key (the exact seen log decides
    alone) and still reaches the oracle schedule."""
    import json

    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    ckpt = str(tmp_path_factory.mktemp("ckpt_bloompath"))
    cfg = CrawlConfig(checkpoint_dir=ckpt, max_rounds=3, default_budget=16, n_buckets=8)
    crawl(spark, pages, seeds, robots, politeness, cfg)
    mpath = os.path.join(ckpt, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    assert "bloom_path" not in m
    # the pre-change layout: the last round's filter snapshot, never written
    # by this crawl, so a resume that read it would fail
    m["bloom_path"] = os.path.join(ckpt, "round=2", "bloom")
    with open(mpath, "w") as f:
        json.dump(m, f)
    cfg_full = CrawlConfig(checkpoint_dir=ckpt, max_rounds=12, default_budget=16, n_buckets=8)
    resumed = crawl(spark, pages, seeds, robots, politeness, cfg_full, resume=True)
    assert _schedule_tuples_spark(resumed) == _schedule_tuples_oracle(oracle_result)


def test_checkpoint_layout_iceberg_migration_contract(spark, corpus, tmp_path_factory, monkeypatch):
    """The parquet-dir checkpoint IS the Iceberg migration contract (SURVEY
    S7): pin the layout so swapping _snapshot/_write_manifest for
    writeTo().createOrReplace()/append() + catalog snapshot ids is a pure
    substitution (the sandbox has no Iceberg jars, so the CONTRACT is the
    testable artifact):

    * manifest.json carries exactly the resume keys — the stand-ins for
      catalog snapshot pointers (scheduler.py:556),
    * the seen state is an append-only DELTA LOG: one dir per round, and
      earlier deltas are byte-identical after further rounds run from a
      resume — writeTo(seen).append() semantics, never rewrite,
    * the multi-path delta-log read equals the final seen set,
    * frontier snapshots lay out rows by (bucket, url_hash%16): a slot
      never spans part files, so the layout is re-derivable from row
      columns alone — Iceberg's bucket()-transform property (the salt's
      skew-kill shape itself is plan-pinned in test_plans.py).
    """
    import glob
    import hashlib
    import json

    import crawler_spark.scheduler as sch

    monkeypatch.setattr(sch, "SEEN_COMPACT_EVERY", 10_000)  # keep the raw delta log
    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    ckpt = str(tmp_path_factory.mktemp("ckpt_layout"))
    cfg = CrawlConfig(checkpoint_dir=ckpt, max_rounds=3, default_budget=16, n_buckets=8)
    result = crawl(spark, pages, seeds, robots, politeness, cfg)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man = json.load(f)
    assert set(man) == {
        "next_round", "seq_offset", "frontier_size",
        "frontier_path", "seen_paths",
    }
    rounds = result.rounds
    assert rounds == 3 and man["next_round"] == rounds
    # append-only delta log: the seed snapshot (round=-1) plus one delta
    # per executed round, all present
    assert man["seen_paths"] == [
        os.path.join(ckpt, f"round={r}", "seen") for r in range(-1, rounds)
    ]
    assert all(os.path.isdir(p) for p in man["seen_paths"])
    for r in range(rounds):
        for state in ("frontier", "schedule", "metrics"):
            assert os.path.isdir(os.path.join(ckpt, f"round={r}", state)), (r, state)
    # the crawl state is frontier, seen log and manifest: no filter snapshot
    assert not glob.glob(os.path.join(ckpt, "round=*", "bloom"))

    def digest(path):
        return {
            os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in sorted(glob.glob(os.path.join(path, "*.parquet")))
        }

    before = {p: digest(p) for p in man["seen_paths"]}
    assert all(before.values())  # every delta has part files

    # resume and run the crawl to completion: the old deltas must be
    # APPENDED AROUND, not rewritten (their bytes are immutable)
    cfg_full = CrawlConfig(checkpoint_dir=ckpt, max_rounds=12, default_budget=16, n_buckets=8)
    resumed = crawl(spark, pages, seeds, robots, politeness, cfg_full, resume=True)
    assert resumed.rounds > rounds
    for p, d in before.items():
        assert digest(p) == d, f"delta {p} was rewritten"
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man2 = json.load(f)
    # the log grew monotonically and the multi-path read IS the seen set
    assert man2["seen_paths"][: rounds + 1] == man["seen_paths"]
    log_urls = {
        r["url_canon"]
        for r in spark.read.parquet(*man2["seen_paths"]).select("url_canon").collect()
    }
    assert log_urls == {r["url_canon"] for r in resumed.seen.select("url_canon").collect()}

    # bucketed layout addressability: one (bucket, salt) slot, one file
    fr = spark.read.parquet(man2["frontier_path"]).select(
        F.input_file_name().alias("f"),
        "bucket",
        F.pmod("url_hash", F.lit(16)).alias("salt"),
    )
    spans = (
        fr.groupBy("bucket", "salt")
        .agg(F.countDistinct("f").alias("nf"))
        .filter(F.col("nf") > 1)
        .count()
    )
    assert spans == 0


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_duplicate_url_canon_corpus_fails_loudly(spark, corpus, tmp_path_factory):
    """Two pages with one canonical url break the fetch join's contract
    (each scheduled url fetches at most one page): crawl init and resume
    both raise, naming the key, and leave no cache behind."""
    _, seeds, robots, politeness = _spark_inputs(spark, corpus)
    dup = spark.createDataFrame(
        [
            ("https://Host1.example/p/1", "<html>a</html>"),
            ("https://host1.example/p/1#top", "<html>b</html>"),
        ],
        "url string, html string",
    )
    before = _persisted(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_dup"))
    cfg = CrawlConfig(checkpoint_dir=ckpt, max_rounds=2, default_budget=16, n_buckets=8)
    with pytest.raises(ValueError, match="'https://host1.example/p/1'"):
        crawl(spark, dup, seeds, robots, politeness, cfg)
    assert not os.path.exists(os.path.join(ckpt, "manifest.json"))

    # a checkpoint written over a valid corpus, resumed over a broken one
    pages = spark.createDataFrame(corpus["pages"])
    crawl(spark, pages, seeds, robots, politeness, cfg)
    with pytest.raises(ValueError, match="'https://host1.example/p/1'"):
        crawl(spark, pages.select("url", "html").unionByName(dup), seeds, robots,
              politeness, cfg, resume=True)
    assert _persisted(spark) == before


def test_failed_round_releases_caches(spark, corpus, tmp_path_factory, monkeypatch):
    """A round that raises mid-way must not strand the crawl's caches
    (corpus, scheduled, ok, fetched, fresh, the seq-assignment cache)."""
    import crawler_spark.scheduler as sch

    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    write_state = sch._write_state

    def failing_write(df, path, *a, **k):
        if f"{os.sep}round=1{os.sep}" in path:
            raise RuntimeError("injected round-1 write failure")
        return write_state(df, path, *a, **k)

    monkeypatch.setattr(sch, "_write_state", failing_write)
    before = _persisted(spark)
    ckpt = str(tmp_path_factory.mktemp("ckpt_fail"))
    cfg = CrawlConfig(checkpoint_dir=ckpt, max_rounds=4, default_budget=16, n_buckets=8)
    with pytest.raises(RuntimeError, match="injected"):
        crawl(spark, pages, seeds, robots, politeness, cfg)
    assert _persisted(spark) == before


# Spark jobs of one steady round on this corpus (local[8], 8 shuffle
# partitions): the budget this round shape was measured at.
STEADY_ROUND_JOBS = 27


def test_steady_round_job_budget(spark, corpus, tmp_path_factory):
    """A steady round's job count, as the job-group difference between a
    3-round and a 2-round crawl, stays within the pinned budget."""
    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    sc = spark.sparkContext

    def jobs(rounds):
        group = f"steady-round-budget-{rounds}"
        cfg = CrawlConfig(
            checkpoint_dir=str(tmp_path_factory.mktemp(f"ckpt_jobs{rounds}")),
            max_rounds=rounds, default_budget=16, n_buckets=8,
        )
        sc.setJobGroup(group, "steady-round job budget")
        try:
            assert crawl(spark, pages, seeds, robots, politeness, cfg).rounds == rounds
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    steady = jobs(3) - jobs(2)
    assert 0 < steady <= STEADY_ROUND_JOBS, steady


def _plan_nodes(plan):
    """Node names of a plan tree, NOT descending into cached relations
    (their plans ran when the cache was built)."""
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _plan_nodes(kids.apply(i))
    return names


def test_steady_round_fetch_reads_canonical_corpus_cache(
    spark, corpus, tmp_path_factory, monkeypatch
):
    """The corpus is canonicalized once per crawl: a steady round's fetch
    join reads it from the cache and evaluates no Python UDF
    (ArrowEvalPython) on the corpus side."""
    import crawler_spark.scheduler as sch

    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    fetch_join_fn = sch._fetch_join
    plans = []

    def recording(corpus_df, scheduled):
        ok = fetch_join_fn(corpus_df, scheduled)
        plans.append(_plan_nodes(ok._jdf.queryExecution().optimizedPlan()))
        return ok

    monkeypatch.setattr(sch, "_fetch_join", recording)
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_fetchplan")),
        max_rounds=3, default_budget=16, n_buckets=8,
    )
    crawl(spark, pages, seeds, robots, politeness, cfg)
    assert len(plans) == 3
    steady = plans[2]
    assert "ArrowEvalPython" not in steady, steady
    assert "InMemoryRelation" in steady, steady


# --- crash-anywhere resume ------------------------------------------------------
#
# Every write of a crawl step goes through one of three module globals of the
# scheduler: _write_state (schedule, metrics), _snapshot (frontier, seen
# delta, seen compaction) and _write_manifest. Each case raises at one of
# them (the crash_at fixture, tests/conftest.py), in the seed state
# (round -1) or in round 1, then resumes.

# seen_paths reaches 3 in round 1 (seed delta + rounds 0 and 1), so round 1
# also compacts the seen log: every kind of write happens in that round
_FAULT_COMPACT_EVERY = 3
_FAULT_ROUNDS = 3


@pytest.fixture(scope="module")
def fault_corpus():
    return make_corpus(seed=7, n_hosts=3, pages_per_host=6, n_seed_hosts=2)


def _crawl_outcome(result):
    schedule = _schedule_tuples_spark(result)
    seen = {r["url_canon"] for r in result.seen.collect()}
    metrics = sorted(
        (r["round"], r["bucket"], r["scheduled"], r["fetch_ok"], r["admitted"])
        for r in result.metrics.collect()
    )
    return schedule, seen, metrics


def _fault_crawl(spark, corpus, ckpt, resume=False):
    pages, seeds, robots, politeness = _spark_inputs(spark, corpus)
    cfg = CrawlConfig(
        checkpoint_dir=ckpt, max_rounds=_FAULT_ROUNDS, default_budget=2, n_buckets=4
    )
    return crawl(spark, pages, seeds, robots, politeness, cfg, resume=resume)


@pytest.fixture(scope="module")
def uninterrupted(spark, fault_corpus, tmp_path_factory):
    mp = pytest.MonkeyPatch()
    import crawler_spark.scheduler as sch

    mp.setattr(sch, "SEEN_COMPACT_EVERY", _FAULT_COMPACT_EVERY)
    try:
        result = _fault_crawl(spark, fault_corpus, str(tmp_path_factory.mktemp("ckpt_clean")))
        assert result.rounds == _FAULT_ROUNDS
        return _crawl_outcome(result)
    finally:
        mp.undo()


@pytest.mark.parametrize(
    "write, rnd, name",
    [
        ("_snapshot", -1, "frontier"),
        ("_snapshot", -1, "seen"),
        ("_write_manifest", -1, None),
        ("_write_state", 1, "schedule"),
        ("_write_state", 1, "metrics"),
        ("_snapshot", 1, "frontier"),
        ("_snapshot", 1, "seen"),
        ("_snapshot", 1, "seen_compacted"),
        ("_write_manifest", 1, None),
    ],
)
def test_crash_at_any_write_resumes_to_uninterrupted_crawl(
    spark, fault_corpus, uninterrupted, tmp_path_factory, monkeypatch, crash_at,
    write, rnd, name,
):
    """A crawl killed at any one write of the seed state or of round 1
    resumes (``resume=True``) to the schedule, seen set and per-round,
    per-bucket metrics counts of a crawl that was never interrupted."""
    import crawler_spark.scheduler as sch

    monkeypatch.setattr(sch, "SEEN_COMPACT_EVERY", _FAULT_COMPACT_EVERY)

    def hit(*args, **kwargs):
        if write == "_write_manifest":
            return args[1]["next_round"] == rnd + 1
        path = args[1] if write == "_write_state" else args[2]
        return path.rstrip(os.sep).endswith(os.path.join(f"round={rnd}", name))

    hits = crash_at(sch, write, hit)
    ckpt = str(tmp_path_factory.mktemp("ckpt_crash"))
    with pytest.raises(RuntimeError, match="injected crash"):
        _fault_crawl(spark, fault_corpus, ckpt)
    resumed = _fault_crawl(spark, fault_corpus, ckpt, resume=True)
    assert hits == [write]
    assert resumed.rounds == _FAULT_ROUNDS
    assert _crawl_outcome(resumed) == uninterrupted
