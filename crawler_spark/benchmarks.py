"""Scale-oriented benchmark kernels (north-rule metric).

BASELINE.json's headline metric is *URLs-scheduled/sec + frontier-round
wall-time* with *scaling efficiency >= 0.8 from N to 4N executors*. The
sandbox has no multi-node cluster, so (per BASELINE.md) the scaling
criterion is evidenced by running the SAME kernel on the SAME input at two
parallelism levels (local[8] vs local[32]) and comparing throughput.

The kernel below is one frontier round over Spark-generated synthetic
inputs, run through the production stages of the scheduler
(crawler_spark.scheduler.admit / fetch_round / expand):

    generate urls -> canonicalize (Arrow UDF) -> admit: first-occurrence
      dedup -> exact anti-join vs seen -> robots -> seq
      -> fetch: per-host politeness window -> broadcast fetch-as-join
      -> expand: outlink extraction (mapInArrow)

Input is generated *distributed* (spark.range + column exprs, no
driver-side pandas) so the kernel scales to arbitrary n_urls; it is a pure
function of n_urls/n_hosts (no wall clock, no rand()), so two parallelism
levels see byte-identical input.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from crawler_spark.frontier.canon import (
    canon_expr,
    host_bucket_expr,
    host_expr,
    url_hash_expr,
)
from crawler_spark.scheduler import _collect_seq_bounds, _release, admit, expand, fetch_round

# deterministic pseudo-uniform in [0, 1): Knuth multiplicative hash mod a
# prime — same value for a given id at any parallelism.
_MIX = 2654435761
_PRIME = 1000003


def _u(col):
    return (F.pmod(col * F.lit(_MIX), F.lit(_PRIME))).cast("double") / F.lit(float(_PRIME))


def synth_frontier(spark: SparkSession, n_urls: int, n_hosts: int) -> DataFrame:
    """Raw (uncanonicalized) URL batch with Zipf-ish host skew.

    Hosts are drawn as floor(n_hosts * u^2): quadratic density → host 0 is
    ~hot like a real crawl frontier. URLs carry uppercase scheme/host and an
    explicit default port so canonicalization does real work per row.
    """
    df = spark.range(n_urls).withColumn("host_id", (F.lit(n_hosts) * _u(F.col("id")) * _u(F.col("id"))).cast("long"))
    return df.select(
        F.col("id"),
        F.col("host_id"),
        F.format_string(
            "HTTPS://H%d.Example.com:443/p/%d?x=%d", F.col("host_id"), F.col("id"), F.pmod(F.col("id"), F.lit(7))
        ).alias("url"),
    )


def synth_pages(urls: DataFrame, links_per_page: int = 3, filler_words: int = 60) -> DataFrame:
    """Corpus for fetch-as-join: one html body per canonical URL mixing
    relative, absolute same-host, and cross-host outlinks plus filler prose
    (Common-Crawl-ish pages carry tens of links in KBs of html — page
    richness sets the Python-CPU : shuffle-byte ratio of the round)."""
    link_exprs = []
    fmt_parts = []
    for j in range(links_per_page):
        kind = j % 3
        if kind == 0:
            fmt_parts.append('<a href="/p/%d">n</a> ')
            link_exprs.append(F.col("id") + F.lit(j + 1))
        elif kind == 1:
            fmt_parts.append('<a href="https://h%d.example.com/p/%d">s</a> ')
            link_exprs.append(F.col("host_id"))
            link_exprs.append(F.col("id") + F.lit(j + 1))
        else:
            fmt_parts.append('<a href="https://h%d.example.com/">x</a> ')
            link_exprs.append(F.pmod(F.col("id") + F.lit(j), F.lit(97)))
    filler = " ".join(f"word{w}" for w in range(filler_words))
    fmt = "<html><body>" + "".join(fmt_parts) + "<p>body %d " + filler + "</p></body></html>"
    return urls.select(
        F.lower(F.regexp_replace("url", ":443", "")).alias("url_canon"),
        F.format_string(fmt, *link_exprs, F.col("id")).alias("html"),
    )


# I/O canary probe sizing: 16 × 4 MiB fsync'd chunks = 64 MiB per probe.
_IO_PROBE_CHUNK_MIB = 4
_IO_PROBE_CHUNKS = 16


def io_probe_sec() -> float:
    """Fixed fsync'd-WRITE probe (r5): 64 MiB of fixed pseudo-random bytes
    written in 16 chunks, each fsync'd to the device, then removed.

    Why a write, not the "small staged-parquet scan" the r4 verdict
    sketched: with 128 GiB of RAM every re-read of a fixed probe file is
    served from page cache after the first attempt — a scan probe would go
    blind to disk contention the moment it warmed up. fsync cannot be
    served from cache: it blocks until the device (shared with the noisy
    neighbors that r4's CPU-quiet 17.6–42.2 s spread implicates) accepts
    the writeback, which is exactly the path the kernel's shuffle/persist
    writes stall on during an episode. The payload is fixed
    (RandomState(0), incompressible) so the probe measures the box, never
    the data. Runs single-threaded on the driver — it marks attempts, it
    is not part of any timed region."""
    import numpy as np

    buf = np.random.RandomState(0).bytes(_IO_PROBE_CHUNK_MIB * 1024 * 1024)
    d = tempfile.mkdtemp(prefix="canary_io_")
    t0 = time.monotonic()
    try:
        for i in range(_IO_PROBE_CHUNKS):
            with open(os.path.join(d, f"c{i}"), "wb") as f:
                f.write(buf)
                f.flush()
                os.fsync(f.fileno())
        return round(time.monotonic() - t0, 3)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# The kernel's fixed round shape: per-host budget, state buckets, one url in
# SEEN_EVERY pre-marked seen (a realistic revisit rate for the exact seen
# anti-join), page richness (real pages carry tens of links in KBs of
# html), and one host in ROBOTS_EVERY disallowing the /p/1 prefix.
BUDGET = 512
N_BUCKETS = 32
SEEN_EVERY = 3
LINKS_PER_PAGE = 12
FILLER_WORDS = 60
ROBOTS_EVERY = 4


def frontier_round_kernel(
    spark: SparkSession,
    n_urls: int = 1_000_000,
    n_hosts: int = 2_000,
) -> dict:
    """One frontier round at scale; returns timings + throughput.

    Synthetic inputs (set up untimed): ``n_urls`` raw candidate urls over
    ``n_hosts`` hosts, a seen table holding every ``SEEN_EVERY``-th url, a
    robots table, and the corpus. The timed round is the scheduler's own
    stages over raw candidates: admit → fetch_round → expand (``crawl()``
    runs the same stages as fetch_round → expand → admit).
    """
    raw = synth_frontier(spark, n_urls, n_hosts)
    pages = synth_pages(raw, links_per_page=LINKS_PER_PAGE, filler_words=FILLER_WORDS)

    # pre-seen state: every k-th URL, already canonical
    seen = (
        raw.filter(F.pmod("id", F.lit(SEEN_EVERY)) == 0)
        .select(F.lower(F.regexp_replace("url", ":443", "")).alias("url_canon"))
        .withColumn("host", host_expr(F.col("url_canon")))
        .withColumn("bucket", host_bucket_expr(F.col("host"), N_BUCKETS))
        .withColumn("url_hash", url_hash_expr(F.col("url_canon")))
        .select("url_hash", "bucket", "url_canon")
    )
    seen.persist()
    seen.count()
    robots = spark.range(0, n_hosts, ROBOTS_EVERY).select(
        F.format_string("h%d.example.com", F.col("id")).alias("host"),
        F.array(F.lit("/p/1")).alias("disallow_prefixes"),
    )
    politeness = spark.createDataFrame([], "host string, max_fetches_per_round int")
    # DISK_ONLY (→ spark.local.dir, lz4 via spark.rdd.compress), NOT the
    # default deserialized MEMORY_AND_DISK: the corpus as raw JVM strings is
    # ~2 KiB/page (UTF-16 + object headers) — at 24M pages that is ~50 GB
    # inside a 64 GB heap, and the whole round becomes a GC/memory-capacity
    # wall that flatlines the local[32] leg (BENCH_scaling_24M.json eff
    # 0.27 before this change). Compressed-serialized blocks model the real
    # deployment — executors re-reading a compressed Iceberg/parquet corpus
    # — and turn the re-read into decompression CPU, which scales with
    # cores.
    pages.persist(StorageLevel.DISK_ONLY)
    pages.count()

    # Kernel-embedded canary (r4): a FIXED pure-CPU probe (64M string-hash
    # xor, no I/O, no shuffle read) timed inside every attempt, so kernel
    # numbers can be canary-normalized across rounds exactly like suite
    # numbers — this VM's baseline speed drifts ~1.3x between days and
    # whole-noise episodes swallow entire attempts (runs_wall_sec spreads
    # of 3-5x with identical plans). The workload is constant: its wall
    # time measures the box, not the engine. Valid only between equal-core
    # runs (fixed 32 tasks ÷ available slots).
    ct0 = time.monotonic()
    spark.range(0, 64_000_000, 1, 32).select(
        F.bit_xor(F.xxhash64(F.concat(F.lit("canary:"), F.col("id"))))
    ).collect()
    canary_sec = round(time.monotonic() - ct0, 3)
    # I/O-side twin (r5): fsync'd-write probe marks disk contention the
    # pure-CPU probe is blind to (BENCH_r04 attempts with quiet CPU probes
    # still spread 17.6–42.2 s). Both probes run OUTSIDE the timed round.
    canary_io_sec = io_probe_sec()

    t0 = time.monotonic()
    cands = raw.select(
        canon_expr(F.col("url")).alias("url_canon"),
        F.lit(0).alias("priority"),
        F.col("id").alias("first_occ_a"),
        F.lit(0).cast("long").alias("first_occ_b"),
    )
    caches = []
    try:
        fresh, frontier = admit(
            cands, seen, robots, N_BUCKETS, 0, 0, _collect_seq_bounds(cands)
        )
        caches.append(fresh)
        fetched, _deferred = fetch_round(frontier, pages, politeness, BUDGET, BUDGET)
        caches += fetched._fetch_round_caches
        n_outlinks = expand(fetched, F.col("seq")).count()
        n_scheduled = fetched.count()  # served from the stage's cache
        wall = time.monotonic() - t0
    finally:
        _release(caches)
        seen.unpersist()
        pages.unpersist()
    return {
        "n_urls": n_urls,
        "n_hosts": n_hosts,
        "urls_scheduled": n_scheduled,
        "outlinks": n_outlinks,
        "round_wall_sec": round(wall, 3),
        "urls_scheduled_per_sec": round(n_scheduled / wall, 1),
        "urls_in_per_sec": round(n_urls / wall, 1),
        "canary_sec": canary_sec,
        "canary_io_sec": canary_io_sec,
    }
