"""BSP crawl scheduler — frontier rounds as DataFrame jobs.

Replaces the reference's goroutine/channel pipeline
(/root/reference/collector.go:63-79, collector-url.go:19-39, pool.go) with
Bulk-Synchronous-Parallel rounds, per SURVEY.md §3/§7:

    frontier ──politeness window──▶ scheduled ──join corpus──▶ fetched
        ▲                                                        │
        │                                                outlink explode
        └── deferred ∪ (dedup → anti-join seen → robots verdict → seq) ◀┘

Every round is checkpointed (schedule, metrics, then frontier, seen delta
and manifest in one checkpoint step) to parquet snapshots, so a killed job
resumes exactly (north_rule). Iceberg would slot in here as the table
format; the sandbox has no Iceberg jars, so the state store is parquet-dir
snapshots with the same append/replace semantics (see storage.py).

Scale notes (10^10-URL frontier):
* frontier/seen state is partitioned by salted host-bucket
  (pmod(xxhash64(host), n_buckets)) — joins against it co-partition, hot
  hosts spread across salt, AQE splits residual skew;
* the seen check is one exact ``left_anti`` join on ``url_canon``: the
  candidates arrive hash-partitioned by ``url_canon`` from the admission
  dedup, so only the seen side moves (crawler_spark.frontier.seen);
* the seen table is an append-only DELTA LOG (one parquet dir of newly
  admitted urls per round, manifest lists the paths) — checkpoint write
  cost per round is O(new urls), not O(total seen); Iceberg maps this to
  writeTo(seen).append();
* admission persists ONE cache per round: the deduped unseen urls with
  their robots verdict as a column. The seen delta is all of its rows,
  the admitted frontier rows are its allowed ones;
* seq assignment needs a global total order over each round's NEW urls
  only (not the whole frontier). Approximate quantiles of the order key,
  observed on the round's schedule write at no extra job, cut it into
  ranges, one partition each; per-range ranks + range-size offsets give
  the rank without a sampling job or a single-partition window;
* a step whose row count the driver knows to fit one part file (the
  frontier into the politeness window, the metrics aggregate, a state
  snapshot) runs as ONE partition: no exchange moves its few hundred
  rows. Above ``SNAPSHOT_ROWS_PER_PART`` rows each keeps its exchange.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from crawler_spark.frontier.canon import (
    canon_expr,
    flat_outlinks,
    host_bucket_expr,
    host_expr,
    url_hash_expr,
)
from crawler_spark.frontier.politeness import (
    apply_politeness_budget,
    politeness_cap,
    robots_allowed,
)

FRONTIER_SCHEMA = StructType(
    [
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
        StructField("bucket", IntegerType()),
        StructField("url_hash", LongType()),
        StructField("priority", IntegerType()),
        StructField("round_added", IntegerType()),
        StructField("seq", LongType()),
    ]
)

SEEN_SCHEMA = StructType(
    [
        StructField("url_hash", LongType()),
        StructField("bucket", IntegerType()),
        StructField("url_canon", StringType()),
    ]
)

SCHEDULE_DDL = "round int, url string, host string, priority int, seq long, fetched boolean"
METRICS_DDL = (
    "round int, bucket int, scheduled long, fetch_ok long, admitted long, url_sketch binary"
)

# rows per part file of a state snapshot whose row count the driver knows
# (see _snapshot): a round of a few hundred frontier rows writes one file.
# Also the bound of _fits_one_part: a step of at most this many rows runs
# as one partition
SNAPSHOT_ROWS_PER_PART = 2048

# compact the append-only seen delta log whenever it reaches this many
# segments: rewrite the union into ONE bucketed snapshot and reset the log.
# Keeps the per-round read at O(segments) directories instead of O(rounds) —
# after R rounds an uncompacted log is R small-file dirs, the classic
# many-snapshots death at 10^10 URLs. Amortized write cost stays O(total/K
# per compaction); Iceberg maps this to rewrite_data_files.
SEEN_COMPACT_EVERY = 8


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    max_rounds: int = 50
    default_budget: int = 16
    n_buckets: int = 32


@dataclass
class CrawlResult:
    schedule: DataFrame
    seen: DataFrame
    metrics: DataFrame
    rounds: int = 0


def _ckpt(cfg: CrawlConfig, rnd: int, name: str) -> str:
    return os.path.join(cfg.checkpoint_dir, f"round={rnd}", name)


def _write_state(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _manifest_path(cfg: CrawlConfig) -> str:
    return os.path.join(cfg.checkpoint_dir, "manifest.json")


def _write_manifest(cfg: CrawlConfig, state: dict) -> None:
    tmp = _manifest_path(cfg) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, _manifest_path(cfg))


def read_manifest(checkpoint_dir: str) -> dict | None:
    path = os.path.join(checkpoint_dir, "manifest.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _fits_one_part(rows: int | None) -> bool:
    """Whether a step of ``rows`` rows (None: unknown to the driver) fits
    one part: ``ceil(rows / SNAPSHOT_ROWS_PER_PART) <= 1``. Such a step is
    ``coalesce(1)``'d — a single partition satisfies any clustered
    distribution, so the grouping, window or join above it plans no
    exchange, and the job that exchange would have cost is not run."""
    return rows is not None and rows <= SNAPSHOT_ROWS_PER_PART


def _seq_bounds(spark: SparkSession, key: Column) -> Column:
    """Aggregate column ``seq_bounds``: approximate quantiles of the
    admission key ``key`` (nulls ignored) cutting it into
    ``defaultParallelism`` ranges — the ``bounds`` of :func:`_assign_seq`.
    An aggregate, so a write can carry it as an ``Observation`` at no
    extra job; null over no rows."""
    nparts = spark.sparkContext.defaultParallelism
    fractions = [i / nparts for i in range(1, nparts)] or [0.5]
    return F.percentile_approx(key, fractions).alias("seq_bounds")


def _collect_seq_bounds(cands: DataFrame) -> list[int]:
    """:func:`_seq_bounds` of admission candidates that no earlier write
    observed (the seeds, the benchmark kernel's batch): one aggregate
    over ``first_occ_a``."""
    return cands.agg(_seq_bounds(cands.sparkSession, F.col("first_occ_a"))).first()[0] or []


def seed_candidates(seeds: DataFrame) -> DataFrame:
    """seeds(url, priority, seq) → admission candidates ``(url_canon,
    priority, first_occ_a, first_occ_b)``: canonicalized, keyed by seed seq."""
    return seeds.select(
        canon_expr(F.col("url")).alias("url_canon"),
        F.col("priority").cast("int").alias("priority"),
        F.col("seq").cast("long").alias("first_occ_a"),
        F.lit(0).cast("long").alias("first_occ_b"),
    )


def _dedup_candidates(cands: DataFrame, n_buckets: int) -> DataFrame:
    """Global first-occurrence dedup within one admission batch: keep the
    occurrence with the smallest (first_occ_a, first_occ_b) — for seeds
    that's seed seq, for outlinks (parent rank, position in page).

    Input carries only (url_canon, priority, first_occ_a, first_occ_b);
    host/bucket/url_hash are derived AFTER the aggregate. They are pure
    functions of url_canon, so first()-carrying them through the groupBy
    exchange shipped ~32 redundant bytes/row (host string + two hashes +
    three first-agg buffers) for every candidate of the round — post-agg
    derivation spends a few hash/parse instructions on the (smaller)
    deduped set instead. Measured: ~30% off the admission exchange at 6M
    URLs/round."""
    deduped = (
        cands.groupBy("url_canon")
        .agg(F.min(F.struct("first_occ_a", "first_occ_b", "priority")).alias("f"))
        .select(
            "url_canon",
            F.col("f.priority").alias("priority"),
            F.col("f.first_occ_a").alias("first_occ_a"),
            F.col("f.first_occ_b").alias("first_occ_b"),
        )
    )
    deduped = deduped.withColumn("host", host_expr(F.col("url_canon")))
    return deduped.select(
        "url_canon",
        "host",
        host_bucket_expr(F.col("host"), n_buckets).alias("bucket"),
        url_hash_expr(F.col("url_canon")).alias("url_hash"),
        "priority",
        "first_occ_a",
        "first_occ_b",
    )


def _assign_seq(
    fresh: DataFrame, bounds: list[int], seq_offset: int, round_added: int
) -> DataFrame:
    """Deterministic global seq for the ``allowed`` rows of ``fresh``,
    ordered by first occurrence — a rank over key RANGES, no sampling job
    and no single-partition global window:

    1. each row's range = the number of ``bounds`` ≤ its ``first_occ_a``;
       ``repartitionById`` puts each range in its own partition (ranges
       past ``nparts`` wrap around; :func:`_seq_bounds` makes exactly
       ``nparts``), and the result is persisted — the round's one
       admission cache;
    2. one collect counts rows per range (a row per range, O(nparts), no
       exchange: the cache is already partitioned by range), prefix-summed
       into per-range offsets over the allowed rows;
    3. seq = ``row_number`` over the allowed rows of each range (window
       partitioned by range — no exchange either) + that range's offset.

    Any sorted ``bounds`` give the same seq: a range holds every row of
    each ``first_occ_a`` it covers, and ranges follow key order. Bounds
    only balance the ranges, so approximate ones (:func:`_seq_bounds`)
    are enough and a replay with other bounds assigns the same seq. A
    plain ``Window.orderBy(...)`` here would funnel every row of the round
    through ONE task; at 10^8 new urls/round that task is the whole job.

    Ordering contract: ADMISSION order only — (first_occ_a, first_occ_b) =
    (seed seq) for seeds, (parent schedule rank, in-page position) for
    outlinks. The candidate's own priority must NOT reorder admission (it
    affects scheduling, not seq). Blocked rows (``allowed`` false) get no
    seq and are not returned.

    Returns the frontier rows of the allowed urls. ``_assign_seq_cache`` is
    the cache (every row of ``fresh``, plus ``_part``), which the caller
    unpersists after materializing the round's state; ``_assign_seq_total``
    and ``_assign_seq_fresh``, the allowed and all row counts, are free
    by-products of the offsets collect."""
    nparts = fresh.sparkSession.sparkContext.defaultParallelism
    bounds = sorted(bounds)
    part = (
        F.size(F.filter(F.array(*map(F.lit, bounds)).cast("array<long>"),
                        lambda b: b <= F.col("first_occ_a")))
        if bounds else F.lit(0)
    )
    cached = fresh.withColumn("_part", part).repartitionById(nparts, "_part")
    cached.persist()
    try:
        counts = sorted(
            cached.groupBy("_part")
            .agg(F.count("*").alias("n"), F.count_if("allowed").alias("n_allowed"))
            .collect(),
            key=lambda r: r["_part"],
        )
    except BaseException:
        cached.unpersist()
        raise
    offsets, acc = [], seq_offset
    for r in counts:
        offsets += [r["_part"], acc]
        acc += r["n_allowed"]
    off_expr = (
        F.element_at(F.create_map(*map(F.lit, offsets)), F.col("_part"))
        if offsets else F.lit(seq_offset)
    )
    w = Window.partitionBy("_part").orderBy("first_occ_a", "first_occ_b")
    out = cached.filter(F.col("allowed")).select(
        "url_canon",
        "host",
        "bucket",
        "url_hash",
        "priority",
        F.lit(round_added).cast("int").alias("round_added"),
        (F.row_number().over(w).cast("long") + off_expr.cast("long") - 1).alias("seq"),
    )
    out._assign_seq_cache = cached
    out._assign_seq_total = acc - seq_offset
    out._assign_seq_fresh = sum(r["n"] for r in counts)
    return out


def _canonical_corpus(pages: DataFrame) -> DataFrame:
    """The fetch side of every round: ``pages`` projected to ``(url_canon,
    html)``, canonicalized ONCE per crawl and persisted (at scale this is the
    Iceberg pages table, already stored canonical). Left lazy, every round's
    fetch join would re-run the ``canon_expr`` UDF over the whole corpus.

    The round's frontier-size arithmetic relies on the pages-table contract
    that ``url_canon`` is unique; the job that materializes the cache checks
    it and raises ``ValueError`` naming a duplicate key. The caller owns the
    cache and unpersists it when the crawl ends."""
    corpus = pages.select(
        canon_expr(F.col("url")).alias("url_canon"), F.col("html").cast("string").alias("html")
    )
    corpus.persist()
    try:
        # one global row (the smallest duplicate key, or null): no incremental
        # limit scans over the partitions
        dup = (
            corpus.groupBy("url_canon")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .agg(F.min(F.struct("url_canon", "n")).alias("dup"))
            .collect()[0]["dup"]
        )
        if dup is not None:
            raise ValueError(
                f"pages corpus breaks the unique-url_canon contract: {dup['url_canon']!r} "
                f"is the canonical url of {dup['n']} pages"
            )
    except BaseException:
        corpus.unpersist()
        raise
    return corpus


def _fetch_join(corpus: DataFrame, scheduled: DataFrame) -> DataFrame:
    """Fetch-as-join: the scheduled rows whose page is in the corpus, with
    its html.

    The scheduled set is budget-bounded (≤ hosts × max_fetches_per_round),
    so it is broadcast and the html-bearing corpus is probed MAP-SIDE — the
    corpus, whose rows carry the page bodies, is never shuffled (a
    sort-merge join here ships the whole corpus through the shuffle every
    round). At warehouse scale the broadcast doubles as a runtime filter
    pruning the Iceberg scan."""
    return corpus.join(F.broadcast(scheduled), "url_canon", "inner")


def _release(caches: list[DataFrame]) -> None:
    for df in caches:
        df.unpersist()
    caches.clear()


# --- round stages --------------------------------------------------------------
#
# One implementation of each stage of a crawl round. crawl() and the
# streaming crawl's micro-batch both run them as fetch → expand → admit
# (admission closes a round and yields the next round's frontier rows); the
# benchmark kernel runs admit → fetch → expand over synthetic candidates.


def admit(
    cands: DataFrame,
    seen: DataFrame | None,
    robots: DataFrame | None,
    n_buckets: int,
    seq_offset: int,
    round_added: int,
    bounds: list[int],
) -> tuple[DataFrame, DataFrame]:
    """Admission: candidate rows ``(url_canon, priority, first_occ_a,
    first_occ_b)`` → first-occurrence dedup → unseen filter against ``seen``
    (skipped when ``seen`` is None) → robots verdict → seq.

    Returns ``(fresh, new_entries)``. ``fresh`` is the round's one
    admission cache: the deduped unseen urls with their robots verdict
    (``allowed``), persisted once by :func:`_assign_seq`. It is the seen
    delta — a disallowed url is remembered so it is never reconsidered,
    but never admitted; the caller releases it. ``new_entries`` are the
    admitted (allowed) frontier rows, read from that cache (seq from
    ``seq_offset`` in admission order; ``bounds`` balance the seq ranges,
    see :func:`_assign_seq`). ``new_entries._assign_seq_total`` and
    ``._assign_seq_fresh`` count the admitted and the fresh urls."""
    fresh = _dedup_candidates(cands, n_buckets)
    if seen is not None:
        # Join on url_canon ALONE: string equality is exact by itself (no
        # reliance on the 64-bit hash, whose birthday collisions at 10^10
        # URLs are expected), and — decisive for the plan — the candidates
        # arrive hash-partitioned by url_canon from the dedup's groupBy, so
        # a url_canon-keyed sort-merge anti-join reuses that exchange: only
        # the seen side shuffles. A composite (url_hash, url_canon) key
        # would force a second full exchange of the candidates for zero
        # extra exactness.
        fresh = fresh.join(seen.select("url_canon"), "url_canon", "left_anti")
    fresh = (
        robots_allowed(fresh, robots) if robots is not None
        else fresh.withColumn("allowed", F.lit(True))
    )
    new_entries = _assign_seq(fresh, bounds, seq_offset, round_added)
    return new_entries._assign_seq_cache, new_entries


def fetch_round(
    frontier: DataFrame,
    corpus: DataFrame,
    politeness: DataFrame,
    cap: int,
    budget: int,
) -> tuple[DataFrame, DataFrame]:
    """Fetch: politeness window over ``frontier`` (``budget`` fetches per host
    unless ``politeness`` says otherwise) → fetch-as-join against the
    canonical ``corpus`` (:func:`_canonical_corpus`) → misses.

    Returns ``(fetched, deferred)``: ``fetched`` = the scheduled rows with
    ``html`` and a ``fetched`` flag (ok ∪ miss; a miss, the reference's
    failed fetch, carries null html), ``deferred`` = the frontier rows over
    their host's budget. ``fetched._fetch_round_caches`` lists what this
    stage persisted; the caller releases it."""
    scheduled, deferred = apply_politeness_budget(frontier, politeness, budget, cap=cap)
    # reused by the fetch join, the miss anti-join, AND deferred's
    # frontier∖scheduled anti-join — cache the window output once
    scheduled.persist()

    # Left-outer semantics (miss = fetch failure) are recovered with a
    # cheap anti-join of the two small sides; miss derives from the
    # PERSISTED ok so the anti-join reads the cache, not a re-join.
    ok = _fetch_join(corpus, scheduled).withColumn("fetched", F.lit(True))
    ok.persist()
    miss = (
        scheduled.join(F.broadcast(ok.select("url_canon")), "url_canon", "left_anti")
        .withColumn("html", F.lit(None).cast("string"))
        .withColumn("fetched", F.lit(False))
    )
    fetched = ok.unionByName(miss.select(*ok.columns))
    fetched.persist()
    fetched._fetch_round_caches = [scheduled, ok, fetched]
    return fetched, deferred


def expand(fetched: DataFrame, occ_a: Column) -> DataFrame:
    """Outlink expansion: the outlinks of ``fetched``'s fetched pages as
    admission candidates ``(url_canon, priority=0, first_occ_a,
    first_occ_b)``, already canonical. ``occ_a``, a column over the parent
    row, is the parent's term of the child's admission key; the in-page
    position is the second term.

    Repartition before the Arrow UDF: outlink parsing is priced per row
    (Python regex/pandas), not per byte, so AQE's byte-targeted coalescing
    under-parallelizes it on small rounds; the round's parent set is
    bounded by the fetch budget, so this shuffle is cheap at any scale. The
    flat ``mapInArrow`` expansion keeps the href scan JVM-side (see
    :func:`crawler_spark.frontier.canon.flat_outlinks`)."""
    parents = fetched.filter(F.col("fetched")).select(
        occ_a.cast("long").alias("first_occ_a"), "url_canon", "html"
    ).repartition(fetched.sparkSession.sparkContext.defaultParallelism)
    return flat_outlinks(parents, ["first_occ_a"]).select(
        F.col("child_url").alias("url_canon"),
        F.lit(0).alias("priority"),
        "first_occ_a",
        F.col("pos").cast("long").alias("first_occ_b"),
    )


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame | None,
    politeness: DataFrame | None,
    cfg: CrawlConfig,
    resume: bool = False,
) -> CrawlResult:
    """Run the BSP crawl. ``pages(url, html, …)`` is the corpus (fetch =
    equi-join on canonical url; ``ValueError`` if two pages share one);
    ``seeds(url, priority, seq)``; ``robots(host, disallow_prefixes)``;
    ``politeness(host, max_fetches_per_round)``."""
    if politeness is None:
        politeness = spark.createDataFrame(
            [], "host string, max_fetches_per_round int"
        )

    corpus = _canonical_corpus(pages)
    # the caches the crawl holds at any moment besides the corpus; released
    # at the end of each round, and on the way out if a round raises
    caches: list[DataFrame] = []
    try:
        manifest = read_manifest(cfg.checkpoint_dir) if resume else None
        if manifest is not None:
            # an older manifest may also name a bloom_path: the exact seen
            # log alone decides admission, so it is not read
            start_round = manifest["next_round"]
            seq_offset = manifest["seq_offset"]
            frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(manifest["frontier_path"])
            # pre-change manifests lack frontier_size → one count at resume only
            frontier_size = manifest.get("frontier_size")
            if frontier_size is None:
                frontier_size = frontier.count()
            seen_paths = manifest.get("seen_paths") or [manifest["seen_path"]]
            seen = spark.read.schema(SEEN_SCHEMA).parquet(*seen_paths)
        else:
            start_round = 0
            # within-batch first-occurrence dedup keeps the smallest seed seq
            cands = seed_candidates(seeds)
            seeds_c, frontier = admit(
                cands, None, robots, cfg.n_buckets, 0, 0, _collect_seq_bounds(cands)
            )
            caches.append(seeds_c)
            # free by-products of _assign_seq's offsets collect — no count()
            # job; every admitted seed is a frontier row
            seq_offset = frontier_size = frontier._assign_seq_total
            frontier, seen, seen_paths = _checkpoint(
                spark, cfg, -1, frontier, frontier_size, seeds_c,
                frontier._assign_seq_fresh, [], seq_offset,
            )
            _release(caches)

        # static per crawl — computing it inside the loop would add a driver
        # collect job per round (pure flat cost against N→4N efficiency)
        cap = politeness_cap(politeness, cfg.default_budget)

        rnd = start_round
        while rnd < cfg.max_rounds:
            # emptiness by driver arithmetic, not a per-round probe job:
            # |frontier_next| = |frontier| − |scheduled| + |admitted|, all three
            # maintained from collects the round already pays for (the
            # _assign_seq offsets collect and the metrics observation). Exact
            # because the corpus is unique per url_canon (_canonical_corpus).
            if frontier_size <= 0:
                break

            # a frontier that fits one part runs the politeness window as one
            # partition, with no host exchange
            if _fits_one_part(frontier_size):
                frontier = frontier.coalesce(1)
            fetched, deferred = fetch_round(
                frontier, corpus, politeness, cap, cfg.default_budget
            )
            caches += fetched._fetch_round_caches

            # child admission key: (parent rank in schedule, in-page position).
            # The schedule orders by (priority, seq); seq is globally unique,
            # so priority·2^40 + seq encodes that order in one sortable long.
            occ_a = F.col("priority").cast("long") * F.lit(1 << 40) + F.col("seq")
            schedule_log = fetched.select(
                F.lit(rnd).alias("round"),
                F.col("url_canon").alias("url"),
                "host",
                "priority",
                "seq",
                "fetched",
            )
            # the seq bounds of the children are quantiles of their parents'
            # keys, observed on the schedule write (no extra job)
            sched_obs = Observation(f"round_{rnd}_schedule")
            bounds_agg = _seq_bounds(spark, F.when(F.col("fetched"), occ_a))
            _write_state(schedule_log.observe(sched_obs, bounds_agg), _ckpt(cfg, rnd, "schedule"))

            fresh, new_entries = admit(
                expand(fetched, occ_a), seen, robots, cfg.n_buckets, seq_offset, rnd + 1,
                sched_obs.get["seq_bounds"] or [],
            )
            caches.append(fresh)
            n_admitted = new_entries._assign_seq_total  # from the offsets collect

            # fetched rows ≤ frontier_size, new rows = n_admitted
            metrics = _round_metrics(fetched, new_entries, rnd, frontier_size + n_admitted)
            # per-round scheduled total rides the metrics WRITE job as an
            # observation (CollectMetrics) — feeds the driver-side frontier-size
            # arithmetic that replaced the per-round limit(1).count() emptiness
            # probe, with zero extra jobs (previously a re-read+agg of the
            # just-written snapshot was one more tiny job per round).
            obs = Observation(f"round_{rnd}_metrics")
            metrics = metrics.observe(obs, F.sum("scheduled").alias("n_scheduled"))
            _write_state(metrics, _ckpt(cfg, rnd, "metrics"))
            n_scheduled = obs.get["n_scheduled"] or 0
            frontier_size = frontier_size - n_scheduled + n_admitted

            # --- next-round state -----------------------------------------------
            frontier_next = deferred.select(*[f.name for f in FRONTIER_SCHEMA.fields]).unionByName(
                new_entries.select(*[f.name for f in FRONTIER_SCHEMA.fields])
            )
            seq_offset += n_admitted
            frontier, seen, seen_paths = _checkpoint(
                spark, cfg, rnd, frontier_next, frontier_size, fresh,
                new_entries._assign_seq_fresh, seen_paths, seq_offset,
            )
            _release(caches)
            rnd += 1
    finally:
        _release(caches)
        corpus.unpersist()

    def read_rounds(name: str, ddl: str) -> DataFrame:
        paths = [_ckpt(cfg, r, name) for r in range(rnd) if os.path.exists(_ckpt(cfg, r, name))]
        return spark.read.schema(ddl).parquet(*paths) if paths else spark.createDataFrame([], ddl)

    return CrawlResult(
        schedule=read_rounds("schedule", SCHEDULE_DDL),
        seen=seen,
        metrics=read_rounds("metrics", METRICS_DDL),
        rounds=rnd,
    )


def _round_metrics(fetched: DataFrame, new_entries: DataFrame, rnd: int, rows: int) -> DataFrame:
    """Round ``rnd``'s per-bucket lineage counters: one aggregation over
    the scheduled rows (``fetched``) ∪ the admitted rows (``new_entries``),
    at most ``rows`` in all — one partition when they fit one part
    (:func:`_fits_one_part`). Each counter counts its arm's non-null
    marker (count, never null, keeps the columns non-nullable).
    ``url_sketch``: per-bucket HLL of admitted URLs — mergeable lineage
    (hll_union_agg across any rounds/buckets → distinct-URL estimate with
    no rescan of any round's frontier; see frontier/seen.py); null in a
    bucket that admitted nothing."""
    marked = fetched.select(
        "bucket", F.lit(1).alias("scheduled"), F.when(F.col("fetched"), 1).alias("fetch_ok"),
    ).unionByName(
        new_entries.select("bucket", F.lit(1).alias("admitted"), "url_canon"),
        allowMissingColumns=True,
    )
    if _fits_one_part(rows):
        marked = marked.coalesce(1)
    return (
        marked.groupBy("bucket")
        .agg(
            *[F.count(c).alias(c) for c in ("scheduled", "fetch_ok", "admitted")],
            F.hll_sketch_agg("url_canon", F.lit(12)).alias("url_sketch"),
        )
        .select(
            F.lit(rnd).alias("round"), "bucket", "scheduled", "fetch_ok", "admitted",
            F.when(F.col("admitted") > 0, F.col("url_sketch")).alias("url_sketch"),
        )
    )


def _checkpoint(
    spark: SparkSession,
    cfg: CrawlConfig,
    rnd: int,
    frontier: DataFrame,
    frontier_size: int,
    fresh: DataFrame,
    n_fresh: int,
    seen_paths: list[str],
    seq_offset: int,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Write the state round ``rnd + 1`` starts from — the seed state
    (``rnd = -1``) or round ``rnd``'s next state — in one order: frontier
    snapshot, seen delta, seen compaction when the log is long, manifest.
    The manifest goes last, so a crash at any earlier write resumes from
    the previous manifest and re-runs the step, overwriting its own paths.

    Seen is an append-only DELTA LOG: each step writes only its ``fresh``
    urls (deduped and unseen, robots-blocked ones included); the live table
    is a multi-path read. A full-table rewrite per round would be
    O(|seen-so-far|) — the dominant write at 10^10 URLs — where the delta is
    O(|new this round|); with Iceberg the delta write is
    ``writeTo(seen).append()``. It is sized by ``n_fresh``, the exact count
    of ``fresh`` from admission's offsets collect.

    Returns ``(frontier, seen, seen_paths)`` read back from the checkpoint."""
    frontier = _snapshot(
        spark, frontier, _ckpt(cfg, rnd, "frontier"), cfg.n_buckets, rows=frontier_size
    )
    seen_paths = seen_paths + [_ckpt(cfg, rnd, "seen")]
    _snapshot(
        spark, fresh.select("url_hash", "bucket", "url_canon"), seen_paths[-1],
        cfg.n_buckets, rows=n_fresh,
    )
    if len(seen_paths) >= SEEN_COMPACT_EVERY:
        # delta-log compaction: one bucketed snapshot replaces the log
        seen = _snapshot(
            spark,
            spark.read.schema(SEEN_SCHEMA).parquet(*seen_paths),
            _ckpt(cfg, rnd, "seen_compacted"),
            cfg.n_buckets,
        )
        seen_paths = [_ckpt(cfg, rnd, "seen_compacted")]
    else:
        seen = spark.read.schema(SEEN_SCHEMA).parquet(*seen_paths)
    _write_manifest(
        cfg,
        {
            "next_round": rnd + 1,
            "seq_offset": seq_offset,
            "frontier_size": frontier_size,
            "frontier_path": _ckpt(cfg, rnd, "frontier"),
            "seen_paths": seen_paths,
        },
    )
    return frontier, seen, seen_paths


def _snapshot(
    spark: SparkSession, df: DataFrame, path: str, nparts: int, rows: int | None = None
) -> DataFrame:
    """Write a state snapshot partitioned by host-bucket and read it back —
    truncates lineage (the BSP barrier) and doubles as the checkpoint.
    With Iceberg this becomes ``writeTo(...).createOrReplace()`` + snapshot
    id in the manifest. The read-back carries ``df``'s schema, so it plans
    without a schema-inference job.

    Skew kill (SURVEY §2.5): bucket = pmod(xxhash64(host), n) — a mega-host
    occupies ONE bucket, so partitioning state by bucket alone would write
    that host's whole frontier through one task. Salting with the row's own
    ``url_hash`` spreads a hot bucket across tasks while keeping rows of a
    bucket addressable (the salt is a function of columns already in the
    row, so any reader can re-derive the layout).

    ``rows`` sizes the write when the driver knows it
    (:func:`_state_layout`)."""
    df = _state_layout(df, nparts, rows)
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def _state_layout(df: DataFrame, nparts: int, rows: int | None) -> DataFrame:
    """``df`` laid out as a state snapshot is written: ``nparts``
    partitions by (bucket, url_hash salt), or, when the driver knows the
    row count ``rows``, ``min(nparts, ceil(rows / SNAPSHOT_ROWS_PER_PART))``
    of them — and a snapshot that fits one part (:func:`_fits_one_part`)
    is ``coalesce(1)``'d: one part file and no exchange. The (bucket,
    salt) layout is kept at any count — a slot never spans part files.
    ``df`` carries both ``bucket`` and ``url_hash``."""
    if _fits_one_part(rows):
        return df.coalesce(1)
    if rows is not None:
        nparts = min(nparts, -(-rows // SNAPSHOT_ROWS_PER_PART))
    elif nparts <= 1:
        return df
    return df.repartition(nparts, "bucket", F.pmod("url_hash", F.lit(16)))
