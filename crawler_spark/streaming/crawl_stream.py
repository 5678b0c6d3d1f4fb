"""Incremental crawl as a Structured Stream.

The batch scheduler (scheduler.py) runs BSP rounds under an explicit
driver loop. This tier replaces that loop with Structured Streaming's
machinery: the frontier is a WATCHED DIRECTORY of parquet files
(`frontier_in/`), `readStream` turns new files into micro-batches, and
`foreachBatch` runs one politeness-bounded round per batch — outlinks and
over-budget (deferred) urls are written back into the watched directory,
so the stream feeds itself until the crawl drains.

Why this shape and not `applyInPandasWithState` for the whole crawl: the
round is join-heavy (seen anti-join, robots broadcast join, fetch-as-join
against the html corpus) and joins don't live inside a keyed-state
operator; `foreachBatch` is the documented escape hatch that keeps every
join a full DataFrame plan while the streaming engine supplies source
tracking, restart offsets, and the micro-batch cadence.

Exactly-once: Structured Streaming guarantees each source file is handed
to `foreachBatch` once per checkpoint; our side effects are made
idempotent by keying EVERY output path by `batch_id` and writing with
mode=overwrite — a replayed batch (crash between the write and the offset
commit) overwrites its own previous output bit-for-bit, because all
derived values (seq, schedule, seen delta) are deterministic functions of
the batch's input files. This is the standard foreachBatch idempotency
contract; with Iceberg the same property comes from committing the batch
id in the snapshot summary and skipping already-committed ids.

Every row in the watched directory is a FRONTIER row (``FRONTIER_SCHEMA``,
the batch scheduler's ``frontier_next``): a batch fetches its rows, expands
the fetched pages' outlinks and admits them, then publishes ``deferred ∪
admitted`` for the next batch — the batch crawl's fetch → expand → admit
order. Deferred urls (over a host's per-round budget) keep their
``(seq, round_added)``, so the politeness order stays FIFO-within-priority
across batches. Batch ``b`` admits with the replay-stable ``seq = (b + 1)
<< 32 | admission rank`` and ``round_added = b + 1``, the batch whose
frontier they join (no mutable cross-batch counter — a counter would break
idempotent replay); the seeds are admitted once, before the first pass,
with seq offset 1 and ``round_added = 0``.

Scale: one round of the batch scheduler's own stages (``fetch_round``,
``expand`` and ``scheduler.admit``) — the corpus is canonicalized and
persisted once per stream and never shuffled (broadcast fetch join on the
budget-bounded scheduled set), seen is an append-only delta log, and the
watched directory only ever holds narrow canonical url rows. Reference
semantics preserved: per-page order-preserving outlink extraction (the
reference's collector-url.go:31), silent drop of failed fetches (its
collector.go:88-90).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

# the state writers (_write_state, _snapshot) are called through the module,
# where the crash-resume tests replace them
from crawler_spark import scheduler
from crawler_spark.frontier.politeness import politeness_cap
from crawler_spark.scheduler import (
    FRONTIER_SCHEMA,
    SEEN_SCHEMA,
    _canonical_corpus,
    _collect_seq_bounds,
    _release,
    _seq_bounds,
    admit,
    expand,
    fetch_round,
    seed_candidates,
)


@dataclass
class StreamCrawlConfig:
    work_dir: str  # holds frontier_in/ checkpoint/ schedule/ seen/
    default_budget: int = 16
    n_buckets: int = 32
    max_passes: int = 50  # availableNow restarts (≈ outer BSP rounds)

    @property
    def frontier_in(self) -> str:
        return os.path.join(self.work_dir, "frontier_in")

    @property
    def checkpoint(self) -> str:
        return os.path.join(self.work_dir, "checkpoint")

    @property
    def schedule_dir(self) -> str:
        return os.path.join(self.work_dir, "schedule")

    @property
    def seen_dir(self) -> str:
        return os.path.join(self.work_dir, "seen")

    @property
    def stage_dir(self) -> str:
        return os.path.join(self.work_dir, "stage")


def _publish(
    df: DataFrame, stage_path: str, dest_dir: str, prefix: str, skip_if_empty: bool = False
) -> int:
    """Write ``df`` to a staging dir, then move its part-files FLAT into the
    watched directory under deterministic ``{prefix}-{i}.parquet`` names.

    The parquet file-stream source does not recurse into subdirectories, so
    feedback must land as top-level files; deterministic names make a
    replayed batch overwrite its own previous files (os.replace) instead of
    enqueueing duplicates — the idempotency contract from the module
    docstring.

    The row count rides the write job as an ``Observation`` (CollectMetrics
    — the pattern of ``scheduler.crawl``'s metrics write) and is returned;
    with ``skip_if_empty`` an empty frame is staged but never moved into the
    watched dir, so publication is suppressed WITHOUT the separate
    persist+count() job the pre-r4 caller paid (empty batches must not publish: each would enqueue
    under a fresh batch id and chain empty batches forever). The staging
    dir is deleted once its parts are moved (or suppressed), so a drain
    leaves no ``seeds`` or ``from_batch=N`` dirs behind; a crash between
    the moves and the delete only re-stages on replay."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        stage_path
    )
    n = int(obs.get["n"] or 0)
    if not (skip_if_empty and n == 0):
        parts = sorted(
            f for f in os.listdir(stage_path) if f.endswith(".parquet") and not f.startswith(".")
        )
        for i, part in enumerate(parts):
            os.replace(
                os.path.join(stage_path, part),
                os.path.join(dest_dir, f"{prefix}-{i}.parquet"),
            )
    shutil.rmtree(stage_path, ignore_errors=True)
    return n


def _round_fn(
    spark: SparkSession,
    corpus: DataFrame,
    robots: DataFrame | None,
    politeness: DataFrame | None,
    cfg: StreamCrawlConfig,
):
    """Build the foreachBatch body: one round of the scheduler's stages in
    ``crawl()``'s order, fetch → expand → admit. All writes are keyed by
    batch_id and overwritten — see module docstring (idempotent replay)."""
    if politeness is None:
        politeness = spark.createDataFrame([], "host string, max_fetches_per_round int")
    cap = politeness_cap(politeness, cfg.default_budget)  # once, not per batch

    def run_round(batch: DataFrame, batch_id: int) -> None:
        caches = []
        try:
            fetched, deferred = fetch_round(batch, corpus, politeness, cap, cfg.default_budget)
            caches += fetched._fetch_round_caches
            # the children's seq bounds: quantiles of their parents' seq,
            # observed on the schedule write
            sched_obs = Observation()
            scheduler._write_state(
                fetched.select(
                    F.col("url_canon").alias("url"), "host", "priority", "seq", "fetched",
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                ).observe(sched_obs, _seq_bounds(spark, F.when(F.col("fetched"), F.col("seq")))),
                os.path.join(cfg.schedule_dir, f"batch={batch_id}"),
            )

            # the seen log of every OTHER batch (a replayed batch must not see
            # its own delta) is the unseen filter's state; child admission
            # key = (parent seq, in-page position); replay-stable seq =
            # (batch_id + 1)·2^32 + 1-based admission rank
            seen_deltas = [
                os.path.join(cfg.seen_dir, d)
                for d in sorted(os.listdir(cfg.seen_dir))
                if os.path.isdir(os.path.join(cfg.seen_dir, d)) and d != f"batch={batch_id}"
            ]
            seen = spark.read.schema(SEEN_SCHEMA).parquet(*seen_deltas) if seen_deltas else None
            fresh, admitted = admit(
                expand(fetched, F.col("seq")), seen, robots, cfg.n_buckets,
                ((batch_id + 1) << 32) + 1, batch_id + 1, sched_obs.get["seq_bounds"] or [],
            )
            caches.append(fresh)
            scheduler._snapshot(
                spark, fresh.select("url_hash", "bucket", "url_canon"),
                os.path.join(cfg.seen_dir, f"batch={batch_id}"), cfg.n_buckets,
                rows=admitted._assign_seq_fresh,
            )

            # feed the stream the next batch's frontier; empty-frontier
            # suppression + count ride the publish write itself (Observation
            # in _publish) — one job, no persist; no file ⇒ the next pass
            # sees no input and the drain loop terminates.
            _publish(
                deferred.unionByName(admitted),
                os.path.join(cfg.stage_dir, f"from_batch={batch_id}"),
                cfg.frontier_in,
                f"b{batch_id}",
                skip_if_empty=True,
            )
        finally:
            _release(caches)

    return run_round


def stream_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame | None,
    politeness: DataFrame | None,
    cfg: StreamCrawlConfig,
) -> dict:
    """Run the streaming crawl to drain (or ``cfg.max_passes``).

    ``pages(url, html)`` corpus; ``seeds(url, priority, seq)``. Returns
    {"schedule": DataFrame, "seen": DataFrame, "passes": int}.

    Each availableNow pass consumes every file currently in the watched
    directory, including files a previous pass's rounds wrote back; we
    restart until a pass admits no new input — the streaming analogue of
    the BSP frontier draining. A killed job restarts from the checkpoint
    and replays only uncommitted batches, whose idempotent batch-id-keyed
    writes make the replay invisible.

    Raises ``ValueError`` on a ``work_dir`` whose watched directory may
    still hold candidate rows of the older admit-first layout: one with a
    stream checkpoint but no ``seen/seeds``, which is written before the
    first pass creates the checkpoint.
    """
    seeds_seen = os.path.join(cfg.seen_dir, "seeds")
    if os.path.isdir(cfg.checkpoint) and not os.path.isdir(seeds_seen):
        raise ValueError(
            f"stream work_dir {cfg.work_dir!r} has a checkpoint but no seen/seeds: "
            "it was written by an admit-first stream, whose watched directory "
            "holds candidate rows, not frontier rows"
        )
    # canonicalized once per stream and persisted; a duplicate url_canon
    # raises here, before anything is published
    corpus = _canonical_corpus(pages)
    try:
        for d in (cfg.frontier_in, cfg.schedule_dir, cfg.seen_dir, cfg.stage_dir):
            os.makedirs(d, exist_ok=True)

        # the seeds are admitted once, here, as batch 0's frontier; their seen
        # delta is written before the frontier file can be consumed and before
        # the first pass creates the checkpoint (the admit-first check above)
        cands = seed_candidates(seeds)
        seeds_fresh, frontier = admit(
            cands, None, robots, cfg.n_buckets, 1, 0, _collect_seq_bounds(cands)
        )
        try:
            scheduler._snapshot(
                spark, seeds_fresh.select("url_hash", "bucket", "url_canon"), seeds_seen,
                cfg.n_buckets, rows=frontier._assign_seq_fresh,
            )
            _publish(frontier, os.path.join(cfg.stage_dir, "seeds"), cfg.frontier_in, "seeds")
        finally:
            seeds_fresh.unpersist()

        round_fn = _round_fn(spark, corpus, robots, politeness, cfg)
        passes = 0
        for _ in range(cfg.max_passes):
            src = spark.readStream.schema(FRONTIER_SCHEMA).parquet(cfg.frontier_in)
            q = (
                src.writeStream.foreachBatch(round_fn)
                .option("checkpointLocation", cfg.checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            passes += 1
            n_in = sum(p["numInputRows"] for p in q.recentProgress)
            if n_in == 0:
                break
    finally:
        corpus.unpersist()

    schedule = (
        spark.read.parquet(
            *[
                os.path.join(cfg.schedule_dir, d)
                for d in sorted(os.listdir(cfg.schedule_dir))
            ]
        )
        if os.listdir(cfg.schedule_dir)
        else spark.createDataFrame(
            [],
            "url string, host string, priority int, seq long, fetched boolean, batch_id long",
        )
    )
    seen = (
        spark.read.schema(SEEN_SCHEMA).parquet(
            *[os.path.join(cfg.seen_dir, d) for d in sorted(os.listdir(cfg.seen_dir))]
        )
        if os.listdir(cfg.seen_dir)
        else spark.createDataFrame([], SEEN_SCHEMA)
    )
    return {"schedule": schedule, "seen": seen.distinct(), "passes": passes}
