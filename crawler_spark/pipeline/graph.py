"""Iterative graph algorithms over edge-list DataFrames.

The crawl side of the engine produces a link graph (outlink expansion,
frontier/canon.py); this module consumes one. PageRank-style authority
scores are the classic crawl-prioritization signal (feed them into the
frontier's ``priority`` column and the politeness window schedules
high-authority hosts first).

Scale shape per iteration: ONE shuffle — contributions are
``edges ⋈ ranks`` grouped by destination; the rank frame is node-sized
(≪ edges) and the out-degree table is joined once up front. Lineage is
cut per iteration with ``localCheckpoint`` (iterative plans otherwise
re-analyze superlinearly; on a cluster use ``checkpoint()`` to a
reliable dir for fault tolerance at the same cut points).

Determinism contract: a FIXED iteration count (no float-convergence
test), per-iteration ``round(rank, 8)`` so cross-engine float-sum
ulp drift cannot compound, and dangling nodes (no out-edges) simply
contribute nothing — the plain simplification, stated rather than
hidden. The SQL oracle unrolls the same iterations as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    small_ranks: bool = False,
    checkpoint_every: int = 4,
) -> DataFrame:
    """``(node, rank)`` after ``iters`` synchronous PageRank iterations.

    rank_0 = 1.0 for every node; rank_{t+1}(v) = (1-d) + d·Σ_{u→v}
    rank_t(u)/outdeg(u), rounded to 8 d.p. (the determinism contract
    above). Nodes = all endpoints; duplicate edges are collapsed first
    (weights are out of scope — a weighted variant changes one line).

    ``small_ranks=True`` declares the node table broadcastable (host-level
    graphs: 10^7 hosts of a 10^10-page crawl fit executors easily). Each
    iteration then BROADCASTS the rank frame into the edge join — the
    edge frame never reshuffles across iterations; the only exchange is
    the node-sized partial-aggregated contribution. Leave False for
    page-level graphs, where ranks are edge-scale and the hash join is
    the right plan.

    ``checkpoint_every``: iterations between lineage cuts. There is no
    convergence probe (fixed iteration count), so iterations stay LAZY —
    a short run compiles into ONE Spark job; the cut only exists to stop
    deep runs from superlinear plan re-analysis. The cut is skipped after
    the final iteration (the caller's action materializes it).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges with the sender's degree attached — reused every iteration
    ed = e.join(outdeg, "src").persist()
    ranks = nodes.withColumn("rank", F.lit(1.0))
    maybe_bcast = F.broadcast if small_ranks else (lambda df: df)
    for t in range(1, iters + 1):
        contrib = (
            ed.join(maybe_bcast(ranks.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        ranks = nodes.join(maybe_bcast(contrib), "node", "left").select(
            "node",
            F.round(
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0)),
                8,
            ).alias("rank"),
        )
        if t % checkpoint_every == 0 and t < iters:
            ranks = ranks.localCheckpoint()
    return ranks


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    small_scores: bool = False,
    checkpoint_every: int = 1,
    cache_partitions: int | None = None,
) -> DataFrame:
    """``(node, hub, authority)`` after ``iters`` HITS iterations
    (Kleinberg 1999), the second classic crawl-prioritization signal:
    authorities are pages worth fetching, hubs are pages worth
    re-parsing for outlinks — both feed the frontier's priority column
    exactly like :func:`pagerank`.

    Per iteration (classic sequential order — authorities from the
    PREVIOUS hubs, then hubs from the NEW authorities):

    - ``a_raw(v) = round(Σ_{u→v} h(u), 8)``; normalize ``a(v) =
      round(a_raw(v) / Σ a_raw, 8)``
    - ``h_raw(u) = round(Σ_{u→v} a(v), 8)``; normalize likewise.

    Determinism contract (same family as :func:`pagerank`, plus the
    repo's DECIMAL rule): each float sum is rounded to 8 d.p. so
    partition-order ulp drift cannot surface; each NORMALIZER is an
    exact ``DECIMAL(18,8)`` sum (partition-order-independent by
    construction) converted once to double for a single correctly
    rounded division. L1 (sum) normalization is deliberate — the
    textbook L2 needs ``sqrt``, a libm call the cross-engine rules ban
    from anything rank-adjacent; L1 yields identical orderings. Nodes
    with no in-edges score authority 0, no out-edges hub 0.

    Scale shape: TWO node-keyed exchanges per iteration (one per
    direction), both with map-side partial aggregation; the edge frame
    is persisted once and never reshuffles when ``small_scores`` lets
    the node-sized score frames broadcast (host graphs: 10^7 hosts of a
    10^10-page crawl). The normalizer rides each iteration's plan as a
    scalar aggregate crossJoin (the rank_weighted_budgets shape) — no
    driver-side collect. Lineage is cut every ``checkpoint_every``
    iterations — default EVERY iteration, unlike :func:`pagerank`: the
    normalizer references its raw frame twice (score branch + total
    branch), so an uncut lineage doubles per half-iteration (2^(2·iters)
    copies of the edge join by the end — measured pathological at three
    iterations on a 10^6-edge graph). With the cut, each iteration is
    one job over node-sized frames and the twice-referenced raw
    aggregate is deduplicated by exchange reuse inside that job.

    ``cache_partitions``: optional coalesce of the persisted edge/node
    caches. Each iteration re-scans those caches, so a cache whose
    partition count came from ``spark.sql.shuffle.partitions`` pays
    per-iteration task-scheduling overhead far exceeding the compute on
    a small graph (A/B at 587k edges / local[32]: 8-partition cache
    took the steady-state iteration from ~2.0 s to ~1.2 s). Leave None
    at data scale — there the shuffle width IS the right cache width.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    if cache_partitions:
        e = e.coalesce(cache_partitions)
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if cache_partitions:
        nodes = nodes.coalesce(max(1, cache_partitions // 2))
    nodes = nodes.persist()
    maybe_bcast = F.broadcast if small_scores else (lambda df: df)

    def _l1_normalize(raw: DataFrame, col: str) -> DataFrame:
        tot = raw.agg(
            F.sum(F.col(col).cast("decimal(18,8)")).alias("_tot")
        )
        return raw.crossJoin(F.broadcast(tot)).select(
            "node",
            F.round(
                F.col(col) / F.col("_tot").cast("double"), 8
            ).alias(col),
        )

    hubs = nodes.withColumn("hub", F.lit(1.0))
    auths = nodes.withColumn("authority", F.lit(1.0))
    for t in range(1, iters + 1):
        a_raw = nodes.join(
            maybe_bcast(
                e.join(maybe_bcast(hubs.withColumnRenamed("node", "src")), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.round(F.sum("hub"), 8).alias("authority"))
            ),
            "node",
            "left",
        ).select("node", F.coalesce("authority", F.lit(0.0)).alias("authority"))
        auths = _l1_normalize(a_raw, "authority")
        if t % checkpoint_every == 0:
            # cut BEFORE hubs consume it — a later cut would leave the
            # hub plan holding the uncut authority lineage
            auths = auths.localCheckpoint()
        h_raw = nodes.join(
            maybe_bcast(
                e.join(maybe_bcast(auths.withColumnRenamed("node", "dst")), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.round(F.sum("authority"), 8).alias("hub"))
            ),
            "node",
            "left",
        ).select("node", F.coalesce("hub", F.lit(0.0)).alias("hub"))
        hubs = _l1_normalize(h_raw, "hub")
        if t % checkpoint_every == 0 and t < iters:
            hubs = hubs.localCheckpoint()
    return nodes.join(hubs, "node").join(auths, "node").select(
        "node", "hub", "authority"
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
    small_ranks: bool = False,
    checkpoint_every: int = 4,
) -> DataFrame:
    """TrustRank (Gyöngyi et al. 2004): PageRank with the teleport mass
    restricted to a hand-vetted trusted seed set — trust decays outward
    along links, so link-farm clusters that inflate plain PageRank get
    near-zero trust and the frontier can demote or budget-cap them. The
    crawl-side complement to :func:`pagerank`'s authority signal.

    ``rank_0 = seed(v)``; ``rank_{t+1}(v) = (1-d)·seed(v) + d·Σ_{u→v}
    rank_t(u)/outdeg(u)``, rounded 8 d.p. per iteration, where
    ``seed(v) = 1.0`` for seed nodes else ``0.0`` (the unnormalized
    indicator — orderings match the 1/|S| textbook form, which is one
    multiply away). Same determinism contract, lineage cuts, and
    ONE-shuffle-per-iteration shape as :func:`pagerank`; the seed frame
    joins once up front (broadcast — a vetted seed list is tiny by
    construction).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    seed_ind = nodes.join(
        F.broadcast(seeds.select(F.col(seed_col).alias("node")).distinct()
                    .withColumn("_s", F.lit(1.0))),
        "node",
        "left",
    ).select("node", F.coalesce("_s", F.lit(0.0)).alias("seed")).persist()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(outdeg, "src").persist()
    ranks = seed_ind.select("node", F.col("seed").alias("rank"))
    maybe_bcast = F.broadcast if small_ranks else (lambda df: df)
    for t in range(1, iters + 1):
        contrib = (
            ed.join(maybe_bcast(ranks.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("inflow"))
        )
        ranks = seed_ind.join(maybe_bcast(contrib), "node", "left").select(
            "node",
            F.round(
                F.lit(1.0 - damping) * F.col("seed")
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0)),
                8,
            ).alias("rank"),
        )
        if t % checkpoint_every == 0 and t < iters:
            ranks = ranks.localCheckpoint()
    return ranks


def link_reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_out: int = 2,
) -> DataFrame:
    """Per-source link reciprocity — the classic link-exchange/link-farm
    signal: for each node with ``outdeg ≥ min_out``, the fraction of its
    distinct out-edges that are reciprocated (``u→v`` and ``v→u``).
    Organic link graphs are strongly asymmetric; a cluster where most
    edges come back is trading links, and the frontier can demote it
    (or hand it to :func:`trustrank` as a distrust candidate).

    Output: ``(node, n_out, n_reciprocal, reciprocity)`` — counts exact
    ints, the ratio ONE IEEE division. Self-loops are dropped: ``u→u`` is
    its own reverse, so it would count as reciprocated.

    Shape: distinct edges self-joined on the REVERSED key — an
    equi-join on (src, dst) = (dst, src), co-partitionable, never a
    node×node blowup (the match key is the full edge pair, so skew on a
    popular node never forms pairs across its edges) — then one
    src-keyed count with map-side combine.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi").groupBy("src").agg(
        F.count(F.lit(1)).alias("n_reciprocal")
    )
    out = e.groupBy("src").agg(F.count(F.lit(1)).alias("n_out"))
    return (
        out.filter(F.col("n_out") >= min_out)
        .join(recip, "src", "left")
        .select(
            F.col("src").alias("node"),
            F.col("n_out").cast("long").alias("n_out"),
            F.coalesce("n_reciprocal", F.lit(0)).cast("long").alias("n_reciprocal"),
            (
                F.coalesce("n_reciprocal", F.lit(0)).cast("double")
                / F.col("n_out").cast("double")
            ).alias("reciprocity"),
        )
    )


def bfs_depth(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_depth: int = 3,
    small_frontier: bool = False,
    checkpoint_every: int = 1,
) -> DataFrame:
    """``(node, depth)`` — shortest-hop distance from the seed set,
    computed as ``max_depth`` synchronous min-propagation rounds. In the
    crawl this IS the "crawl depth" a scheduler caps on (don't fetch
    past depth k from the seed list), and the per-round frontier the
    BSP loop schedules is exactly the depth-``t`` ring.

    ``depth_0 = 0`` at seeds; ``depth_{t+1}(v) = min(depth_t(v),
    1 + min_{u→v} depth_t(u))``. All INTEGER arithmetic — the one
    iterative operator in this module with no float contract at all.
    Nodes unreached within ``max_depth`` report depth ``-1`` (sentinel,
    not NULL, so value-hashing is unambiguous).

    Same scale shape as :func:`pagerank`: ONE node-keyed exchange per
    round (min-combine is map-side partial), edge frame persisted once,
    ``small_frontier`` broadcasts the node-sized depth frame so edges
    never reshuffle. Lineage is cut EVERY round by default (unlike
    pagerank, like :func:`hits`): the min-carry references the previous
    depth frame twice (propagation branch + carry branch), so an uncut
    chain doubles per round — A/B at the sf0.1 fixture: 7.3 s lazy vs
    3.6 s with per-round cuts (same-day box, solo-benched).
    """
    inf = 1 << 30
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    depth = nodes.join(
        F.broadcast(
            seeds.select(F.col(seed_col).alias("node")).distinct()
            .withColumn("_s", F.lit(0))
        ),
        "node",
        "left",
    ).select("node", F.coalesce("_s", F.lit(inf)).alias("d"))
    maybe_bcast = F.broadcast if small_frontier else (lambda df: df)
    for t in range(1, max_depth + 1):
        reach = (
            e.join(maybe_bcast(depth.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.min("d") + F.lit(1)).alias("rd"))
        )
        depth = depth.join(maybe_bcast(reach), "node", "left").select(
            "node",
            F.least(F.col("d"), F.coalesce("rd", F.lit(inf))).alias("d"),
        )
        if t % checkpoint_every == 0 and t < max_depth:
            depth = depth.localCheckpoint()
    return depth.select(
        "node",
        F.when(F.col("d") >= inf, F.lit(-1))
        .otherwise(F.col("d"))
        .cast("long")
        .alias("depth"),
    )
