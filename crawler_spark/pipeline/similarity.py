"""Similarity search over an embedding column (``array<float>``).

Two tiers:

* :func:`cosine_topk` — exact brute force. The correctness baseline and the
  right answer whenever |queries| is small: broadcast the queries, one scan
  of the corpus, per-query top-k via window. No shuffle of the corpus at
  all when queries are broadcast (only the tiny scored-candidates shuffle
  for the window).
* :func:`lsh_bucketed_topk` — random-hyperplane LSH: corpus and queries are
  hashed to sign-pattern buckets; scoring happens only within a bucket (and
  optionally its multi-probe neighbours). At 10^10 vectors this turns a
  full-corpus scan per query batch into a bucket-local join; bucket ids are
  uniform (signs of random projections) so the partitioning is skew-free.

Dot products use built-in ``zip_with`` + ``aggregate`` (JVM, codegen) in
double precision with a fixed left-to-right fold order — deterministic and
reproducible by the SQL oracle's ``list_dot_product`` over DOUBLE[].
Hyperplanes are generated from a seeded LCG (not numpy RNG) so plans are
identical across runs/resumes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import spread


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, fixed fold order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector.

    ``queries`` (small) is broadcast → the corpus is scanned once, scoring
    |corpus|·|queries| pairs map-side; only (query, candidate, sim) tuples
    reach the top-k window. Self-matches excluded. Ties broken by neighbour
    id for a fully deterministic result.

    Array higher-order functions are interpreted (not codegen), so the
    per-PAIR work is held to one dot product: norms and double-casts are
    precomputed per ROW before the join — bit-identical result (same fold
    order), |corpus|+|queries| folds instead of 2·|pairs|.
    """
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double.alias("qvec")
    ).withColumn("qnorm", norm_expr(F.col("qvec")))
    # spread(): the probe side does ALL the scoring work map-side, so its
    # parallelism is its scan partitioning — a single-file corpus would
    # score |corpus|x|queries| pairs on one core (no-op when already wide)
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double.alias("cvec")
    ).withColumn("cnorm", norm_expr(F.col("cvec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_expr(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 11) -> list[list[float]]:
    """Seeded LCG hyperplanes in [-1, 1) — deterministic, library-free."""
    state = seed
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row: list[float] = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(state / float(1 << 62) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit_j = [vec · plane_j > 0]. Pure built-ins."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(dot_expr(vec, lit_plane) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 11,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH bucket.

    Recall/cost dial = ``n_planes`` (more planes → smaller buckets → faster,
    lower recall). The bucket equi-join replaces the brute-force cross join;
    at scale the corpus side is bucketed/partitioned by ``bucket`` once and
    reused across query batches. An IVF variant drops in by replacing
    ``lsh_bucket_expr`` with an argmin-over-centroids expression — the join
    scaffold is identical.
    """
    if dim is None:
        dim = len(
            corpus.select(F.col(vec_col)).first()[0]
        )
    planes = _hyperplanes(n_planes, dim, seed)
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double.alias("cvec"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    ).withColumn("cnorm", norm_expr(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double.alias("qvec"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    ).withColumn("qnorm", norm_expr(F.col("qvec")))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_expr(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_bucket_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int | None = None,
    threshold: float = 0.2,
    seed: int = 11,
) -> DataFrame:
    """The bucketed near-duplicate tier itself: within-LSH-bucket exact
    cosine pair join — the 100 TB path :func:`cosine_near_dups` promises,
    as a first-class operator rather than a docstring.

    Each vector hashes to one sign-pattern bucket; pairs are scored ONLY
    inside their bucket via an equi-self-join on ``bucket`` (shuffle
    hash-partitions by bucket id — no broadcast, no cross join, candidate
    count Σ|bucket|² instead of N²). Recall dial = ``n_planes``; at scale
    the corpus is stored bucketed by ``bucket`` so the self-join is
    co-partitioned and shuffle-free. Deterministic: seeded LCG planes,
    fixed fold order, round(·, 6) before the threshold compare."""
    if dim is None:
        dim = len(corpus.select(F.col(vec_col)).first()[0])
    planes = _hyperplanes(n_planes, dim, seed)
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = (
        corpus.select(
            F.col(id_col).alias("vid"),
            as_double.alias("v"),
            lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
        )
        .withColumn("nrm", norm_expr(F.col("v")))
    )
    a = e.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "bucket"
    )
    b = e.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "bucket"
    )
    cos = F.round(
        dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("bucket", "id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path promised in lsh_bucketed_topk's
# docstring: replace the sign-pattern bucket with argmin-over-centroids.
# ---------------------------------------------------------------------------

def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 0,
) -> list[list[float]]:
    """IVF "training": deterministic centroids, optionally Lloyd-refined.

    Initial centroids are the ``n_centroids`` smallest-id vectors — a fixed,
    resumable choice (no RNG: the same corpus always trains the same index,
    so a resumed job probes identical buckets). ``n_iters`` distributed
    Lloyd rounds refine them: assign (argmax rounded cosine-score, ties →
    smaller centroid id) then elementwise mean per cluster via
    posexplode + groupBy — two narrow shuffles per round, collect is
    ``n_centroids × dim`` doubles only. Empty clusters keep their previous
    centroid (standard Lloyd fallback, deterministic).
    """
    rows = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    cents = [list(r["v"]) for r in rows]
    for _ in range(n_iters):
        assigned = corpus.select(
            ivf_probe_expr(F.col(vec_col), cents, nprobe=1)[0].alias("cid"),
            F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))),
        )
        means = (
            assigned.groupBy("cid", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty cluster → keep old centroid
        by_cid: dict[int, list] = {}
        for r in means:
            by_cid.setdefault(int(r["cid"]), []).append(r)
        for cid, rs in by_cid.items():
            for r in rs:
                new[cid][int(r["pos"])] = float(r["m"])
        cents = new
    return cents


def ivf_probe_expr(vec: Column, centroids: list[list[float]], nprobe: int = 1) -> Column:
    """Ids of the ``nprobe`` nearest centroids, best first — pure built-ins.

    Score = round(dot(vec, c) / |c|, 6): for a fixed row the 1/|vec| factor
    is a positive constant, so the ranking equals cosine ranking while
    skipping |vec|; rounding pins tie-breaks (→ smaller centroid id) to be
    bit-identical in the SQL oracle. Assembled as array<struct(-score, cid)>
    + array_sort (struct ordering is lexicographic) + slice — stays in
    whole-stage codegen, no Python.
    """
    entries = []
    for cid, c in enumerate(centroids):
        norm = sum(x * x for x in c) ** 0.5 or 1.0
        lit_c = F.array(*[F.lit(float(v)) for v in c])
        score = F.round(dot_expr(vec, lit_c) / F.lit(norm), 6)
        entries.append(
            F.named_struct(F.lit("negs"), -score, F.lit("cid"), F.lit(cid))
        )
    ranked = F.array_sort(F.array(*entries))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    n_iters: int = 0,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an inverted file: score a query only against
    corpus vectors whose nearest centroid is one of the query's ``nprobe``
    nearest.

    Same join scaffold as :func:`lsh_bucketed_topk`; recall/cost dial is
    (n_centroids, nprobe). At 10^10 vectors the corpus is written
    partitioned by ``cid`` once (list-building), so a query batch touches
    only ``nprobe``/``n_centroids`` of the data — partition pruning does
    the rest. Centroid literals are broadcast inside the plan (KBs).
    """
    if centroids is None:
        centroids = ivf_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double.alias("cvec"),
        ivf_probe_expr(F.col(vec_col), centroids, nprobe=1)[0].alias("cid"),
    ).withColumn("cnorm", norm_expr(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double.alias("qvec"),
        F.explode(ivf_probe_expr(F.col(vec_col), centroids, nprobe=nprobe)).alias("cid"),
    ).withColumn("qnorm", norm_expr(F.col("qvec")))
    scored = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_expr(F.col("qvec"), F.col("cvec"))
                / (F.col("qnorm") * F.col("cnorm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_near_dups(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (a, b) with a < b and
    round(cosine, 6) >= threshold.

    This is the *exact* tier — inherently quadratic in pairs, usable when
    one side fits in a broadcast (dedup of a shard, query batch vs corpus).
    At 10^10-vector scale use the LSH tier instead: bucket both sides with
    :func:`lsh_bucket_expr` and run THIS pair join within buckets (same
    shape as :func:`lsh_bucketed_topk`'s equi-join) — the threshold filter
    below is unchanged. Norms are precomputed per row so each pair costs
    one fold; the round(…, 6) on the filter boundary makes the result
    stable across fold-order/platform ulp differences (and reproducible by
    the SQL oracle in double precision).
    """
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    a = spread(corpus).select(
        F.col(id_col).alias("id_a"), as_double.alias("avec")
    ).withColumn("anorm", norm_expr(F.col("avec")))
    b = corpus.select(
        F.col(id_col).alias("id_b"), as_double.alias("bvec")
    ).withColumn("bnorm", norm_expr(F.col("bvec")))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_expr(F.col("avec"), F.col("bvec"))
                / (F.col("anorm") * F.col("bnorm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.35,
    n_iters: int = 0,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public methodology):
    embedding-level semantic dedup. Cluster the corpus (deterministic IVF
    centroids, optional Lloyd refinement), compute pairwise cosine ONLY
    within each cluster, link pairs ≥ threshold, and keep one document per
    connected component.

    Output: ``(id, component, is_keeper)`` for every vector.

    Scale shape: the pair join is an equi-join on the cluster id — cost is
    Σ cluster², never corpus². At 10^8+ vectors pick n_centroids so the
    mean cluster is 10³-10⁴ rows (SemDeDup's own regime); a runaway cluster
    is AQE-skew-split, and the cluster id is a derived column so the same
    frame serves both join sides from one shuffle. Components via
    :func:`crawler_spark.pipeline.dedup.connected_components` (min-label +
    pointer jumping, O(log d) rounds).
    """
    from .dedup import near_dup_components

    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = spread(corpus).select(
        F.col(id_col),
        as_double.alias("v"),
        ivf_probe_expr(as_double, cents, nprobe=1)[0].alias("cid"),
    ).withColumn("nrm", norm_expr(F.col("v")))
    # both self-join sides read this frame: persist so the centroid probe
    # (n_centroids × dim fold per row) runs once, not twice
    assigned = assigned.persist()
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("av"), F.col("nrm").alias("an"), "cid"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("bv"), F.col("nrm").alias("bn"), "cid"
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_expr(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    )
    return near_dup_components(corpus, id_col, pairs)
