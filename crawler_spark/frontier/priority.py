"""Change-rate frontier priorities.

The reference schedules strictly FIFO (channel order in the reference's
``collector-url.go``); our engine makes priority a DATA column the
politeness window orders by (SURVEY §2.5 "priority queue").
:func:`change_rate_priority` computes that column from each URL's observed
fetch history: how often its content changed, times how long since it was
last fetched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def change_rate_priority(
    history: DataFrame,
    url_col: str = "url_canon",
    ts_col: str = "ts",
    seq_col: str = "seq",
    fp_col: str = "fp",
    now_ts: str = "2024-02-15 00:00:00",
) -> DataFrame:
    """Freshness-driven recrawl priority from OBSERVED change history —
    the Cho & Garcia-Molina ("Effective Page Refresh Policies for Web
    Crawlers", 2003) estimator family: each URL's past fetches form a
    fingerprint sequence; the fraction of fetch-to-fetch transitions that
    changed estimates its change rate, and rate × time-since-last-fetch
    scores how much freshness is being lost by not recrawling it now.
    Complements the sitemap-hint scheduler (sources/sitemap.py::
    recrawl_priority — what the SITE claims) with what the crawler
    MEASURED.

    Estimator: change_ratio = (n_changes + 1) / (n_obs + 2) — Laplace-
    smoothed so single-observation URLs get a usable prior instead of
    0/0. Deliberately a RATIO, not the paper's -log(1-r) intensity: IEEE
    ×,÷ are correctly rounded and bit-identical across engines, libm's
    log is not (the repo's cross-engine determinism rule), and the
    ranking it induces is the same for a fixed observation window.

    Output: ``(url, n_obs, n_changes, change_ratio, staleness_s,
    recrawl_score)``, score = ratio × seconds-since-last-observation
    (rounded 6 d.p. after each step, mirrored exactly in the oracle).
    ``now_ts`` is a FIXED literal (TIMESTAMP_NTZ — events.ts carries no
    zone) so the scoring replays bit-identically.

    Scale shape: ONE url-keyed exchange — the change flags ride a lag()
    window and the per-URL aggregate reuses the window's partitioning
    (Spark reuses the hashpartitioning(url) exchange for the groupBy);
    nothing else shuffles. Per-URL history length is bounded by recrawl
    cadence (tens of observations), so no skew; the fingerprints never
    leave their partition.
    """
    w = Window.partitionBy(url_col).orderBy(ts_col, seq_col)
    chg = F.coalesce(
        (F.col(fp_col) != F.lag(fp_col).over(w)).cast("int"), F.lit(0)
    )
    agg = (
        history.withColumn("_chg", chg)
        .groupBy(url_col)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("_chg").cast("long").alias("n_changes"),
            F.max(ts_col).alias("_last"),
        )
    )
    ratio = F.round(
        (F.col("n_changes") + 1) / (F.col("n_obs") + 2), 6
    ).alias("change_ratio")
    # microseconds then integer-divide: Spark's timestampdiff(SECOND)
    # counts complete seconds but DuckDB's date_diff('second') counts
    # boundary CROSSINGS — off by one on sub-second tails. The
    # MICROSECOND diff is exact on both engines (CLAUDE.md's epoch_us
    # equivalence) and `div`/`//` floor identically for positive spans.
    stale = F.expr(
        f"timestampdiff(MICROSECOND, _last, timestamp_ntz'{now_ts}') div 1000000"
    ).cast("long")
    return agg.select(
        F.col(url_col),
        F.col("n_obs").cast("long").alias("n_obs"),
        "n_changes",
        ratio,
        stale.alias("staleness_s"),
        F.round(
            F.round((F.col("n_changes") + 1) / (F.col("n_obs") + 2), 6)
            * stale,
            6,
        ).alias("recrawl_score"),
    )
