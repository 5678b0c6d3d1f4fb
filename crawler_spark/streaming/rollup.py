"""Streaming-native operators: watermarked windowed rollups + keyed state.

The reference has no event time (bounded channels only — SURVEY.md §2.4
"Streaming" row); these operators are the streaming half our engine needs
once the crawl runs against an unbounded page feed:

- :func:`hourly_host_rollup_stream` — fetch-rate-per-host over event-time
  windows with a watermark, the standard late-data answer (a page whose
  ``warc_ts`` lags the watermark past the delay is dropped, not
  double-counted into a finalized window).
- :func:`stateful_host_budget` — a LIFETIME per-host crawl cap enforced
  across micro-batches via ``applyInPandasWithState``. The per-round
  politeness window (frontier/politeness.py) cannot express this: a
  window function sees one round, keyed state survives all of them.

Both come with batch twins so tests can assert stream == batch on the
same finite input (availableNow).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def hourly_host_rollup(
    df: DataFrame, ts_col: str = "warc_ts", key_col: str = "host"
) -> DataFrame:
    """Batch twin of the streaming rollup: pages/hour per host."""
    return (
        df.groupBy(
            F.window(F.col(ts_col), "1 hour").alias("win"), F.col(key_col)
        )
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(key_col).alias("host"),
            "n_pages",
        )
    )


def hourly_host_rollup_stream(
    stream_df: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "host",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed page counts per host with a watermark.

    Append output mode emits a (window, host) row once the watermark
    passes the window end — late pages inside the delay still count,
    later ones are dropped. State size is bounded by
    (#hosts × watermark/window) — the watermark is what makes a
    10^10-page unbounded feed feasible; without it window state grows
    forever.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("win"), F.col(key_col))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(key_col).alias("host"),
            "n_pages",
        )
    )


_BUDGET_OUT = StructType(
    [
        StructField("host", StringType()),
        StructField("url_canon", StringType()),
        StructField("priority", IntegerType()),
        StructField("seq", LongType()),
    ]
)

_BUDGET_STATE = StructType([StructField("used", LongType())])


def stateful_host_budget(stream_df: DataFrame, total_cap: int) -> DataFrame:
    """Admit at most ``total_cap`` urls per host over the stream's LIFETIME.

    ``applyInPandasWithState`` keeps one long per host (urls already
    admitted); each micro-batch admits its ``(priority, seq)``-smallest
    rows up to the remainder. Deterministic given the batch boundaries:
    admission order within a batch is a data property, and the state is a
    pure fold over batches. Arrow-batched — no per-row Python.

    Input: streaming DF with (host, url_canon, priority, seq).
    """

    def admit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        used = state.get[0] if state.exists else 0
        remaining = total_cap - used
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["priority", "seq"], kind="mergesort")
        take = batch.iloc[: max(remaining, 0)]
        state.update((used + len(take),))
        if len(take):
            yield take[["host", "url_canon", "priority", "seq"]]

    return (
        stream_df.groupBy("host")
        .applyInPandasWithState(
            admit,
            outputStructType=_BUDGET_OUT,
            stateStructType=_BUDGET_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def url_dedup_stream(
    stream_df: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "url_canon",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming URL-seen dedup: emit each canonical URL's FIRST arrival,
    dropping re-fetches that land within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` is the streaming twin of the batch
    seen anti-join (frontier/seen.py): state for a key is kept only until
    the watermark passes its arrival + delay, so state size is bounded by
    the horizon's traffic — not by crawl lifetime (the unbounded-lifetime
    cap is the batch seen table / Bloom; this operator is the in-flight
    tier that stops duplicate fetches *within* a horizon at stream speed).
    A duplicate later than the horizon re-emits — by design: the batch
    layer owns forever-dedup, the stream layer owns burst-dedup.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key_col]
    )

