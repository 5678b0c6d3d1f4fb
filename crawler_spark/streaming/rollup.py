"""Streaming-native operators: keyed state + watermarked dedup.

The reference has no event time (bounded channels only — SURVEY.md §2.4
"Streaming" row); these operators are the streaming half our engine needs
once the crawl runs against an unbounded page feed:

- :func:`stateful_host_budget` — a LIFETIME per-host crawl cap enforced
  across micro-batches via ``applyInPandasWithState``. The per-round
  politeness window (frontier/politeness.py) cannot express this: a
  window function sees one round, keyed state survives all of them.
- :func:`url_dedup_stream` — first arrival of each canonical URL within a
  watermark horizon (``dropDuplicatesWithinWatermark``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
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
    cap is the batch seen table; this operator is the in-flight
    tier that stops duplicate fetches *within* a horizon at stream speed).
    A duplicate later than the horizon re-emits — by design: the batch
    layer owns forever-dedup, the stream layer owns burst-dedup.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key_col]
    )

