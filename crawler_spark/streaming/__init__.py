"""Structured Streaming surface of the engine.

The reference is a pull-based streaming system (bounded Go channels:
/root/reference/collector-url.go:23, pager.go:16, collector.go:9) whose
sources are finite, so the batch engine models it as BSP rounds
(scheduler.py). This package is the *unbounded-source* tier: the same
round logic driven by Structured Streaming, plus the streaming-native
operators (cross-batch keyed state, watermarked URL dedup) that a
long-running crawl needs.

- :mod:`crawl_stream` — incremental crawl: a watched frontier directory
  is the stream source; each micro-batch is one politeness-bounded round
  whose outlinks feed back into the source, with exactly-once effects via
  batch-id-keyed idempotent writes.
- :mod:`rollup` — a lifetime per-host budget via
  ``applyInPandasWithState`` (state the per-round window cannot express),
  and watermark-bounded URL dedup.
"""

from crawler_spark.streaming.crawl_stream import (  # noqa: F401
    StreamCrawlConfig,
    stream_crawl,
)
from crawler_spark.streaming.rollup import (  # noqa: F401
    stateful_host_budget,
    url_dedup_stream,
)
