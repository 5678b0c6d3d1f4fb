"""Partitioned Bloom URL-seen filter, plus mergeable distinct-URL sketches.

north_rule: "deduplicated via a partitioned Bloom/cuckoo URL-seen filter".

The crawl's seen check is the exact ``left_anti`` join in
:func:`crawler_spark.scheduler.admit`; no filter takes part in it. The
filter that does run, the cuckoo filter of the ``cuckoo_seen_anti_join``
registry query, lives in :mod:`crawler_spark.frontier.cuckoo`.

The Bloom state is partitioned by host-bucket
(``pmod(xxhash64(host), n_buckets)``) so each bucket's bitmap stays small
enough to build inside one Arrow batch.

Bitmaps are numpy uint64 arrays stored as binary rows ``(bucket, bitmap)``
— a plain DataFrame, checkpointable to parquet/Iceberg like any other state
table. The build is vectorized numpy bit-ops over Arrow batches and the
probe is codegen expressions (no per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

BLOOM_SCHEMA = StructType(
    [StructField("bucket", IntegerType()), StructField("bitmap", BinaryType())]
)

_K_HASHES = 4


def _positions(hashes: np.ndarray, n_bits: int) -> np.ndarray:
    """(n, K) bit positions derived from 64-bit url hashes (double hashing)."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd → good stride
    ks = np.arange(_K_HASHES, dtype=np.uint64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _apply_set(bitmap: np.ndarray, hashes: np.ndarray, n_bits: int) -> None:
    pos = _positions(hashes, n_bits).ravel()
    words = pos >> 6
    shifts = (pos & 63).astype(np.uint64)
    np.bitwise_or.at(bitmap, words, np.uint64(1) << shifts)


def bloom_test_expr(url_hash: F.Column, bitmap: F.Column, n_bits: int) -> F.Column:
    """Codegen Bloom membership test of the bits ``_apply_set`` sets.

    Replays the numpy kernel's double hashing bit-exactly on signed longs:
    ``h1 = h & 0xFFFFFFFF`` (low 32, non-negative), ``h2 = (h >>> 32) | 1``
    (logical shift — ``shiftrightunsigned`` — so negative hashes match
    numpy's uint64 shift), position ``(h1 + k·h2) % n_bits`` (< 2^34, no
    overflow; < 2^52, so the ``floor(pos/8)`` double round-trip is exact).
    The bitmap is the little-endian uint64 array from ``_apply_set``:
    global bit ``pos`` lives in byte ``pos >> 3`` at bit ``pos & 7`` (LE
    word byte order makes the flat-byte view line up). Byte extraction =
    one-byte ``substr`` → latin-1 ``decode`` → ``ascii`` (0-255); all
    whole-stage codegen, no Python. NULL bitmap (bucket absent from the
    filter) → false (definitely new)."""
    h1 = url_hash.bitwiseAND(F.lit(0xFFFFFFFF))
    h2 = F.shiftrightunsigned(url_hash, 32).bitwiseOR(F.lit(1))
    verdict = None
    for k in range(_K_HASHES):
        pos = F.pmod(h1 + F.lit(k) * h2, F.lit(n_bits))
        byte = F.ascii(
            F.decode(bitmap.substr(F.floor(pos / 8).cast("int") + 1, F.lit(1)), "ISO-8859-1")
        )
        bit = (
            F.call_function("shiftright", byte, F.pmod(pos, F.lit(8)).cast("int"))
            .bitwiseAND(F.lit(1))
        )
        test = bit == F.lit(1)
        verdict = test if verdict is None else (verdict & test)
    return F.coalesce(verdict, F.lit(False))


class BloomState:
    """Partitioned Bloom filter over ``url_hash`` keyed by host bucket."""

    schema = BLOOM_SCHEMA

    def __init__(self, n_buckets: int = 32, bits_per_bucket: int = 1 << 16):
        assert bits_per_bucket % 64 == 0
        self.n_buckets = n_buckets
        self.n_bits = bits_per_bucket

    def empty(self, spark) -> DataFrame:
        zero = bytes(self.n_bits // 8)
        rows = [(b, zero) for b in range(self.n_buckets)]
        return spark.createDataFrame(rows, BLOOM_SCHEMA)

    def merge(self, bloom_df: DataFrame, new_df: DataFrame) -> DataFrame:
        """Fold new ``(bucket, url_hash)`` rows into the per-bucket bitmaps.

        One ``applyInPandas`` per bucket group — the bitmap never leaves its
        bucket partition, so at scale this is a co-partitioned merge with no
        wide shuffle beyond the bucket key.
        """
        n_bits = self.n_bits

        # cogroup keeps each side's dtype intact — unioning with nulls would
        # coerce the int64 url_hash column to float64 in pandas and silently
        # corrupt large hashes.
        def fold(bm_pdf: pd.DataFrame, new_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(bm_pdf):
                bucket = int(bm_pdf["bucket"].iloc[0])
            else:
                bucket = int(new_pdf["bucket"].iloc[0])
            bitmap = np.zeros(n_bits // 64, dtype=np.uint64)
            for blob in bm_pdf["bitmap"].dropna():
                bitmap |= np.frombuffer(bytes(blob), dtype=np.uint64)
            hashes = new_pdf["url_hash"].to_numpy(dtype=np.int64)
            if len(hashes):
                _apply_set(bitmap, hashes, n_bits)
            return pd.DataFrame({"bucket": [bucket], "bitmap": [bitmap.tobytes()]})

        return (
            bloom_df.groupBy("bucket")
            .cogroup(new_df.select("bucket", "url_hash").groupBy("bucket"))
            .applyInPandas(fold, BLOOM_SCHEMA)
        )

    def probe_broadcast(self, candidates: DataFrame, bloom_df: DataFrame) -> DataFrame:
        """Map-side Bloom probe, PURE JVM since r3: embed the per-bucket
        bitmaps as ONE constant ``array<binary>`` literal and test the K
        bit positions with codegen expressions — a plain Project, zero
        shuffle, zero Python, zero join.

        Why not the previous Arrow/pandas-UDF probe: ``ArrowEvalPython``
        does not propagate its child's output partitioning, so the
        candidates — hash-partitioned by url_canon from the admission
        dedup — were RE-EXCHANGED in full for the exact anti-join right
        above the probe (measured 269 MB of a 6M-URL round's ~850 MB
        shuffled). Expression-only probing keeps the partitioning visible
        to the planner (one candidates exchange per round, reused by the
        anti-join) and drops the Arrow round-trip of (bucket, url_hash)
        for every candidate.

        Why a LITERAL and not a broadcast join of the bitmap rows: the
        joined ``bitmap`` attribute is read with ``UnsafeRow.getBinary``,
        which COPIES the field — 512 KiB per candidate row per access
        (measured 3× slower than the Arrow probe at 6M rows). The
        array-literal is a single ``GenericArrayData`` evaluated once per
        task; ``element_at`` by bucket returns a byte[] REFERENCE, and
        per-candidate work is K one-byte substrings. The literal rides the
        task binary exactly like the old python broadcast variable did
        (n_buckets × bits/8; 32 × 512 KiB = 16 MiB here). Bit-exactness
        vs a numpy reference is pinned in tests/test_frontier.py.
        """
        rows = bloom_df.collect()
        blobs: list[bytes | None] = [None] * self.n_buckets
        for r in rows:
            if r["bitmap"] is not None and 0 <= int(r["bucket"]) < self.n_buckets:
                blobs[int(r["bucket"])] = bytes(r["bitmap"])
        bitmap = F.element_at(F.lit(blobs), F.col("bucket") + 1)
        return candidates.withColumn(
            "maybe_seen", bloom_test_expr(F.col("url_hash"), bitmap, self.n_bits)
        )


# ---------------------------------------------------------------------------
# mergeable distinct-URL counters (HLL sketches)
# ---------------------------------------------------------------------------

def round_url_sketches(
    frontier: DataFrame,
    round_col: str = "round",
    url_col: str = "url_canon",
    lg_k: int = 14,
) -> DataFrame:
    """Per-round HLL sketch of distinct URLs: ``(round, url_sketch)``.

    The lineage-metrics analog of ``approx_count_distinct`` that actually
    composes across rounds: a count can't be merged (distincts overlap),
    a Datasketches HLL sketch can — union N rounds' sketches and estimate
    once, without rescanning any round's frontier. At 10^10 URLs the exact
    distinct needs a full shuffle of the seen table; the sketch is one
    partial-aggregable pass, 2^lg_k bytes of state per round, and the
    union is driver-cheap. lg_k=14 → ~0.8% relative standard error.
    """
    return frontier.groupBy(round_col).agg(
        F.hll_sketch_agg(F.col(url_col), F.lit(lg_k)).alias("url_sketch")
    )


def union_sketch_estimate(sketches: DataFrame, sketch_col: str = "url_sketch") -> DataFrame:
    """Union per-round sketches → 1-row ``(approx_distinct_urls)`` estimate.

    ``hll_union_agg`` merges sketch registers losslessly (same lg_k), so
    unioning round sketches gives EXACTLY the sketch of the concatenated
    rounds — the estimate is identical to re-sketching all rounds' URLs in
    one pass, which the companion test pins.
    """
    return (
        sketches.agg(F.hll_union_agg(F.col(sketch_col)).alias("merged"))
        .select(
            F.hll_sketch_estimate("merged").alias("approx_distinct_urls"),
        )
    )
