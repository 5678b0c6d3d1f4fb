"""Partitioned cuckoo URL-seen filter (the "/cuckoo" half of north_rule's
"partitioned Bloom/cuckoo URL-seen filter").

Same state-table pattern as :class:`crawler_spark.frontier.seen.BloomState`
— one binary row per host bucket, checkpointable to parquet/Iceberg, probed
map-side with codegen expressions. :meth:`CuckooState.unseen` carries the
probe verdict as a condition of the exact anti-join; the
``cuckoo_seen_anti_join`` registry query runs it.

Layout per host bucket (a (2,4)-cuckoo filter):

* ``table``: uint16 fingerprint array of shape ``(table_buckets, 4)`` —
  ``table_buckets`` a power of two, 4 slots per slot-bucket, fingerprint
  ``fp ∈ [1, 0xFFFF]`` derived from the top bits of the 64-bit url hash
  (0 = empty slot).
* ``stash``: int64 array of ``slot_bucket * 65536 + fp`` overflow entries.
  Insertion never evicts (evict chains are inherently sequential — per-row
  Python, which north_star forbids); items that miss a free slot in both
  candidate slot-buckets across a few vectorized placement rounds overflow
  to the stash. At load factor ≤ 0.5 the stash stays tiny, and because the
  stash stores (slot_bucket, fp) pairs — the same information a table slot
  holds — two filter states merge losslessly by re-inserting one side's
  entries into the other.

Semantics (standard cuckoo-filter contract):

* no false negatives for inserted members (insert is probe-first, so the
  filter is a set: re-inserting a member is a no-op);
* false-positive rate ~ 2 × 4 / 2^16 per slot-bucket pair + stash hits;
  every positive is double-checked by the exact anti-join in
  :meth:`CuckooState.unseen`, so filter false positives never change the
  result.

All kernels are numpy bit-ops over whole Arrow batches — no per-row Python.

Reference parity note: the reference keeps NO url-seen state at all
(dedup is per-page only, collector-url.go:31); the global seen filter is
new behavior mandated by BASELINE.json's north_rule.
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

CUCKOO_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("table", BinaryType()),
        StructField("stash", BinaryType()),
    ]
)

_SLOTS = 4
_FP_MOD = np.uint64(0xFFFF)  # fp in [1, 0xFFFF]; 0 marks an empty slot
_MIX = np.uint64(0x5BD1E995)  # odd multiplier decorrelates fp from index bits


def _fp_of(h: np.ndarray) -> np.ndarray:
    """uint64 hashes → uint16 fingerprints in [1, 0xFFFF]."""
    return ((h >> np.uint64(48)) % _FP_MOD + np.uint64(1)).astype(np.uint16)


def _index_pair(h: np.ndarray, n_tbl: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fp, i1, i2): the two candidate slot-buckets of each hash.

    i2 = i1 XOR mix(fp) — the partial-key cuckoo property: either index is
    recoverable from the other plus the fingerprint, which is what makes
    table entries re-insertable during merge without the original hash.
    """
    mask = np.uint64(n_tbl - 1)
    fp = _fp_of(h)
    i1 = (h & mask).astype(np.int64)
    i2 = ((i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _MIX)) & mask).astype(np.int64)
    return fp, i1, i2


def _stash_keys(i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
    return i1.astype(np.int64) * 65536 + fp.astype(np.int64)


def _probe_kernel(table: np.ndarray, stash: np.ndarray, h: np.ndarray) -> np.ndarray:
    fp, i1, i2 = _index_pair(h, table.shape[0])
    hit = (table[i1] == fp[:, None]).any(axis=1)
    hit |= (table[i2] == fp[:, None]).any(axis=1)
    if len(stash):
        hit |= np.isin(_stash_keys(i1, fp), stash)
        hit |= np.isin(_stash_keys(i2, fp), stash)
    return hit


def cuckoo_test_expr(url_hash, table, stash, n_tbl: int):
    """Codegen cuckoo membership test — the JVM twin of ``_probe_kernel``.

    Replays the numpy maths on signed longs: ``fp = (h >>> 48) % 0xFFFF +
    1`` (logical shift; result fits [1, 0xFFFF]), ``i1 = h & (n_tbl-1)``
    (non-negative), ``i2 = (i1 XOR fp·MIX) & mask`` (operands positive, so
    signed XOR == unsigned). The slot table is the little-endian uint16
    ``(n_tbl, 4)`` array from ``_encode``: slot ``s`` of table-bucket
    ``i`` is the two bytes at offset ``(i·4 + s)·2`` (lo + hi·256). Stash
    membership is ``array_contains`` on the decoded int64 key list with
    key ``i·65536 + fp`` for both candidate buckets. NULL table (bucket
    absent) → false, matching the numpy path. ``stash=None`` skips the
    stash check (caller passes None when every stash is empty)."""
    fp = F.pmod(F.shiftrightunsigned(url_hash, 48), F.lit(int(_FP_MOD))) + F.lit(1)
    mask = F.lit(n_tbl - 1)
    i1 = url_hash.bitwiseAND(mask)
    i2 = i1.bitwiseXOR(fp * F.lit(int(_MIX))).bitwiseAND(mask)

    def byte_at(off):
        return F.ascii(
            F.decode(table.substr((off + F.lit(1)).cast("int"), F.lit(1)), "ISO-8859-1")
        )

    def hit_in(i):
        base = i * F.lit(_SLOTS * 2)
        verdict = None
        for s in range(_SLOTS):
            off = base + F.lit(2 * s)
            val = byte_at(off) + byte_at(off + F.lit(1)) * F.lit(256)
            test = val == fp
            verdict = test if verdict is None else (verdict | test)
        return verdict

    verdict = hit_in(i1) | hit_in(i2)
    if stash is not None:
        verdict = (
            verdict
            | F.array_contains(stash, i1 * F.lit(65536) + fp)
            | F.array_contains(stash, i2 * F.lit(65536) + fp)
        )
    return F.coalesce(verdict, F.lit(False))


def _place_rounds(
    table: np.ndarray, fp: np.ndarray, choices: list[np.ndarray]
) -> np.ndarray:
    """Vectorized slot placement: for each round, sort pending items by their
    chosen slot-bucket, rank within equal buckets, and land rank r in slot
    ``occupied + r`` when that stays under the 4-slot width. Returns the
    indices that found no slot (→ stash)."""
    pend = np.arange(len(fp))
    for choice in choices:
        if not len(pend):
            break
        order = np.argsort(choice[pend], kind="stable")
        p = pend[order]
        b = choice[p]
        first_of_group = np.r_[True, b[1:] != b[:-1]]
        group_start = np.maximum.accumulate(
            np.where(first_of_group, np.arange(len(b)), 0)
        )
        rank = np.arange(len(b)) - group_start
        slot = (table[b] != 0).sum(axis=1) + rank
        ok = slot < _SLOTS
        table[b[ok], slot[ok]] = fp[p[ok]]
        pend = p[~ok]
    return pend


def _insert_hashes(
    table: np.ndarray, stash: np.ndarray, h: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Insert unique uint64 hashes; probe-first keeps set semantics."""
    if not len(h):
        return table, stash
    h = np.unique(h)
    fresh = ~_probe_kernel(table, stash, h)
    h = h[fresh]
    if not len(h):
        return table, stash
    fp, i1, i2 = _index_pair(h, table.shape[0])
    over = _place_rounds(table, fp, [i1, i2, i1, i2])
    if len(over):
        stash = np.concatenate([stash, _stash_keys(i1[over], fp[over])])
    return table, stash


def _insert_entries(
    table: np.ndarray, stash: np.ndarray, i1: np.ndarray, fp: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Insert (slot_bucket, fp) entries (merge path). No probe-first: the
    source table already held one physical slot per entry, so duplicates
    across merged states are preserved, never invented."""
    if not len(fp):
        return table, stash
    mask = np.uint64(table.shape[0] - 1)
    i2 = ((i1.astype(np.uint64) ^ (fp.astype(np.uint64) * _MIX)) & mask).astype(np.int64)
    over = _place_rounds(table, fp, [i1, i2, i1, i2])
    if len(over):
        stash = np.concatenate([stash, _stash_keys(i1[over], fp[over])])
    return table, stash


def _decode(row_table, row_stash, n_tbl: int) -> tuple[np.ndarray, np.ndarray]:
    table = (
        np.frombuffer(bytes(row_table), dtype=np.uint16).reshape(n_tbl, _SLOTS).copy()
        if row_table is not None
        else np.zeros((n_tbl, _SLOTS), dtype=np.uint16)
    )
    stash = (
        np.frombuffer(bytes(row_stash), dtype=np.int64).copy()
        if row_stash is not None
        else np.zeros(0, dtype=np.int64)
    )
    return table, stash


class CuckooState:
    """Partitioned cuckoo filter over ``url_hash`` keyed by host bucket."""

    schema = CUCKOO_SCHEMA

    def __init__(self, n_buckets: int = 32, table_buckets: int = 1 << 14):
        assert table_buckets & (table_buckets - 1) == 0, "power of two"
        self.n_buckets = n_buckets
        self.table_buckets = table_buckets

    def empty(self, spark) -> DataFrame:
        zero_t = bytes(self.table_buckets * _SLOTS * 2)
        rows = [(b, zero_t, b"") for b in range(self.n_buckets)]
        return spark.createDataFrame(rows, CUCKOO_SCHEMA)

    def merge(self, state_df: DataFrame, new_df: DataFrame) -> DataFrame:
        """Fold new ``(bucket, url_hash)`` rows into the per-bucket filters —
        co-partitioned on the bucket key, same shuffle shape as Bloom merge."""
        n_tbl = self.table_buckets

        def fold(state_pdf: pd.DataFrame, new_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(state_pdf):
                bucket = int(state_pdf["bucket"].iloc[0])
            else:
                bucket = int(new_pdf["bucket"].iloc[0])
            table = np.zeros((n_tbl, _SLOTS), dtype=np.uint16)
            stash = np.zeros(0, dtype=np.int64)
            # fold state rows: first is the base, later ones re-insert their
            # entries (partial-key property makes table slots re-insertable)
            for n, (t_blob, s_blob) in enumerate(
                zip(state_pdf.get("table", []), state_pdf.get("stash", []))
            ):
                t, s = _decode(t_blob, s_blob, n_tbl)
                if n == 0:
                    table, stash = t, s
                    continue
                i1, slot = np.nonzero(t)
                table, stash = _insert_entries(table, stash, i1, t[i1, slot])
                if len(s):
                    table, stash = _insert_entries(
                        table, stash, s // 65536, (s % 65536).astype(np.uint16)
                    )
            hashes = new_pdf["url_hash"].to_numpy(dtype=np.int64).astype(np.uint64)
            table, stash = _insert_hashes(table, stash, hashes)
            return pd.DataFrame(
                {"bucket": [bucket], "table": [table.tobytes()], "stash": [stash.tobytes()]}
            )

        return (
            state_df.groupBy("bucket")
            .cogroup(new_df.select("bucket", "url_hash").groupBy("bucket"))
            .applyInPandas(fold, CUCKOO_SCHEMA)
        )

    def probe_broadcast(self, candidates: DataFrame, state_df: DataFrame) -> DataFrame:
        """Map-side probe, PURE JVM since r3 (same rationale as
        ``BloomState.probe_broadcast``): the per-bucket slot tables ride a
        constant ``array<binary>`` literal (reference access via
        ``element_at`` — a joined binary column would be copied per row by
        ``UnsafeRow.getBinary``), the stashes an ``array<array<long>>``
        literal, and :func:`cuckoo_test_expr` replays the numpy probe
        kernel in codegen. A plain Project: zero shuffle, zero Python, and
        the planner keeps seeing the candidates' partitioning, so the
        exact anti-join above reuses the admission exchange instead of
        re-shuffling every candidate (the Arrow form's ArrowEvalPython hid
        it). Right while the whole filter fits executor memory."""
        n_tbl = self.table_buckets
        tables: list[bytes | None] = [None] * self.n_buckets
        stashes: list[list[int]] = [[] for _ in range(self.n_buckets)]
        for r in state_df.collect():
            b = int(r["bucket"])
            if not 0 <= b < self.n_buckets:
                continue
            if r["table"] is not None:
                tables[b] = bytes(r["table"])
            if r["stash"]:
                stashes[b] = np.frombuffer(bytes(r["stash"]), dtype=np.int64).tolist()
        table = F.element_at(F.lit(tables), F.col("bucket") + 1)
        stash = (
            F.element_at(F.lit(stashes), F.col("bucket") + 1)
            if any(stashes)
            else None
        )
        return candidates.withColumn(
            "maybe_seen", cuckoo_test_expr(F.col("url_hash"), table, stash, n_tbl)
        )

    def unseen(self, candidates: DataFrame, seen: DataFrame, state_df: DataFrame) -> DataFrame:
        """The candidates ``(…, url_canon, url_hash, bucket)`` whose
        ``url_canon`` is not in ``seen``: the exact ``left_anti`` join, with
        this filter's verdict (over ``state_df``) as a condition on it."""
        probed = self.probe_broadcast(candidates, state_df)
        # ONE anti-join whose condition carries the probe verdict. The hash
        # lookup runs for every candidate; the condition is evaluated only on a
        # key match, where a filter with no false negatives always holds — so
        # the rows out are the exact anti-join's, and a maybe_seen=false row
        # spares no lookup. (The two-branch form, definitely-new ∪ anti-joined
        # maybe-seen, re-executed everything above the probe once per branch.)
        seen_keys = seen.select("url_canon")
        return probed.join(
            seen_keys,
            (probed["url_canon"] == seen_keys["url_canon"]) & probed["maybe_seen"],
            "left_anti",
        ).drop("maybe_seen")
