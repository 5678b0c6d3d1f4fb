"""Cuckoo seen-filter: kernel invariants (numpy) + Spark state-table paths.

Contract under test (crawler_spark/frontier/cuckoo.py):
* no false negatives for inserted members — the property that keeps
  ``CuckooState.unseen`` exact;
* bounded false-positive rate;
* merge of two serialized states preserves membership (partial-key
  re-insertion);
* ``CuckooState.unseen`` equals the exact anti-join.
"""

import numpy as np
import pytest

from crawler_spark.frontier.cuckoo import (
    _SLOTS,
    CuckooState,
    _insert_hashes,
    _probe_kernel,
)


def _rng_hashes(seed: int, n: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    # full-range uint64, deterministic
    return (
        rng.randint(0, 1 << 32, size=n, dtype=np.uint64) << np.uint64(32)
    ) | rng.randint(0, 1 << 32, size=n, dtype=np.uint64)


def _empty(n_tbl: int = 1 << 12):
    return np.zeros((n_tbl, _SLOTS), dtype=np.uint16), np.zeros(0, dtype=np.int64)


def test_no_false_negatives_and_bounded_fpr():
    table, stash = _empty()
    members = _rng_hashes(1, 5000)
    table, stash = _insert_hashes(table, stash, members)
    assert _probe_kernel(table, stash, members).all()
    others = _rng_hashes(2, 20000)
    others = others[~np.isin(others, members)]
    fpr = _probe_kernel(table, stash, others).mean()
    # (2,4)-cuckoo with 16-bit fps: expected fpr ~ 8/65535 ~ 0.00012
    assert fpr < 0.002, fpr


def test_insert_is_idempotent_set():
    table, stash = _empty(1 << 8)
    members = _rng_hashes(3, 400)
    table, stash = _insert_hashes(table, stash, members)
    occupied = int((table != 0).sum()) + len(stash)
    table, stash = _insert_hashes(table, stash, members)
    assert int((table != 0).sum()) + len(stash) == occupied  # re-insert = no-op


def test_overflow_goes_to_stash_never_lost():
    # 64 slot-buckets * 4 slots = 256 slots; insert 400 -> must overflow
    table, stash = _empty(64)
    members = _rng_hashes(4, 400)
    table, stash = _insert_hashes(table, stash, members)
    assert len(stash) > 0
    assert _probe_kernel(table, stash, members).all()


@pytest.fixture()
def keyed(spark):
    def mk(rows):
        return spark.createDataFrame(rows, "bucket int, url_hash long, url_canon string")

    return mk


def test_filter_unseen_exact_with_cuckoo(spark, keyed):
    cs = CuckooState(n_buckets=2, table_buckets=1 << 8)
    seen_rows = [(i % 2, i * 7, f"https://h.example/p/{i}") for i in range(50)]
    seen = keyed(seen_rows)
    state = cs.merge(cs.empty(spark), seen.select("bucket", "url_hash"))
    cand_rows = seen_rows[:25] + [
        (i % 2, i * 7 + 3, f"https://h.example/q/{i}") for i in range(25)
    ]
    out = cs.unseen(keyed(cand_rows), seen, state)
    got = {r["url_canon"] for r in out.collect()}
    assert got == {f"https://h.example/q/{i}" for i in range(25)}


def test_merge_of_two_states_preserves_membership(spark, keyed):
    """Two checkpointed filter snapshots union into one state table; the
    fold must re-insert the second snapshot's entries losslessly."""
    cs = CuckooState(n_buckets=1, table_buckets=1 << 8)
    a_rows = [(0, i * 11 + 1, f"a{i}") for i in range(100)]
    b_rows = [(0, i * 13 + 7, f"b{i}") for i in range(100)]
    st_a = cs.merge(cs.empty(spark), keyed(a_rows).select("bucket", "url_hash"))
    st_b = cs.merge(cs.empty(spark), keyed(b_rows).select("bucket", "url_hash"))
    empty_new = keyed([]).select("bucket", "url_hash")
    merged = cs.merge(st_a.unionByName(st_b), empty_new)
    assert merged.count() == 1  # one state row per bucket again
    probed = cs.probe_broadcast(keyed(a_rows + b_rows), merged).collect()
    assert all(r["maybe_seen"] for r in probed)


def test_jvm_broadcast_probe_stash_path_no_false_negatives(spark, keyed):
    """Overfill a tiny table so inserts spill to the STASH, then require the
    r3 JVM broadcast probe (array_contains over the decoded stash keys) to
    find every member — a false negative there would admit duplicates.
    Also pins bit-exactness vs the numpy kernel on the same state."""
    cs = CuckooState(n_buckets=1, table_buckets=4)  # 16 slots, 120 keys
    seen_rows = [(0, int(np.int64(h)), f"s{i}") for i, h in enumerate(_rng_hashes(3, 120))]
    state = cs.merge(cs.empty(spark), keyed(seen_rows).select("bucket", "url_hash"))
    rows = state.collect()
    assert len(rows) == 1 and rows[0]["stash"] and len(rows[0]["stash"]) > 0
    cand_rows = seen_rows + [
        (0, int(np.int64(h)), f"n{i}") for i, h in enumerate(_rng_hashes(4, 200))
    ]
    got = {
        r["url_canon"]: r["maybe_seen"]
        for r in cs.probe_broadcast(keyed(cand_rows), state).collect()
    }
    assert all(got[u] for _, _, u in seen_rows)  # stash members found
    from crawler_spark.frontier.cuckoo import _decode

    table, stash = _decode(rows[0]["table"], rows[0]["stash"], 4)
    want = _probe_kernel(
        table, stash, np.array([h for _, h, _ in cand_rows], dtype=np.int64).astype(np.uint64)
    )
    for (b, h, u), w in zip(cand_rows, want):
        assert got[u] == bool(w), (u, h)
