"""Driver-contract registry invariants — cheap, no SparkSession.

The driver runs queries() vs oracle_sql() side-by-side; a key present in
oracle_sql but missing from queries (or a non-callable entry) fails the
gate at driver time. Pin it at test time instead.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E


def test_every_oracle_key_has_a_query():
    qs, oracles = E.queries(), E.oracle_sql()
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle_sql keys without queries(): {sorted(missing)}"


def test_all_query_entries_callable_and_rows_only_documented():
    qs, oracles = E.queries(), E.oracle_sql()
    assert all(callable(fn) for fn in qs.values())
    # rows-only entries (no SQL twin) must be the known stateful/approx set —
    # adding a new oracle-less query silently weakens the gate, so list it here
    rows_only = set(qs) - set(oracles)
    # r3 emptied this set: the multimodal trio gained value-hashed twins via
    # the real from-scratch BMP/Y4M codecs, and stream_crawl_rounds moved to
    # the arithmetic corpus with a chained-CTE twin (_sql_stream_crawl)
    assert rows_only == set(), f"unexpected rows-only queries: {sorted(rows_only)}"


def test_oracle_sql_is_nonempty_select():
    for name, sql in E.oracle_sql().items():
        s = sql.strip().lower()
        assert s.startswith(("select", "with")), f"{name} oracle is not a query"


def test_rotation_window_is_exactly_fifty_registered_keys():
    """The driver checks only the FIRST 50 queries() keys (driver-window
    contract); the rotation list must be exactly 50 registered keys with
    no duplicates — r4's list silently grew to 53 and the overflow keys
    were never checked (ADVICE r4)."""
    front = E._R5_FRONT
    assert len(front) == 50, f"rotation window has {len(front)} keys, want 50"
    assert len(set(front)) == 50, "duplicate keys in rotation window"
    base = E._queries_base()
    unknown = [k for k in front if k not in base]
    assert not unknown, f"rotation window names unregistered queries: {unknown}"
    assert list(E.queries())[:50] == front


def _survey_coverage_rows() -> list[list[str]]:
    """SURVEY.md §2.6 table body as ``[op, implementation, key, test]``."""
    text = (Path(__file__).resolve().parents[1] / "SURVEY.md").read_text()
    section = text.split("### 2.6 ", 1)[1].split("\n---", 1)[0]
    rows = [ln for ln in section.splitlines() if ln.startswith("|")][2:]
    cells = [[c.strip() for c in ln.strip().strip("|").split(" | ")] for ln in rows]
    bad = [c[0] for c in cells if len(c) != 4]
    assert not bad, f"SURVEY §2.6 rows without exactly four cells: {bad}"
    return cells


def test_survey_coverage_map_matches_registry_and_code():
    """Every SURVEY §2.6 row names a registered queries() key (the first
    backticked token of its key cell; a cell opening with "—" has none),
    and every ``path.py::name[/name…]`` in its implementation cell is an
    attribute of that module — so deleting or renaming an operator
    without its row fails here."""
    import importlib
    import re

    rows = _survey_coverage_rows()
    qs = E.queries()
    keyed = [r for r in rows if not r[2].startswith("—")]
    keys = [re.search(r"`([^`]+)`", r[2]) for r in keyed]
    assert all(keys), "a SURVEY §2.6 key cell has no backticked key"
    unknown = sorted({m.group(1) for m in keys} - set(qs))
    assert not unknown, f"SURVEY §2.6 names unregistered queries: {unknown}"

    refs = [
        (path, name)
        for r in rows
        for path, names in re.findall(r"([\w/]+)\.py::(\w+(?:/\w+)*)", r[1])
        for name in names.split("/")
    ]
    assert refs
    missing = []
    for path, name in refs:
        dotted = path.replace("/", ".")
        module = importlib.import_module(
            dotted if dotted == "__spark_entry__" else f"crawler_spark.{dotted}"
        )
        if not hasattr(module, name):
            missing.append(f"{path}.py::{name}")
    assert not missing, f"SURVEY §2.6 names missing code: {missing}"
