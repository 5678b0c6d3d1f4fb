"""Deterministic benchmark inputs and their oracle answers, cached per seed.

Inputs come from ``crawler_spark.corpus.make_corpus`` (a pure function of
the seed and its size knobs). They are written once per (workload, seed,
sizes) under the cache directory and reused by every later run, so input
generation and the pure-Python oracles never run inside a timed region.

Parquet is written here rather than with ``corpus.write_corpus``: that
helper writes ``warc_ts`` as TIMESTAMP(NANOS), which Spark 4.1 refuses
(``PARQUET_TYPE_ILLEGAL``). Timestamps are cast to microseconds first.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# The pages table is staged as several files so its scan splits across the
# cores; a single small file would be read by one task.
PAGE_FILES = 8

JD_CATEGORY = "charity"


def _write_parquet(df, path: str, n_files: int = 1) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            us = table.column(i).cast(pa.timestamp("us", tz=f.type.tz))
            table = table.set_column(i, f.name, us)
    os.makedirs(path)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{k:03d}.parquet"))


def _cached(cache_dir: str, key: str, build) -> str:
    """``cache_dir/key``, built by ``build(tmp_dir)`` on first use."""
    path = os.path.join(cache_dir, key)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.replace(tmp, path)
    return path


def _dump(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def load_json(path: str):
    with open(path) as f:
        return json.load(f)


def crawl_inputs(cache_dir: str, seed: int, n_hosts: int, pages_per_host: int, n_seed_hosts: int,
                 rounds: int) -> str:
    """Corpus tables plus ``oracle.json``: ``crawl_oracle`` with ``max_rounds=rounds``."""

    def build(out: str) -> None:
        from crawler_spark.corpus import make_corpus
        from crawler_spark.oracle import crawl_oracle

        t = make_corpus(seed=seed, n_hosts=n_hosts, pages_per_host=pages_per_host, n_seed_hosts=n_seed_hosts)
        _write_parquet(t["pages"], os.path.join(out, "pages"), PAGE_FILES)
        for name in ("seeds", "robots", "politeness"):
            _write_parquet(t[name], os.path.join(out, name))
        pages = {r.url: bytes(r.html).decode("utf-8") for r in t["pages"].itertuples()}
        res = crawl_oracle(
            pages,
            [(r.url, int(r.priority), int(r.seq)) for r in t["seeds"].itertuples()],
            {r.host: list(r.disallow_prefixes) for r in t["robots"].itertuples()},
            {r.host: int(r.max_fetches_per_round) for r in t["politeness"].itertuples()},
            default_budget=16,
            max_rounds=rounds,
        )
        _dump(
            {
                "schedule": [[e.round, e.priority, e.seq, e.url, e.fetched] for e in res.schedule],
                "seen": sorted(res.seen),
            },
            os.path.join(out, "oracle.json"),
        )

    key = f"crawl-s{seed}-h{n_hosts}-p{pages_per_host}-s{n_seed_hosts}-r{rounds}"
    return _cached(cache_dir, key, build)


def jd_inputs(cache_dir: str, seed: int, list_pages: int, projects_per_page: int) -> str:
    """jd-shaped pages plus ``oracle.json``: ``{detail url: examples.jd.oracle_row}``."""

    def build(out: str) -> None:
        from crawler_spark.corpus import make_corpus
        from crawler_spark.examples.jd import oracle_row

        t = make_corpus(
            seed=seed,
            n_hosts=1,
            pages_per_host=3,
            jd_pages_per_category=list_pages,
            jd_projects_per_page=projects_per_page,
            n_seed_hosts=1,
        )
        _write_parquet(t["pages"], os.path.join(out, "pages"), PAGE_FILES)
        corpus = {r.url: bytes(r.html).decode("utf-8") for r in t["pages"].itertuples()}
        rows = {
            url: oracle_row(url, html, corpus, JD_CATEGORY)
            for url, html in corpus.items()
            if "/project/details/" in url
        }
        _dump(rows, os.path.join(out, "oracle.json"))

    key = f"jd-s{seed}-l{list_pages}-p{projects_per_page}"
    return _cached(cache_dir, key, build)
