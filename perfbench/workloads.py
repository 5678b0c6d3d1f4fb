"""The benchmark's workloads, each driven through the package's public entry points.

A workload's ``prepare(cache_dir, seed, seconds)`` makes or loads its
inputs; ``measure(run)`` does its warm-up and set-up, then its timed
operations (crawl rounds, or extraction passes), checking every output
against the cached oracle. It returns a :class:`Measured`.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import inputs, trace


@dataclass
class Measured:
    setup_s: float
    urls: int  # URLs scheduled (crawl) or detail rows extracted and written
    busy_s: float  # wall of the timed operations
    op_s: list[float]  # one per round / pass
    disk_bytes: float  # bytes left on disk per operation
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # traced runs: per-layer metric -> value


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(p))


def _fail(m: Measured, n_ops: int, what: str) -> None:
    m.failed += n_ops
    m.errors.append(what)
    print(f"perfbench: {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# crawl-deep
# ---------------------------------------------------------------------------

# the first rounds of a crawl are untimed warm-up: round 0 runs every code
# path of a round once in a cold JVM, and round 1 still ran about 1 s slower
# than later rounds on a 4-core box while the JIT caught up
WARM_ROUNDS = 2


def round_marks(ckpt: str) -> list[float]:
    """Round boundaries read from the checkpoint: the latest file time under
    ``round=-1`` (end of crawl init) and under each ``round=r``."""
    marks, r = [], -1
    while os.path.isdir(d := os.path.join(ckpt, f"round={r}")):
        files = [p for p in glob.glob(os.path.join(d, "**"), recursive=True) if os.path.isfile(p)]
        marks.append(max(os.path.getmtime(p) for p in files))
        r += 1
    return marks


def _read(path: str, columns: list[str]):
    return pq.read_table(path, columns=columns).to_pylist()


def check_crawl(ckpt: str, oracle: dict, rounds: int) -> tuple[list[str], dict]:
    """Output checks against the oracle plus conservation over the
    checkpoint's counts. Returns (errors, per-round counts)."""
    errors = []
    sched = []
    for r in range(rounds):
        sched += _read(os.path.join(ckpt, f"round={r}", "schedule"), ["round", "priority", "seq", "url", "fetched"])
    got = sorted((s["round"], s["priority"], s["seq"], s["url"], s["fetched"]) for s in sched)
    want = sorted(tuple(e) for e in oracle["schedule"])
    if got != want:
        errors.append(f"schedule differs from the oracle ({len(got)} vs {len(want)} rows)")
    with open(os.path.join(ckpt, "manifest.json")) as f:
        manifest = json.load(f)
    seen = set()
    for p in manifest["seen_paths"]:
        seen.update(s["url_canon"] for s in _read(p, ["url_canon"]))
    if seen != set(oracle["seen"]):
        errors.append(f"seen set differs from the oracle ({len(seen)} vs {len(oracle['seen'])} urls)")

    counts = {k: [] for k in ("scheduled", "fetch_ok", "fetch_miss", "admitted", "frontier")}
    frontier = len(_read(os.path.join(ckpt, "round=-1", "frontier"), ["seq"]))
    for r in range(rounds):
        m = _read(os.path.join(ckpt, f"round={r}", "metrics"), ["scheduled", "fetch_ok", "admitted"])
        scheduled = sum(x["scheduled"] for x in m)
        fetch_ok = sum(x["fetch_ok"] for x in m)
        admitted = sum(x["admitted"] for x in m)
        rows = [s for s in sched if s["round"] == r]
        miss = sum(not s["fetched"] for s in rows)
        nxt = len(_read(os.path.join(ckpt, f"round={r}", "frontier"), ["seq"]))
        if scheduled != fetch_ok + miss:
            errors.append(f"round {r}: scheduled {scheduled} != fetch_ok {fetch_ok} + fetch_miss {miss}")
        if nxt != frontier - scheduled + admitted:
            errors.append(f"round {r}: frontier {nxt} != {frontier} - {scheduled} + {admitted}")
        for k, v in (("scheduled", scheduled), ("fetch_ok", fetch_ok), ("fetch_miss", miss),
                     ("admitted", admitted), ("frontier", frontier)):
            counts[k].append(v)
        frontier = nxt
    if sum(counts["scheduled"]) != len(sched):
        errors.append(f"sum of scheduled {sum(counts['scheduled'])} != {len(sched)} schedule rows")
    counts["seen"] = len(seen)
    return errors, counts


def _deduped_candidates(ckpt: str, rounds: int, pages_dir: str) -> int:
    """Distinct outlinks of each round's fetched pages (the admission
    layer's input after dedup), from the checkpoint and the corpus."""
    from crawler_spark.frontier.canon import canonicalize_url, extract_outlinks

    html = {
        canonicalize_url(p["url"]): bytes(p["html"]).decode("utf-8")
        for p in _read(pages_dir, ["url", "html"])
    }
    total = 0
    for r in range(rounds):
        links = set()
        for s in _read(os.path.join(ckpt, f"round={r}", "schedule"), ["url", "fetched"]):
            if s["fetched"]:
                links.update(extract_outlinks(s["url"], html[s["url"]]))
        total += len(links)
    return total


class CrawlDeep:
    """``scheduler.crawl`` on few hosts with long same-host link chains.

    A run is one crawl of ``WARM_ROUNDS`` + ``timed`` rounds, where the
    number of timed rounds comes from ``--seconds`` at a nominal round cost,
    so the work per run is fixed and does not grow when rounds get faster.
    """

    N_HOSTS = 40
    PAGES_PER_HOST = 300
    # every host is seeded, so each round follows 40 deterministic same-host
    # link chains; with the default 8 seed hosts the URL count of the timed
    # rounds hung on the seed's random cross-host links (241 to 280 URLs)
    N_SEED_HOSTS = 40
    NOMINAL_ROUND_S = 7.0  # a warm crawl-deep round on a 4-core box

    def prepare(self, cache_dir: str, seed: int, seconds: float) -> None:
        self.rounds = WARM_ROUNDS + max(2, round(seconds / self.NOMINAL_ROUND_S))
        self.dir = inputs.crawl_inputs(cache_dir, seed, self.N_HOSTS, self.PAGES_PER_HOST, self.N_SEED_HOSTS,
                                       self.rounds)
        self.oracle = inputs.load_json(os.path.join(self.dir, "oracle.json"))

    def measure(self, run) -> Measured:
        from crawler_spark.scheduler import CrawlConfig, crawl

        spark, phases = run.spark, run.phases
        t0 = time.perf_counter()
        tables = {n: spark.read.parquet(os.path.join(self.dir, n)) for n in ("pages", "seeds", "robots", "politeness")}
        register_s = time.perf_counter() - t0

        if phases:
            phases.install_crawl_hooks()
        timed_rounds = self.rounds - WARM_ROUNDS
        m = Measured(setup_s=0.0, urls=0, busy_s=0.0, op_s=[], disk_bytes=0, attempted=timed_rounds)
        op, ckpt = "crawl", os.path.join(run.run_dir, "crawl")
        if phases:
            phases.begin_op(op, "scheduler.setup")
        start = time.time()
        try:
            crawl(spark, tables["pages"], tables["seeds"], tables["robots"], tables["politeness"],
                  CrawlConfig(checkpoint_dir=ckpt, max_rounds=self.rounds))
        except Exception:
            _fail(m, timed_rounds, f"crawl raised:\n{traceback.format_exc()}")
            return m
        finally:
            if phases:
                phases.end_op()
        marks = round_marks(ckpt)
        errors, counts = check_crawl(ckpt, self.oracle, self.rounds)
        if len(marks) != self.rounds + 1:
            errors.append(f"checkpoint holds {len(marks) - 1} rounds, expected {self.rounds}")
        if errors:
            _fail(m, timed_rounds, "crawl: " + "; ".join(errors))
            return m
        # set-up: crawl init up to the first manifest, then the warm-up rounds
        m.setup_s = register_s + marks[WARM_ROUNDS] - start
        m.op_s = [b - a for a, b in zip(marks[WARM_ROUNDS:], marks[WARM_ROUNDS + 1:])]
        m.busy_s = sum(m.op_s)
        m.urls = sum(counts["scheduled"][WARM_ROUNDS:])
        m.disk_bytes = _dir_bytes(ckpt) / self.rounds
        if phases:
            run.after_stop.append(lambda folded: self._fold(run, m, folded, op, marks, ckpt, counts))
        return m

    def _fold(self, run, m: Measured, folded: dict, op: str, marks: list[float], ckpt: str, counts: dict) -> None:
        jobs, intervals = folded["jobs"], run.phases.intervals
        errors = trace.self_check(folded, intervals, {op: marks})
        if run.phases.missing:
            errors.append(f"hooks not installed: {run.phases.missing}")
        if errors:
            _fail(m, m.attempted - m.failed, "trace self-check: " + "; ".join(errors))
        totals = trace.span_totals(jobs, intervals, {op}, WARM_ROUNDS)
        for span in trace.CRAWL_SPANS:
            per = 1 if span == "scheduler.setup" else max(1, len(m.op_s))
            t = totals.get(span, dict.fromkeys(trace.SPAN_FIELDS, 0.0))
            for k in trace.SPAN_FIELDS:
                m.layer[f"{span}.{k}"] = t[k] / per
        jobs_per_round = [sum(1 for j in jobs if j["op"] == op and j["round"] == r)
                          for r in range(WARM_ROUNDS, self.rounds)]
        deduped = _deduped_candidates(ckpt, self.rounds, os.path.join(self.dir, "pages"))
        for k in ("scheduled", "fetch_ok", "fetch_miss", "admitted"):
            m.layer[f"scheduler.{k}"] = sum(counts[k])
        deferred = sum(f - s for f, s in zip(counts["frontier"], counts["scheduled"]))
        m.layer["scheduler.deferred"] = deferred
        m.layer["scheduler.deduped_candidates"] = deduped
        m.layer["frontier.seen.size"] = counts["seen"]
        m.layer["scheduler.jobs_per_round"] = _median(jobs_per_round)
        m.layer["scheduler.fetch_ok_ratio"] = sum(counts["fetch_ok"]) / max(1, sum(counts["scheduled"]))
        m.layer["frontier.seen.fresh_ratio"] = sum(counts["admitted"]) / max(1, deduped)


# ---------------------------------------------------------------------------
# extract-jd
# ---------------------------------------------------------------------------

def check_csv(out_dir: str, oracle: dict) -> list[str]:
    rows = {}
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as f:
            for r in csv.DictReader(f):
                rows[r.pop("url_canon")] = r
    if set(rows) != set(oracle):
        return [f"{len(rows)} rows written, oracle has {len(oracle)}"]
    bad = [u for u, want in oracle.items() if rows[u] != want]
    return [f"{len(bad)} rows differ from the oracle, e.g. {bad[0]}"] if bad else []


class ExtractJd:
    """The 8-field jd collector (``examples.jd.jd_fields``) over the detail
    pages, with its two follow-up left joins, written by ``sinks.write_csv``."""

    LIST_PAGES = 42  # per category; 3 categories
    PROJECTS_PER_PAGE = 40  # -> 5,040 detail pages, as many funder pages
    # the first pass runs in a cold JVM; the second still ran about 10% slower
    # than later ones on a 4-core box
    WARM_PASSES = 2
    ISOLATED_REPS = 3

    def prepare(self, cache_dir: str, seed: int, seconds: float) -> None:
        self.seconds = seconds
        self.dir = inputs.jd_inputs(cache_dir, seed, self.LIST_PAGES, self.PROJECTS_PER_PAGE)
        self.oracle = inputs.load_json(os.path.join(self.dir, "oracle.json"))

    def _register(self, spark):
        from pyspark.sql import functions as F

        pages = spark.read.parquet(os.path.join(self.dir, "pages")).select(F.col("url").alias("url_canon"), "html")
        return pages, pages.filter(F.col("url_canon").contains("/project/details/"))

    def measure(self, run) -> Measured:
        from crawler_spark.collector import extract_fields
        from crawler_spark.examples.jd import jd_fields
        from crawler_spark.sinks import write_csv

        spark, phases = run.spark, run.phases
        out = os.path.join(run.run_dir, "out")

        def one_pass(op: str) -> tuple[float, float]:
            t = time.perf_counter()
            pages, detail = self._register(spark)
            reg = time.perf_counter() - t
            if phases:
                phases.begin_op(op, "collector.extract")
            t = time.perf_counter()
            try:
                write_csv(extract_fields(detail, jd_fields(inputs.JD_CATEGORY), corpus=pages), out)
            finally:
                if phases:
                    phases.end_op()
            return reg, time.perf_counter() - t

        t0 = time.perf_counter()
        for k in range(self.WARM_PASSES):
            one_pass(f"warmup-{k}")
        warm_s = time.perf_counter() - t0

        m = Measured(setup_s=0.0, urls=0, busy_s=0.0, op_s=[], disk_bytes=0)
        regs, region = [], []
        t_region = time.perf_counter()
        while not region or time.perf_counter() - t_region < self.seconds:
            op = f"pass-{len(region)}"
            region.append(op)
            m.attempted += 1
            try:
                reg, pass_s = one_pass(op)
            except Exception:
                _fail(m, 1, f"{op} raised:\n{traceback.format_exc()}")
                continue
            errors = check_csv(out, self.oracle)
            if errors:
                _fail(m, 1, f"{op}: " + "; ".join(errors))
                continue
            regs.append(reg)
            m.op_s.append(pass_s)
            m.busy_s += pass_s
            m.urls += len(self.oracle)
            m.disk_bytes = _dir_bytes(out)
        m.setup_s = warm_s + _median(regs)
        if phases:
            self._isolated(run, m)
            run.after_stop.append(lambda folded: self._fold(run, m, folded, region))
        return m

    def _isolated(self, run, m: Measured) -> None:
        """Noop-sink passes over single rule kinds (each includes the page scan,
        reported alone as ``collector.scan``), and the CSV sink's share of a
        full pass: a CSV pass minus a noop pass."""
        from pyspark.sql import functions as F

        from crawler_spark.collector import extract_fields
        from crawler_spark.examples.jd import jd_fields
        from crawler_spark.rules import CutRule, RegexRule, XPathRule, as_text

        pages, detail = self._register(run.spark)
        fields = jd_fields(inputs.JD_CATEGORY)
        funder = pages.filter(F.col("url_canon").contains("funderCenter"))
        html = as_text(F.col("html"))
        cuts = [f.rule.first_expr(html).alias(f.name) for f in fields if isinstance(f.rule, CutRule)]
        regex = [f.rule.first_expr(F.col("url_canon")).alias(f.name) for f in fields if isinstance(f.rule, RegexRule)]
        xpaths = [f.follow_up.rule.first_expr(html).alias(f.name) for f in fields
                  if f.follow_up is not None and isinstance(f.follow_up.rule, XPathRule)]
        followups = [f for f in fields if f.follow_up is not None]
        passes = {
            "collector.scan": detail.select("url_canon", html.alias("h")),
            "rules.cut": detail.select("url_canon", *cuts),
            "rules.regex": detail.select("url_canon", *regex),
            "rules.xpath": funder.select("url_canon", *xpaths),
            "collector.followup": extract_fields(detail, followups, corpus=pages),
            "extract_noop": extract_fields(detail, fields, corpus=pages),
        }
        walls = {}
        for name, df in passes.items():
            reps = []
            for _ in range(self.ISOLATED_REPS):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                reps.append(time.perf_counter() - t)
            walls[name] = _median(reps)
        for name in ("collector.scan", "rules.cut", "rules.regex", "rules.xpath", "collector.followup"):
            m.layer[f"{name}.wall_s"] = walls[name]
        m.layer["sinks.write_csv.wall_s"] = _median(m.op_s) - walls["extract_noop"]

    def _fold(self, run, m: Measured, folded: dict, region) -> None:
        errors = trace.self_check(folded, run.phases.intervals, {})
        if errors:
            _fail(m, m.attempted - m.failed, "trace self-check: " + "; ".join(errors))
        totals = trace.span_totals(folded["jobs"], run.phases.intervals, set(region))
        t = totals.get("collector.extract", dict.fromkeys(trace.SPAN_FIELDS, 0.0))
        for k in trace.SPAN_FIELDS:
            m.layer[f"collector.extract.{k}"] = t[k] / max(1, len(m.op_s))


WORKLOADS = {"crawl-deep": CrawlDeep, "extract-jd": ExtractJd}
