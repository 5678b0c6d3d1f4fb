"""Traced runs: spans set from the benchmark, folded out of the Spark event log.

Spans are job-local properties. The benchmark wraps the package functions
whose calls trigger Spark jobs (or that mark where a round starts and ends);
entering a wrapped call starts its span, and the span lasts until the next
wrapped call. Spark is lazy, so the jobs of one action carry every layer
planned before it, and work between two wrapped calls (a read-back after a
snapshot, say) belongs to the earlier span. The program itself is not
changed: a wrapper only sets properties and then calls the original.

After the session stops, :func:`fold` reads the event log and sums, per
(operation, span, round), the jobs, the executor run time of their stages,
the shuffle bytes written and the "time to run Python workers" SQL metric.
"""

from __future__ import annotations

import importlib
import json
import os
import time
from collections import defaultdict

SPAN = "perfbench.span"
ROUND = "perfbench.round"
OP = "perfbench.op"

PY_RUN_METRIC = "time to run Python workers"

CRAWL_SPANS = [
    "scheduler.setup",
    "scheduler.round",
    "scheduler.fetch",
    "frontier.seen.bloom_load",
    "scheduler.admit",
    "scheduler.metrics",
    "scheduler.ckpt_frontier",
    "scheduler.ckpt_seen",
    "frontier.seen.bloom_merge",
]
SPAN_FIELDS = ("wall_s", "jobs", "task_s", "shuffle_mb", "py_s")

# checkpoint name written by scheduler._write_state / _snapshot -> span
_WRITE_SPANS = {
    "schedule": "scheduler.fetch",
    "metrics": "scheduler.metrics",
    "frontier": "scheduler.ckpt_frontier",
    "seen": "scheduler.ckpt_seen",
    "seen_compacted": "scheduler.ckpt_seen",
    "bloom": "frontier.seen.bloom_merge",
}


class Phases:
    """The active span, operation and round, mirrored into job-local properties.

    ``intervals`` records ``(op, round, span, start, end)`` wall-clock
    intervals; round -1 is crawl-level work outside the rounds.
    """

    def __init__(self, sc):
        self.sc = sc
        self.op = None
        self.span = None
        self.round = -1
        self.next_round = 0
        self.start = 0.0
        self.intervals: list[tuple] = []
        self.missing: list[str] = []
        self._undo: list[tuple] = []

    def enter(self, span: str | None, rnd: int | None = None) -> None:
        rnd = self.round if rnd is None else rnd
        now = time.time()
        if self.span is not None:
            self.intervals.append((self.op, self.round, self.span, self.start, now))
        self.span, self.round, self.start = span, rnd, now
        self.sc.setLocalProperty(SPAN, span)
        self.sc.setLocalProperty(ROUND, None if span is None else str(rnd))

    def begin_op(self, op: str, span: str) -> None:
        self.op, self.next_round = op, 0
        self.sc.setLocalProperty(OP, op)
        self.enter(span, -1)

    def end_op(self) -> None:
        self.enter(None)
        self.op = None
        self.sc.setLocalProperty(OP, None)

    # crawl markers ---------------------------------------------------------
    def _round_start(self) -> None:
        self.next_round += 1
        self.enter("scheduler.round", self.next_round - 1)

    def _in_round(self, span: str) -> None:
        if self.round >= 0:
            self.enter(span)

    def _round_end(self) -> None:
        if self.round >= 0:
            self.enter("scheduler.setup", -1)

    def _hook(self, owner, attr: str, before) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            self.missing.append(attr)
            return

        def wrapper(*args, **kwargs):
            before(*args, **kwargs)
            return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install_crawl_hooks(self) -> None:
        sch = importlib.import_module("crawler_spark.scheduler")
        seen = importlib.import_module("crawler_spark.frontier.seen")

        def by_path(path: str) -> None:
            self._in_round(_WRITE_SPANS.get(os.path.basename(path.rstrip("/")), "scheduler.round"))

        self._hook(sch, "apply_politeness_budget", lambda *a, **k: self._round_start())
        self._hook(sch, "_write_state", lambda df, path, *a, **k: by_path(path))
        self._hook(sch, "_snapshot", lambda spark, df, path, *a, **k: by_path(path))
        self._hook(sch, "_assign_seq", lambda *a, **k: self._in_round("scheduler.admit"))
        self._hook(seen.BloomState, "probe_broadcast", lambda *a, **k: self._in_round("frontier.seen.bloom_load"))
        self._hook(sch, "_write_manifest", lambda *a, **k: self._round_end())

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def event_log_file(event_dir: str) -> str:
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


def fold(path: str) -> dict:
    """Fold an uncompressed, unrolled event log.

    Returns ``jobs`` (one dict per job: op, span, round, submit/end seconds,
    task_s, shuffle_mb, py_s, failed), ``task_failures``, and the executor
    run time summed two ways (stage accumulables, task-end events) for the
    self-check.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    task_ms_by_stage: dict[int, int] = defaultdict(int)
    stage_ms_total = 0
    task_failures = 0
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "op": p.get(OP),
                    "span": p.get(SPAN),
                    "round": int(p[ROUND]) if p.get(ROUND) is not None else None,
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "task_s": 0.0,
                    "shuffle_mb": 0.0,
                    "py_s": 0.0,
                    "failed": False,
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerJobEnd":
                j = jobs[e["Job ID"]]
                j["end"] = e["Completion Time"] / 1000.0
                j["failed"] = e["Job Result"]["Result"] != "JobSucceeded"
            elif ev == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] != "Success":
                    task_failures += 1
                tm = e.get("Task Metrics")
                if tm:
                    task_ms_by_stage[e["Stage ID"]] += tm["Executor Run Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                run_ms = int(acc.get("internal.metrics.executorRunTime") or 0)
                stage_ms_total += run_ms
                j = jobs.get(stage_job.get(si["Stage ID"]))
                if j is not None:
                    j["task_s"] += run_ms / 1000.0
                    j["shuffle_mb"] += int(acc.get("internal.metrics.shuffle.write.bytesWritten") or 0) / 1e6
                    j["py_s"] += int(acc.get(PY_RUN_METRIC) or 0) / 1000.0
    return {
        "jobs": list(jobs.values()),
        "task_failures": task_failures,
        "stage_run_s": stage_ms_total / 1000.0,
        "task_run_s": sum(task_ms_by_stage.values()) / 1000.0,
    }


def span_totals(jobs: list[dict], intervals: list[tuple], ops: set[str], first_round: int = 0) -> dict:
    """Per span over the given operations: wall from the phase intervals,
    jobs and stage figures from the folded jobs. Each span counts only its
    own part, except ``scheduler.round``, which covers the whole round.
    Rounds before ``first_round`` are left out; crawl-level work is kept."""
    out = defaultdict(lambda: dict.fromkeys(SPAN_FIELDS, 0.0))

    def add(span, wall, job):
        t = out[span]
        t["wall_s"] += wall
        if job is not None:
            t["jobs"] += 1
            for k in ("task_s", "shuffle_mb", "py_s"):
                t[k] += job[k]

    for op, rnd, span, start, end in intervals:
        if op in ops and not 0 <= rnd < first_round:
            if span != "scheduler.round":
                add(span, end - start, None)
            if rnd >= 0:
                add("scheduler.round", end - start, None)
    for j in jobs:
        if j["op"] in ops and j["span"] is not None and not 0 <= j["round"] < first_round:
            if j["span"] != "scheduler.round":
                add(j["span"], 0.0, j)
            if j["round"] >= 0:
                add("scheduler.round", 0.0, j)
    return dict(out)


# event-log times are whole milliseconds
CLOCK_TOL_S = 0.005
# a round's last write is read back (a schema-inference job) after its file lands
READ_BACK_SLACK_S = 1.0


def self_check(folded: dict, intervals: list[tuple], marks_by_op: dict[str, list[float]]) -> list[str]:
    """Cross-checks of the fold and of the checkpoint round-boundary reader.

    * executor run time summed from stage accumulables equals the sum from
      task-end events (two independent event types);
    * every stage's run time is attributed to a job;
    * every job of a traced operation carries a span;
    * for each crawl, the reader finds as many rounds as the phase markers
      saw, and every job of round r was submitted after the reader's start
      of round r and no later than its end plus the read-back slack.
    """
    errors = []
    if abs(folded["stage_run_s"] - folded["task_run_s"]) > 1e-6:
        errors.append(
            f"stage run time {folded['stage_run_s']} s != task run time {folded['task_run_s']} s"
        )
    job_run_s = sum(j["task_s"] for j in folded["jobs"])
    if abs(folded["stage_run_s"] - job_run_s) > 1e-3:
        errors.append(f"stage run time {folded['stage_run_s']} s != sum over jobs {job_run_s} s")
    for j in folded["jobs"]:
        if j["op"] is not None and j["span"] is None:
            errors.append(f"job of {j['op']} submitted at {j['submit']} has no span")
    for op, marks in marks_by_op.items():
        rounds = {r for o, r, *_ in intervals if o == op and r >= 0}
        if len(rounds) != len(marks) - 1:
            errors.append(f"{op}: reader found {len(marks) - 1} rounds, markers saw {len(rounds)}")
            continue
        for j in folded["jobs"]:
            r = j["round"]
            if j["op"] == op and r is not None and r >= 0:
                lo, hi = marks[r] - CLOCK_TOL_S, marks[r + 1] + READ_BACK_SLACK_S
                if not lo <= j["submit"] <= hi:
                    errors.append(
                        f"{op}: round {r} job submitted {j['submit'] - marks[r]:+.3f} s after the "
                        f"reader's round start, {j['submit'] - marks[r + 1]:+.3f} s after its end"
                    )
    return errors
