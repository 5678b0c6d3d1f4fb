"""Benchmark entry point: one workload, one Spark session, one JSON result line.

    python3 perfbench/run.py --workload crawl-deep --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs and oracle answers are cached per
seed under ``.perfbench/cache``; each run works in its own directory under
``.perfbench`` and removes it at the end. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``: the ``end_to_end``
metrics of BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics
with ``--trace 1``. See perfbench/README.md for what each one means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = min(4, os.cpu_count() or 1)
# a fixed-size heap (-Xms = -Xmx): a heap grown on demand made the JVM's
# peak RSS vary by a third between runs of the same workload
HEAP = "1g"


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given live processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


class Run:
    """One run's Spark session and working directory."""

    def __init__(self, work: str, traced: bool):
        self.run_dir = tempfile.mkdtemp(prefix="run-", dir=work)
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        # Spark, the JVM and the Python workers keep their scratch files here
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        self.event_dir = os.path.join(self.run_dir, "events")
        self.after_stop: list = []  # callbacks taking the folded event log
        self.spark = None
        self.phases = None
        self.traced = traced

    def start(self) -> None:
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName("perfbench")
            .config("spark.driver.memory", HEAP)
            .config("spark.sql.shuffle.partitions", str(2 * CORES))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.warehouse.dir", os.path.join(self.run_dir, "warehouse"))
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{HEAP} -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
        )
        if self.traced:
            os.makedirs(self.event_dir)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", "file://" + self.event_dir)
                .config("spark.eventLog.rolling.enabled", "false")
                .config("spark.eventLog.compress", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            from perfbench.trace import Phases

            self.phases = Phases(self.spark.sparkContext)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        pids = _descendants(os.getpid())
        if self.phases:
            self.phases.uninstall()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while (alive := [p for p in pids if os.path.exists(f"/proc/{p}")]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _metric_specs(traced: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer" if traced else "end_to_end"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the crawler_spark package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    specs = _metric_specs(traced)
    work = os.path.join(ROOT, ".perfbench")
    wl = WORKLOADS[args.workload]()
    wl.prepare(os.path.join(work, "cache"), args.seed, args.seconds)

    run = Run(work, traced)
    try:
        t0 = time.perf_counter()
        run.start()
        session_s = time.perf_counter() - t0
        m = wl.measure(run)
        rss = peak_rss_mb(_descendants(os.getpid()))
        jvm_rss = peak_rss_mb([run.jvm_pid()])
        run.stop()
        if traced:
            from perfbench.trace import event_log_file, fold

            folded = fold(event_log_file(run.event_dir))
            for cb in run.after_stop:
                cb(folded)
            m.layer["spark.task_failures"] = folded["task_failures"]
    finally:
        run.stop()
        shutil.rmtree(run.run_dir, ignore_errors=True)

    op_s = statistics.median(m.op_s) if m.op_s else 0.0
    print(f"perfbench: session {session_s:.2f} s, set-up {m.setup_s:.2f} s, ops {[round(x, 2) for x in m.op_s]}, "
          f"peak RSS {rss:.0f} MB of which JVM {jvm_rss:.0f} MB", file=sys.stderr)
    values = {
        "setup_s": session_s + m.setup_s,
        "urls_per_s": m.urls / m.busy_s if m.busy_s else 0.0,
        "round_s": op_s,
        "peak_rss_mb": rss,
        "disk_bytes_per_op": m.disk_bytes,
    }
    if traced:
        m.layer["trace.round_s"] = op_s
        m.layer["trace.urls_per_s"] = values["urls_per_s"]
        values = m.layer
    unknown = set(values) - {s["name"] for s in specs}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]} for s in specs}
    print(json.dumps({
        "correct": m.failed == 0 and not m.errors,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
