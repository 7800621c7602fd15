#!/usr/bin/env python3
"""Benchmark entry point: runs one workload of the engine and prints
its metrics.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads (see BASELINE.md):

- ``drain``: the streaming enriched stage drains a seeded
  ``datagen.generate_turns`` backlog with ``availableNow``.
- ``batch_headline``: 15 headline batch queries over seeded star-schema
  tables, one client, checked against their DuckDB oracle.
- ``live``: files released on a schedule by a generator process into the
  running enriched stage (run by hand; not in BENCHMARK.json).

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` is the
separate traced run: it records spans around every call into a layer
(stage, microbatch, phase, ablation, sink, kernel, query) and prints the
per-layer metrics; the spans are written to ``.perfbench/traces/``.

Every line but the last is a human-readable report: each metric with
its unit and sample count. The last line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

The session runs at ``local[<usable CPUs>]`` with ``build_session``
defaults; no ``SPARK_GRAFT_*`` tuning variable is set. Everything the
run writes goes under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# live is run by hand: a third listed workload would leave under 50 s per
# run in the benchmark's time budget, less than any of these runs takes.
WORKLOADS = ("drain", "batch_headline", "live")
# A run that has not finished its work by then stops what is still
# running and reports it as failed, so the process exits well inside
# three minutes.
DEADLINE_S = 165.0


def _process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _descendants(root_pid: int) -> list[int]:
    """root_pid and every process below it (this process, the JVM, the
    Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own and reaped children) of root_pid's
    process tree."""
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory every 0.2 s."""

    def __init__(self) -> None:
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self.samples += 1
            if self._stop.wait(0.2):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(5)


class Tracer:
    """In-memory spans: (id, parent, name, start, end, attrs). Times are
    seconds on the monotonic clock, relative to the tracer's creation."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.t0 = time.monotonic()
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start - self.t0, "end": end - self.t0,
                           **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Span around a block; yields its id so children can name it."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.monotonic(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.monotonic() - self.t0

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[sid]
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == sid)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.setup_s: float | None = None
        self.deadline = time.monotonic() + (
            DEADLINE_S - _process_age_s() if args.cpus is None else 3600.0
        )
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._cpu0: list[int] | None = None
        self.cpu: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_done(self) -> None:
        """Mark the first timed operation: setup_s ends here."""
        self.setup_s = _process_age_s()
        self._cpu0 = _cpu_times()
        self._tree_cpu0 = _tree_cpu_s(os.getpid())

    def measured_done(self) -> None:
        """End of the measured region: host CPU busy share and steal."""
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        total = max(sum(d), 1)
        self.cpu = {
            "cpu_busy_share": 1 - (d[3] + d[4]) / total,
            "steal_pct": 100 * d[7] / total,
        }
        self.work_cpu_s = _tree_cpu_s(os.getpid()) - self._tree_cpu0

    def log(self, what: str) -> None:
        """Progress line on stderr, stamped with the process age."""
        print(f"[{_process_age_s():7.1f}s] {what}", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a failed one is reported."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {what}")
        return ok


def _isolate(work: str) -> None:
    """Point every temporary and working path the engine or Spark uses
    into the run's work directory, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var, sub in (
        ("SPARK_GRAFT_ZORDER_DIR", "zorder"),
        ("SPARK_GRAFT_BUCKET_DIR", "bucketed"),
        ("SPARK_GRAFT_PARTITION_DIR", "partitioned"),
        ("SPARK_GRAFT_EVOLVE_DIR", "evolved"),
    ):
        os.environ[var] = os.path.join(work, sub)
    import tempfile

    tempfile.tempdir = tmp


def _stop(jvm) -> None:
    """End the JVM and the Python workers it forked, and wait for them:
    the JVM exits when its stdin closes, the workers when the JVM does."""
    tree = _descendants(jvm.pid)
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    for _ in range(100):
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] task threads (default: every usable CPU); "
                         "a run with --cpus has no deadline")
    args = ap.parse_args(argv)

    out_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_root, f"work-{args.workload}-{os.getpid()}")
    _isolate(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    run = Run(args, work)
    jvm = None
    try:
        workload = importlib.import_module(
            {"batch_headline": "headline"}.get(args.workload, args.workload)
        )
        from layers import catalogue
        from spamscope_spark.config import build_session

        with RssSampler() as rss:
            run.spark = build_session(
                app_name=f"perfbench-{args.workload}",
                master=f"local[{args.cpus or len(os.sched_getaffinity(0))}]",
                extra={"spark.ui.showConsoleProgress": "false"},
            )
            jvm = run.spark.sparkContext._gateway.proc
            run.spark.sparkContext.setLogLevel("ERROR")
            with run.tracer.span("run", workload=args.workload, seed=args.seed) as top:
                report = workload.run(run, top)
            run.spark.stop()
    finally:
        if jvm is not None:
            _stop(jvm)
        shutil.rmtree(work, ignore_errors=True)

    if run.attempted == 0:
        run.check(False, "no operation was checked")
    e2e = {"setup_s": (run.setup_s, "s", 1), **report["end_to_end"]}
    # Peak memory swings 3-6 GB between identical runs with the JVM's
    # heap growth, so it is reported with the per-layer numbers.
    peak_rss = rss.peak / 2**20
    failed_share = run.failed / max(run.attempted, 1)
    for name, (v, unit, n) in {**e2e, **report.get("extra", {})}.items():
        print(f"{name} = {_fmt(v)} {unit} (n={n})")
    print(f"peak_rss_mb = {_fmt(peak_rss)} MB (n={rss.samples})")
    print(f"work_cpu_s = {_fmt(run.work_cpu_s)} s (n=1)")
    print(f"failed_share = {_fmt(failed_share)} ratio (n={run.attempted})")
    for note in run.notes:
        print(note)
    if run.traced:
        units = catalogue()
        found = {**report["per_layer"], **run.cpu, "peak_rss_mb": peak_rss,
                 "work_cpu_s": run.work_cpu_s,
                 "trace.work_s": report["end_to_end"].get("work_s", (0.0,))[0]}
        layers = {k: float(found.get(k, 0.0)) for k in units}
        for name, v in layers.items():
            print(f"layer {name} = {_fmt(v)} {units[name]}")
        trace_dir = os.path.join(out_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        run.tracer.write(trace)
        print(f"spans written to {os.path.relpath(trace, ROOT)}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
