"""``live`` workload: an open loop. A separate generator process
(``livegen.py``) releases one parquet file of seeded turns every
``PERIOD_S`` seconds, ``ROWS_PER_FILE`` turns each (100 turns/s, a
tenth of the rate at which an earlier probe saw every microbatch pay
about 10 s of fixed cost), and
``start_enriched_query(..., available_now=False)`` consumes them.

Latency of a file: from its scheduled release (its due time, not its
actual one, so a stalled generator still counts) to the moment the
enriched sink's ``_manifest.jsonl`` is seen to record the epoch holding
the file's last row. The manifest is polled every 20 ms. A file never
committed counts as a failed operation.

Setup ends after one warm-up file has gone through the running query,
so the timed files do not pay the first microbatch's start-up.
Checked: every generated (conv_id, turn_idx) appears exactly once across
the sink's epochs.

Not listed in BENCHMARK.json: a third listed workload would leave under
50 s per run in the benchmark's time budget, and a ``live`` run takes
about 60 s with a 10 s schedule (75 s with 30 s).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql.streaming import StreamingQueryListener

from drain import stage_metrics
from layers import STAGES
from livegen import spark_readable
from spamscope_spark.datagen import generate_turns
from spamscope_spark.streaming.pipeline import PipelineConfig, start_enriched_query

N_CONVS = 160
PERIOD_S = 0.5
ROWS_PER_FILE = 50


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event (``recentProgress`` holds only the
    last 100) and notes when each query has terminated."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        self.terminated.add(str(event.id))


class ManifestWatch:
    """Polls a sink manifest; records when each epoch line first appears."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.seen: dict[int, float] = {}
        self.rows: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if os.path.exists(self.path):
                with open(self.path) as f:
                    for line in f:
                        if line.strip():
                            e = json.loads(line)
                            self.seen.setdefault(e["epoch"], time.time())
                            self.rows[e["epoch"]] = e["rows"]
            self._stop.wait(0.02)

    def start(self) -> "ManifestWatch":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(5)


def _release(table, dest: str, name: str) -> None:
    tmp = os.path.join(dest, f".{name}.tmp")
    pq.write_table(spark_readable(table), tmp)
    os.rename(tmp, os.path.join(dest, name))


def run(run, top) -> dict:
    spark = run.spark
    n_files = max(int(run.seconds / PERIOD_S), 1)
    turns = generate_turns(spark, n_convs=N_CONVS + 1, seed=run.seed)
    # Warm-up rows: the first session of a conversation the generator
    # never sends, with the backlog's earliest timestamps.
    warm = turns.where((F.col("conv_id") == f"conv_{N_CONVS:06d}") & (F.col("turn_idx") < 8))
    gen_in = run.path("gen_turns")
    turns.where(F.col("conv_id") != f"conv_{N_CONVS:06d}").write.parquet(gen_in)
    warm.coalesce(1).write.parquet(run.path("warm"))
    warm_t = pq.read_table(run.path("warm"))
    dest = run.path("incoming")
    os.makedirs(dest)

    cfg = PipelineConfig(input_path=dest, work_dir=run.path("pipe"))
    listener = ProgressLog()
    spark.streams.addListener(listener)
    q, sink = start_enriched_query(spark, cfg, available_now=False)
    watch = ManifestWatch(sink.manifest).start()
    _release(warm_t, dest, "part-warm.parquet")
    while sum(watch.rows.values()) < warm_t.num_rows and time.monotonic() < run.deadline:
        time.sleep(0.05)
    run.setup_done()
    run.log("warm-up file committed")

    gen_log = run.path("gen.jsonl")
    start = time.time() + 1.0
    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "livegen.py"),
        "--seed", str(run.seed), "--turns", gen_in, "--dest", dest,
        "--period", str(PERIOD_S), "--files", str(n_files), "--rows", str(ROWS_PER_FILE),
        "--start", str(start), "--log", gen_log,
    ])
    try:
        gen.wait(timeout=max(run.deadline - time.monotonic() - 30, 1))
    except subprocess.TimeoutExpired:
        gen.kill()
        gen.wait()
        run.notes.append("generator stopped at the deadline")
    total = warm_t.num_rows + n_files * ROWS_PER_FILE
    while sum(watch.rows.values()) < total and time.monotonic() < run.deadline:
        time.sleep(0.05)
    q.stop()
    watch.stop()
    qid = str(q.id)
    t_wait = time.monotonic() + 10
    while qid not in listener.terminated and time.monotonic() < t_wait:
        time.sleep(0.05)
    spark.streams.removeListener(listener)
    run.measured_done()
    run.log("schedule done")

    with open(gen_log) as f:
        entries = [json.loads(line) for line in f]
    files = [e for e in entries if "file" in e]
    gen_done = next((e for e in entries if e.get("done")), {})
    raw = sink.read_raw(spark).select("conv_id", "turn_idx", "epoch").collect()
    epoch_of: dict[tuple, list[int]] = {}
    for r in raw:
        epoch_of.setdefault((r["conv_id"], r["turn_idx"]), []).append(r["epoch"])
    # A file is committed when the epoch holding its last row is.
    done_at = []
    for f_ in files:
        epochs = [epoch_of.get(tuple(k), [None])[0] for k in f_["keys"]]
        done = None if None in epochs else watch.seen.get(max(epochs))
        done_at.append(float("inf") if done is None else done)
        run.check(done is not None, f"file {f_['file']} committed")
    latencies = [d - f_["due"] for f_, d in zip(files, done_at) if d != float("inf")]
    expected = {tuple(k) for f_ in files for k in f_["keys"]}
    expected |= {(r["conv_id"], r["turn_idx"]) for r in warm.collect()}
    once = all(len(epoch_of.get(k, [])) == 1 for k in expected)
    run.check(once and set(epoch_of) == expected and len(files) == n_files,
              "every generated (conv_id, turn_idx) exactly once in the sink")

    prog = listener.progress.get(qid, [])
    data = [b for b in prog if b["numInputRows"] > 0]
    # Most files released but not yet committed, seen at any release.
    backlog = max((sum(1 for g, d in zip(files, done_at) if g["released"] <= f_["released"] < d)
                   for f_ in files), default=0)
    lat = sorted(latencies) or [0.0]
    extra = {
        "live.batches": (len(prog), "count", 1),
        "live.turns_per_batch": (statistics.mean(b["numInputRows"] for b in data)
                                 if data else 0.0, "turns", len(data)),
        "live.backlog_files": (backlog, "files", len(files)),
        "live.gen_late_p90_s": (gen_done.get("late_p90_s", 0.0), "s", len(files)),
    }
    report = {
        "end_to_end": {
            "latency_p50_s": (statistics.median(lat), "s", len(latencies)),
            "latency_p90_s": (lat[int(0.9 * (len(lat) - 1))], "s", len(latencies)),
        },
        "extra": extra,
    }
    if run.traced:
        st = {"wall_s": 0.0, "progress": prog}
        report["per_layer"] = {
            f"{STAGES[0]}.{k}": v for k, v in stage_metrics(run, st).items()
            if k not in ("wall_s", "idle_share", "startstop_s")
        }
    return report

