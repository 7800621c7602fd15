"""``drain`` workload: the streaming enriched stage drains a seeded
``datagen.generate_turns`` backlog with ``availableNow``, as a closed
loop with no arrival schedule.

The stage is started by the pipeline's own ``start_enriched_query``, so
its plan, trigger, flag-dedup state and exactly-once sink are exactly
the engine's. Timed: one drain of the whole backlog, from query start to
termination, the idle (zero-row) batch included; repeated while the run
has time left. Checked after the timed region: the stage ended without
error, consumed the whole backlog, and its merged rows equal
``enrich_turns`` run in batch over the same input.

The other cascade stages stay out of the timed drain: one run of the
four-stage cascade took 110 s on 4 CPUs, against about 65 s for this
one, and one run must fit the benchmark's time budget. The traced run does
run ``sessions`` (``start_session_query`` over the drain's enriched
sink) for its per-layer numbers, then times each layer alone on the
cached backlog: the enrich columns, the exactly-once sink and the two
state kernels.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

import pyspark.sql.functions as F

from layers import PHASES, STAGES
from spamscope_spark.datagen import (
    SUBJECT_KEYS,
    TARGET_KEYS,
    WHITELIST_DOMAINS,
    generate_turns,
)
from spamscope_spark.functions.fingerprints import (
    shingle_signature_udf,
    with_fingerprints,
)
from spamscope_spark.functions.keywords import matched_targets
from spamscope_spark.functions.phishing import with_phishing_columns
from spamscope_spark.functions.urls import extract_urls, filter_whitelisted
from spamscope_spark.operators.enrich import enrich_turns
from spamscope_spark.streaming import dedup_kernel, session_kernel
from spamscope_spark.streaming.pipeline import (
    PipelineConfig,
    start_enriched_query,
    start_session_query,
    with_json_row,
)
from spamscope_spark.streaming.sink import IdempotentSink

# Backlog: 160 conversations, about 6,200 turns. The drain's cost is
# mostly per-microbatch fixed cost, nearly the same for 500 turns as for
# 7,000, so the backlog is kept at the size that still fits one run.
N_CONVS = 160
# Reps of each traced layer call; the median is reported.
LAYER_REPS = 3
_WALL_OFFSET = time.time() - time.monotonic()


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _stage(run, name: str, start_query, cfg: PipelineConfig, parent) -> dict:
    """Start one stage with its pipeline ``start_*_query`` function and
    wait for its availableNow drain to end."""
    t0 = time.monotonic()
    q, sink = start_query(run.spark, cfg)
    while q.isActive and time.monotonic() < run.deadline:
        time.sleep(0.02)
    if q.isActive:
        q.stop()
        run.notes.append(f"stage {name} stopped at the deadline")
    t1 = time.monotonic()
    err = q.exception()
    prog = _progress(q)
    sid = run.tracer.add(f"stage:{name}", t0, t1, parent)
    for b in prog:
        _batch_spans(run.tracer, b, sid)
    return {"wall_s": t1 - t0, "progress": prog, "span": sid, "sink": sink,
            "error": str(err) if err else None}


def _drain(run, inp: str, parent) -> dict:
    cfg = PipelineConfig(input_path=inp, work_dir=run.path(f"drain-{time.monotonic_ns()}"))
    with run.tracer.span("drain", parent) as sid:
        st = _stage(run, "enriched", start_enriched_query, cfg, sid)
    data_s = sum(
        b["durationMs"].get("triggerExecution", 0) / 1000
        for b in st["progress"] if b["numInputRows"] > 0
    )
    return {"wall_s": st["wall_s"], "data_s": data_s, "cfg": cfg,
            "stages": {"enriched": st}}


def _batch_spans(tracer, b: dict, parent) -> None:
    """A microbatch span, and its phases laid end to end in the order
    the microbatch engine runs them."""
    if not tracer.enabled:
        return
    t = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
    t -= _WALL_OFFSET
    dur = b["durationMs"]
    bid = tracer.add(
        "microbatch", t, t + dur.get("triggerExecution", 0) / 1000, parent,
        batch=b["batchId"], rows=b["numInputRows"],
    )
    order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
             "commitOffsets"]
    order += sorted(k for k in dur if k not in order and k != "triggerExecution")
    for k in order:
        if k in dur:
            tracer.add(f"phase:{k}", t, t + dur[k] / 1000, bid)
            t += dur[k] / 1000


def stage_metrics(run, st: dict) -> dict[str, float]:
    """The ``layers.STAGE_METRICS`` of one stage from its progress events."""
    prog = st["progress"]
    trig = [b["durationMs"].get("triggerExecution", 0) / 1000 for b in prog]
    idle = [b["numInputRows"] == 0 for b in prog]
    ops = [o for b in prog for o in b.get("stateOperators", [])]

    def ops_sum(key):
        return sum(o.get(key) or 0 for o in ops)

    def per_batch_peak(key):
        return max(
            (sum(o.get(key) or 0 for o in b.get("stateOperators", [])) for b in prog),
            default=0,
        )

    phase_total = sum(
        v for b in prog for k, v in b["durationMs"].items() if k != "triggerExecution"
    ) / 1000
    m = {
        "wall_s": st["wall_s"],
        "data_batch_s": sum(t for t, i in zip(trig, idle) if not i),
        "idle_batch_s": sum(t for t, i in zip(trig, idle) if i),
        "batches": len(prog),
        "idle_batches": sum(idle),
        **{
            f"{p}_s": sum(b["durationMs"].get(p, 0) for b in prog) / 1000
            for p in PHASES
        },
        "state_update_task_s": ops_sum("allUpdatesTimeMs") / 1000,
        "state_removal_task_s": ops_sum("allRemovalsTimeMs") / 1000,
        "state_commit_task_s": ops_sum("commitTimeMs") / 1000,
        "state_rows": per_batch_peak("numRowsTotal"),
        "state_bytes": per_batch_peak("memoryUsedBytes"),
        "late_rows": ops_sum("numRowsDroppedByWatermark"),
        "phase_residual_s": sum(trig) - phase_total,
    }
    m["idle_share"] = m["idle_batch_s"] / st["wall_s"] if st["wall_s"] else 0.0
    if st.get("span") is not None:
        m["startstop_s"] = run.tracer.self_time(st["span"])
    else:
        m["startstop_s"] = st["wall_s"] - sum(trig)
    return m


def _digest(df) -> tuple[int, int]:
    """(rows, order-insensitive sum of per-row xxhash64)."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("d"),
    ).first()
    return r["n"], int(r["d"] or 0)


def _check(run, name: str, st: dict, n_turns: int, expected=None) -> None:
    """One checked operation per stage, outside the timed region: the
    stage ended without error, no progress event was lost, it consumed
    the whole backlog and wrote output; ``expected``, when given, is
    (column, (rows, digest)) that column of the merged output must match."""
    merged = st["sink"].read_merged(run.spark)
    n_out, digest = _digest(merged)
    consumed = sum(b["numInputRows"] for b in st["progress"])
    ok = st["error"] is None and len(st["progress"]) < 100
    ok = ok and consumed == n_turns and n_out > 0
    what = f"consumed={consumed} of {n_turns}, rows_out={n_out}"
    if expected is not None:
        col, exp = expected
        got = _digest(merged.select(col))
        ok = ok and got == exp
        what += f", {col} (rows, digest) {got} vs batch {exp}"
    run.notes.append(f"digest {name} rows={n_out} xxhash64_sum={digest}")
    run.check(ok, f"stage {name}: error={st['error']}, {what}")


def _timed_layer(run, parent, name: str, fn) -> float:
    """Median of LAYER_REPS calls, each one span."""
    times = []
    for _ in range(LAYER_REPS):
        with run.tracer.span(f"layer:{name}", parent):
            t = time.monotonic()
            fn()
            times.append(time.monotonic() - t)
    return sorted(times)[len(times) // 2]


def _noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


def _ablations(run, parent, inp: str, d: dict) -> dict[str, float]:
    """Each layer timed alone on the cached backlog; enrich also
    cumulatively (fingerprints, + shingle, + phishing, + json)."""
    spark = run.spark
    turns = spark.read.parquet(inp).cache()
    turns.count()
    text = F.col("text")
    fp = with_fingerprints(turns, "text")
    shingled = fp.withColumn("shingle_sig", shingle_signature_udf(text))

    def phishing(df):
        return with_phishing_columns(
            df, text=text, tool_name=F.col("tool"), author=F.col("role"),
            target_keys=TARGET_KEYS, subject_keys=SUBJECT_KEYS,
            whitelist=WHITELIST_DOMAINS,
        )

    enriched = enrich_turns(turns).cache()
    enriched.count()
    out = {}
    plans = {
        "fingerprints": fp,
        "shingle": turns.withColumn("shingle_sig", shingle_signature_udf(text)),
        "urls": turns.withColumn(
            "urls", filter_whitelisted(extract_urls(text), WHITELIST_DOMAINS)
        ),
        "targets": turns.withColumn(
            "targets", matched_targets(F.coalesce(text, F.lit("")), TARGET_KEYS)
        ),
        "phishing": phishing(turns),
        "json": with_json_row(enriched),
        "total": enrich_turns(turns),
        "cum_shingle": shingled,
        "cum_phishing": phishing(shingled),
        "cum_json": with_json_row(phishing(shingled)),
    }
    for k, df in plans.items():
        out[f"enrich.{k}_s"] = _timed_layer(run, parent, f"enrich.{k}", _noop(df))

    rows = with_json_row(enriched).cache()
    one = rows.limit(1).cache()
    rows.count(), one.count()
    sink = IdempotentSink(run.path("sink-ablation"), keys=["conv_id", "turn_idx"])
    epochs = iter(range(1000))
    out["sink.write_s"] = _timed_layer(
        run, parent, "sink.write", lambda: sink.process_batch(rows, next(epochs))
    )
    out["sink.epoch_overhead_s"] = _timed_layer(
        run, parent, "sink.epoch_overhead", lambda: sink.process_batch(one, next(epochs))
    )
    epoch0 = os.path.join(sink.data_dir, "epoch=0")
    out["sink.bytes"] = sum(
        os.path.getsize(os.path.join(epoch0, f)) for f in os.listdir(epoch0)
    )

    # State kernels, in-process on the same rows the stages' state
    # operators saw, grouped into the operators' 256 buckets.
    sha = turns.withColumn("sha1", F.sha1(F.coalesce(text, F.lit(""))))
    dedup_in = sha.withColumn(
        "_b", F.pmod(F.xxhash64("sha1"), F.lit(256))
    ).toPandas()
    dedup_groups = [g for _, g in dedup_in.groupby("_b")]
    sort_cols = ["ts", "conv_id", "turn_idx"]
    out["dedup.kernel_s"] = _timed_layer(run, parent, "dedup.kernel", lambda: [
        dedup_kernel.process_bucket([], [g], "sha1", sort_cols, drop_col="_b")
        for g in dedup_groups
    ])
    sess_in = d["stages"]["enriched"]["sink"].read_merged(spark).select(
        "conv_id", "turn_idx", "ts", "role", "tool", "phishing_score", "sha1",
        "shingle_sig", F.pmod(F.xxhash64("conv_id"), F.lit(256)).alias("_b"),
    ).toPandas()
    sess_groups = [g for _, g in sess_in.groupby("_b")]
    gap_us = PipelineConfig("", "").gap_s * 1_000_000

    def sessions():
        for g in sess_groups:
            states: dict = {}
            session_kernel.apply_rows(states, g, gap_us)
            session_kernel.close_expired(states, 2**62, gap_us)

    out["session.kernel_s"] = _timed_layer(run, parent, "session.kernel", sessions)
    for c in (turns, enriched, rows, one):
        c.unpersist()
    return out


def run(run, top) -> dict:
    spark = run.spark
    inp = run.path("turns")
    generate_turns(spark, n_convs=N_CONVS, seed=run.seed).write.parquet(inp)
    n_turns = spark.read.parquet(inp).count()
    # The reference for the output check, computed here because it is
    # also the warm-up: enrich_turns in batch starts the Python workers
    # and compiles the enrich expressions the stage runs.
    batch = with_json_row(enrich_turns(spark.read.parquet(inp))).select("json")
    expected = _digest(batch)
    run.setup_done()
    run.log(f"setup done: {n_turns} turns")
    drains = []
    t_start = time.monotonic()
    while True:
        drains.append(_drain(run, inp, top))
        left = run.seconds - (time.monotonic() - t_start)
        if left <= 0 or time.monotonic() + 2 * drains[-1]["wall_s"] > run.deadline:
            break
    run.measured_done()
    run.log(f"{len(drains)} drain(s) done")
    for d in drains:
        _check(run, "enriched", d["stages"]["enriched"], n_turns, ("json", expected))
    run.log("checks done")

    wall = statistics.median(d["wall_s"] for d in drains)
    data_s = statistics.median(d["data_s"] for d in drains)
    extra = {
        "turns_per_s": (n_turns / wall, "turns/s", len(drains)),
        "data_turns_per_s": (n_turns / data_s, "turns/s", len(drains)),
        "backlog_turns": (n_turns, "turns", 1),
        "data_batch_s": (data_s, "s", len(drains)),
    }
    report = {"end_to_end": {"work_s": (wall, "s", len(drains))}, "extra": extra}
    if run.traced:
        last = drains[-1]
        # The sessions stage, traced only: the cascade consumer of the
        # drain's enriched sink.
        cascade = PipelineConfig(
            input_path=inp, work_dir=last["cfg"].work_dir,
            enriched_source=last["cfg"].output("enriched"),
        )
        ses = _stage(run, "sessions", start_session_query, cascade, top)
        _check(run, "sessions", ses, n_turns)
        last["stages"]["sessions"] = ses
        layers = {}
        for name in STAGES:
            for k, v in stage_metrics(run, last["stages"][name]).items():
                layers[f"{name}.{k}"] = v
        layers.update(_ablations(run, top, inp, last))
        run.log("layer ablations done")
        layers["dedup.crossing_task_s"] = (
            layers["enriched.state_update_task_s"]
            + layers["enriched.state_removal_task_s"] - layers["dedup.kernel_s"]
        )
        layers["session.crossing_task_s"] = (
            layers["sessions.state_update_task_s"]
            + layers["sessions.state_removal_task_s"] - layers["session.kernel_s"]
        )
        layers["drain.turns_per_s"] = extra["turns_per_s"][0]
        layers["drain.data_turns_per_s"] = extra["data_turns_per_s"][0]
        report["per_layer"] = layers
    return report
