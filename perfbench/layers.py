"""The per-layer metric catalogue shared by every workload's traced run.

A traced run prints every metric listed here. A layer the workload does
not call reports 0: ``plans.*`` on ``drain``, the stage, enrich, sink and
kernel layers on ``batch_headline``.
"""

from __future__ import annotations

STAGES = ("enriched", "sessions")

# Microbatch phases as Structured Streaming reports them in
# ``StreamingQueryProgress.durationMs``.
PHASES = ("getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

STAGE_METRICS = {
    "wall_s": "s",
    "data_batch_s": "s",
    "idle_batch_s": "s",
    "batches": "count",
    "idle_batches": "count",
    "idle_share": "ratio",
    **{f"{p}_s": "s" for p in PHASES},
    # summed over the state operator's tasks, not wall time
    "state_update_task_s": "s",
    "state_removal_task_s": "s",
    "state_commit_task_s": "s",
    "state_rows": "count",
    "state_bytes": "bytes",
    "late_rows": "count",
    # wall time outside every microbatch: query start and stop
    "startstop_s": "s",
    # triggerExecution not covered by the reported phases
    "phase_residual_s": "s",
}

ENRICH = (
    "fingerprints", "shingle", "urls", "targets", "phishing", "json", "total",
    # cumulative: fingerprints, then + shingle, + phishing, + json
    "cum_shingle", "cum_phishing", "cum_json",
)

# Half of the bench.py HEADLINE queries (all 30 do not fit one run's
# budget): one or more per operator family, and the three whose plans
# run the enrich functions (q_phishing_score, q_url_extract,
# q_turns_flagship). Order as in bench.py.
HEADLINE = (
    "q_pricing_summary", "q_top_customers", "q_region_rollup",
    "q_order_rank_window", "q_sessionize_events", "q_time_band_join",
    "q_asof_join", "q_phishing_score", "q_url_extract", "q_dedup_exact",
    "q_minhash_lsh", "q_cosine_topk", "q_rule_score", "q_salted_join",
    "q_turns_flagship",
)


def catalogue() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out: dict[str, str] = {}
    for s in STAGES:
        out.update({f"{s}.{m}": u for m, u in STAGE_METRICS.items()})
    out.update({f"enrich.{e}_s": "s" for e in ENRICH})
    out.update({"sink.write_s": "s", "sink.epoch_overhead_s": "s", "sink.bytes": "bytes"})
    out.update({
        "dedup.kernel_s": "s", "dedup.crossing_task_s": "s",
        "session.kernel_s": "s", "session.crossing_task_s": "s",
    })
    out.update({f"plans.{q}_s": "s" for q in HEADLINE})
    out.update({
        "drain.turns_per_s": "turns/s",
        "drain.data_turns_per_s": "turns/s",
        "trace.work_s": "s",
        # CPU seconds of the whole process tree over the measured region
        "work_cpu_s": "s",
        "peak_rss_mb": "MB",
        "cpu_busy_share": "ratio",
        "steal_pct": "%",
    })
    return out
