"""Where each per-layer metric of the traced run is read from: a span, or a
count. Names and units are declared once, in the ``per_layer`` list of
``BENCHMARK.json``; a declared name missing here stops the run.

A layer a workload does not call reports 0 (no spans, no work): ``stream.*``
on ``initial_load``; the batch-load, latest-state, maintenance and query
layers on ``cdc_stream``.
"""

from __future__ import annotations

import statistics

QUERIES = (
    "count_by_type",
    "count_and_distinct_by_type",
    "label_distribution",
    "payload_profile",
    "current_state",
    "duplicate_entities",
    "degree_topk",
    "events_in_range",
    "latest_n",
    "random_sample",
    "union_counts",
    "two_hop",
    "state_intervals",
)
TRIGGER_PHASES = ("latestOffset", "getBatch", "addBatch", "walCommit", "queryPlanning")

# (metric, source): source is a span name, or a description of where a count
# is read when it is not a span's duration.
SOURCES: dict[str, str] = {
    "session.start_s": "get_spark in each set-up (median)",
    "envelopes.parse_s": "span envelopes.parse",
    "envelopes.rows": "span envelopes.parse: rows parsed",
    "envelopes.bytes": "NDJSON bytes handed to the engine",
    "ingest.project_s": "span ingest.project",
    "ingest.events_out": "event rows written by span write",
    "ingest.quarantine_rows": "quarantine rows written by span write",
    "ingest.useful_ratio": "ingest.events_out / input lines",
    "ingest.jobs": "Spark jobs in span write",
    "write.s": "span write",
    "write.files": "data files written by span write",
    "write.bytes": "data bytes written by span write",
    "latest_state.s": "span latest_state",
    "latest_state.shuffle_bytes": "span latest_state: shuffle write",
    "latest_state.rows_in": "span latest_state: input rows",
    "latest_state.rows_out": "span latest_state: output rows",
    "latest_state.task_skew": "span latest_state: max / median task time",
    "compact.s": "span compact",
    "compact.bytes_rewritten": "span compact: bytes of added files",
    "compact.months_rewritten": "span compact: months replaced",
    "compact.files_before": "live files before span compact",
    "compact.files_after": "live files after span compact",
    "compact.swap_retries": "span compact: ConcurrentSwapError retries",
    "retention.s": "span retention",
    "txn.commits": "txn_store.history length",
    "txn.snapshot_s": "median txn_store.snapshot call",
    "txn.live_files": "txn_store.snapshot live files",
    "txn.log_bytes": "bytes of _txn_log commit files",
    "stream.batches": "recentProgress: batches with input",
    "stream.rows_per_batch": "recentProgress: median input rows",
    "stream.backlog_files": "max files landed but not yet visible",
}
SOURCES.update(
    (f"stream.trigger_ms.{ph}.{stat}", f"recentProgress durationMs.{ph}")
    for ph in TRIGGER_PHASES
    for stat in ("p50", "tail")
)
for q in QUERIES:
    SOURCES.update({
        f"query.{q}_s": f"span query.{q}",
        f"query.{q}.shuffle_bytes": f"span query.{q}: shuffle write",
        f"query.{q}.task_cpu_s": f"span query.{q}: task CPU",
    })
SOURCES.update({
    "baseline.local1_load_eps": "first initial_load job after warm-up on local[1]",
    "baseline.scaling_ratio": "load_eps of the first job local[nproc] / local[1]",
    "trace.overhead": "traced job / the untraced job before it (cdc: 1K-step p50 latency) - 1",
})

SPAN_TIMES = {
    "envelopes.parse_s": "envelopes.parse",
    "ingest.project_s": "ingest.project",
    "write.s": "write",
    "latest_state.s": "latest_state",
    "compact.s": "compact",
    "retention.s": "retention",
}


def per_layer(out: dict) -> dict[str, float]:
    """Every per-layer metric from a traced run's spans, stage stats and
    counts; 0 for layers the workload did not call."""
    tr, stats = out["tracer"], out["stats"]
    values = {name: 0.0 for name in SOURCES}
    values["session.start_s"] = statistics.median(out["session_starts"])
    for metric, span in SPAN_TIMES.items():
        values[metric] = tr.total(span)

    def groups(name: str) -> set[str]:
        return {s.group for s in tr.by_name(name)}

    values["ingest.jobs"] = float(stats.jobs_in(groups("write")))
    ls = groups("latest_state")
    if ls:
        values["latest_state.shuffle_bytes"] = stats.for_groups(ls)["shuffle_bytes"]
        values["latest_state.task_skew"] = stats.skew(ls)
    for q in QUERIES:
        g = groups(f"query.{q}")
        if g:
            s = stats.for_groups(g)
            values[f"query.{q}_s"] = tr.total(f"query.{q}")
            values[f"query.{q}.shuffle_bytes"] = s["shuffle_bytes"]
            values[f"query.{q}.task_cpu_s"] = s["task_cpu_s"]
    for k, v in out.get("counts", {}).items():
        if k not in values:
            raise KeyError(f"count {k} is not a declared per-layer metric")
        values[k] = float(v)
    values["trace.overhead"] = out["overhead"]
    return values
