"""The batch load path shared by ``initial_load`` and the query pass of its
traced run: NDJSON dump -> parse -> node/relationship projection with
quarantine -> ``write_events`` -> ``compact`` -> ``apply_retention``, with
spans around each layer when tracing is on."""

from __future__ import annotations

import os
import time

from neo4j_to_clickhouse_spark.operators.ingest import (
    node_events_from_raw,
    relationship_events_from_raw,
)
from neo4j_to_clickhouse_spark.operators.latest_state import latest_events
from neo4j_to_clickhouse_spark.operators.maintenance import apply_retention, compact
from neo4j_to_clickhouse_spark.operators.txn_store import (
    ConcurrentSwapError,
    TxnLogPartitionStore,
    history,
    read_table,
    snapshot,
)
from neo4j_to_clickhouse_spark.sources.envelopes import (
    parse_envelopes,
    read_envelope_file,
)
from neo4j_to_clickhouse_spark.sources.snapshot import write_events

from harness import dir_bytes, median
from spans import Tracer

RETENTION_CUTOFF = "202602"  # drops the first of the six generated months
KINDS = ("node", "rel")


def tables(root: str) -> dict[str, str]:
    return {k: os.path.join(root, f"{k}s") for k in KINDS}


def quarantines(root: str) -> dict[str, str]:
    return {k: os.path.join(root, "quarantine", f"{k}s") for k in KINDS}


def _compact(spark, table: str, keep: str, store) -> tuple[list[str], int]:
    """compact(), re-run on a lost swap race; returns (months, retries)."""
    retries = 0
    while True:
        try:
            return compact(spark, table, keep=keep, store=store), retries
        except ConcurrentSwapError:
            retries += 1
            if retries > 3:
                raise


def load(spark, tr: Tracer, src: str, root: str, keep: str = "latest",
         retention_cutoff: str | None = RETENTION_CUTOFF) -> tuple[float, dict[str, float]]:
    """One load job from the NDJSON under ``src`` into tables under ``root``.
    Returns ``perf_counter()`` at the moment both tables are written and
    queryable through ``read_table`` (before compaction), and the layer
    counts gathered on the way (traced run only)."""
    t, q = tables(root), quarantines(root)
    c: dict[str, float] = {}
    with tr.span("load"):
        with tr.span("envelopes.parse"):
            parsed = parse_envelopes(read_envelope_file(spark, src)).persist()
            if tr.enabled:
                c["envelopes.rows"] = parsed.count()
        results = {
            "node": node_events_from_raw(parsed),
            "rel": relationship_events_from_raw(parsed),
        }
        with tr.span("ingest.project"):
            for r in results.values():
                tr.force(r.events)
                tr.force(r.quarantine)
        with tr.span("write"):
            for k, r in results.items():
                write_events(r.events, t[k])
                r.quarantine.write.parquet(q[k])
        queryable_at = time.perf_counter()
        parsed.unpersist()
        store = TxnLogPartitionStore()
        if tr.enabled:
            c["write.files"], c["write.bytes"] = map(
                sum, zip(*(dir_bytes(p) for p in t.values()))
            )
            c["latest_state.rows_in"] = sum(
                spark.read.parquet(p).count() for p in t.values()
            )
            c["ingest.events_out"] = c["latest_state.rows_in"]
            c["ingest.quarantine_rows"] = sum(
                spark.read.parquet(p).count() for p in q.values()
            )
            with tr.span("latest_state"):
                for p in t.values():
                    tr.force(latest_events(spark.read.parquet(p)))
        months, retries = [], 0
        with tr.span("compact"):
            for p in t.values():
                m, r = _compact(spark, p, keep, store)
                months += m
                retries += r
        if tr.enabled:
            before = {p: set(snapshot(p, 0)[1]) for p in t.values()}
            after = {p: snapshot(p)[1] for p in t.values()}
            c["compact.months_rewritten"] = len(months)
            c["compact.swap_retries"] = retries
            c["compact.files_before"] = sum(len(v) for v in before.values())
            c["compact.files_after"] = sum(len(v) for v in after.values())
            c["compact.bytes_rewritten"] = sum(
                dir_bytes(p, [f for f in after[p] if f not in before[p]])[1]
                for p in t.values()
            )
            c["latest_state.rows_out"] = sum(
                read_table(spark, p).count() for p in t.values()
            )
        if retention_cutoff is not None:
            with tr.span("retention"):
                for p in t.values():
                    apply_retention(spark, p, retention_cutoff, store=store)
    return queryable_at, c


def txn_counts(paths) -> dict[str, float]:
    """Commit-log size and snapshot resolution time over the given tables."""
    c = {"txn.commits": 0.0, "txn.live_files": 0.0, "txn.log_bytes": 0.0}
    times = []
    for p in paths:
        c["txn.commits"] += len(history(p))
        for _ in range(5):
            t0 = time.perf_counter()
            _, files = snapshot(p)
            times.append(time.perf_counter() - t0)
        c["txn.live_files"] += len(files)
        c["txn.log_bytes"] += sum(
            f.stat().st_size for f in os.scandir(os.path.join(p, "_txn_log"))
            if f.name.endswith(".json") and not f.name.startswith(".")
        )
    c["txn.snapshot_s"] = median(times)
    return c
