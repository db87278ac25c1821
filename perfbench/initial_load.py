"""``initial_load``: one batch job per iteration, NDJSON dump on disk ->
parse -> node/relationship projection with quarantine -> ``write_events`` ->
``compact(keep='latest')`` -> ``apply_retention`` (the reference's bulk import
followed by ``OPTIMIZE FINAL``). The job is closed-loop: the next iteration
starts when the previous one ends, each into fresh tables.

A job's latency is the time until its rows are queryable (both tables
written, before compaction); its throughput counts envelopes per second
through to compacted, retained tables. The traced run also times the query
surface (``queries.py``) over the same dump, and one job on ``local[1]``.
"""

from __future__ import annotations

import shutil
import time

from neo4j_to_clickhouse_spark.operators.latest_state import current_state
from neo4j_to_clickhouse_spark.operators.txn_store import read_table, snapshot

import queries
from batch import RETENTION_CUTOFF, load, quarantines, tables, txn_counts
from gen import GenConfig, Generated, generate, write_ndjson
from harness import (
    Env,
    dir_bytes,
    jvm_cpu_s,
    median,
    nproc,
    peak_rss_mb,
    repeat_setup,
    start_session,
    tail,
)
from spans import StageStats, Tracer

# One job loads one bulk-import batch of the reference, 100,000 rows per
# insert (BASELINE.md, initial-load/scripts/03-bulk-import.py:29), from files
# of its export batch size, 10,000 rows (01-export-nodes.cypher:20). The
# node/relationship split is an assumption.
CFG = GenConfig(events=100_000, nodes=20_000, rels=16_250)
LINES_PER_FILE = 10_000
# A job's CPU cost keeps falling over the first several jobs of a JVM (JIT),
# and the first job of a session costs more again. At least four jobs keep
# the upper quartile off that first job whatever the host speed.
MIN_JOBS = 4


def check(spark, g: Generated, root: str, cutoff: str | None) -> tuple[int, int]:
    """(attempted, failed): every expected live entity must hold exactly its
    ground-truth version, no other entity may be live, and each quarantine
    must hold exactly the poison lines."""
    attempted = failed = 0
    for kind, path in tables(root).items():
        got = {
            r[0]: (r[1], r[2], r[3])
            for r in current_state(read_table(spark, path))
            .select("entity_id", "event_id", "event_type", "properties_after")
            .collect()
        }
        want = {
            k: (e.event_id, e.event_type, e.after)
            for k, e in g.current_state(kind, cutoff).items()
        }
        attempted += len(want)
        failed += sum(1 for k, v in want.items() if got.get(k) != v)
        failed += sum(1 for k in got if k not in want)
    for path in quarantines(root).values():
        raws = [r[0] for r in spark.read.parquet(path).select("raw").collect()]
        attempted += len(g.poison)
        failed += len(set(g.poison) ^ set(raws)) + abs(len(raws) - len(set(raws)))
    return attempted, failed


def _setup(env: Env, g: Generated):
    spark = start_session(env)
    src = env.fresh("initial_load", "dump")
    nbytes = write_ndjson(g.lines, src, LINES_PER_FILE)
    # warm-up: one job on every tenth line of the dump (the JVM outlives the
    # set-up's session, so later set-ups find its JIT code warm)
    warm = env.fresh("initial_load", "warm-src")
    write_ndjson(g.lines[::10], warm, LINES_PER_FILE)
    load(spark, Tracer(spark, False), warm, env.fresh("initial_load", "warm"))
    return spark, src, nbytes


def measure(env: Env, spark, g: Generated, src: str, nbytes: int, tr: Tracer,
            budget_s: float, min_jobs: int = 1) -> dict:
    """Closed loop of load jobs until ``budget_s`` of job time is spent and
    at least ``min_jobs`` ran. Each job is checked against the ground truth
    after its clock stops."""
    n_lines = len(g.lines)
    jobs, queryable, cpu, stored = [], [], [], []
    attempted = failed = 0
    counts: dict[str, float] = {}
    while len(jobs) < min_jobs or sum(jobs) < budget_s:
        root = env.fresh("initial_load", f"job-{len(jobs)}")
        c0 = jvm_cpu_s(spark)
        t0 = time.perf_counter()
        queryable_at, counts = load(spark, tr, src, root)
        jobs.append(time.perf_counter() - t0)
        cpu.append(jvm_cpu_s(spark) - c0)
        queryable.append(queryable_at - t0)
        a, f = check(spark, g, root, RETENTION_CUTOFF)
        attempted, failed = attempted + a, failed + f
        live = 0
        for p in tables(root).values():
            live += dir_bytes(p, snapshot(p)[1])[1]
        stored.append(live / nbytes)
        if tr.enabled:
            counts.update(txn_counts(tables(root).values()))
        shutil.rmtree(root, ignore_errors=True)
    p_tail, v_tail = tail(queryable)
    return {
        "jobs": jobs,
        "queryable": queryable,
        "load_eps": median([n_lines / dt for dt in jobs]),
        "job_s": median(jobs),
        "p50": median(queryable),
        "tail": v_tail,
        "tail_p": p_tail,
        "cpu_us": median([c / n_lines * 1e6 for c in cpu]),
        "stored": median(stored),
        "attempted": attempted,
        "failed": failed,
        "counts": counts,
    }


def run(env: Env) -> dict:
    t0 = time.perf_counter()
    g = generate(CFG, env.seed, "il")
    gen_s = time.perf_counter() - t0
    (spark, src, nbytes), setup_s, setup_all = repeat_setup(lambda: _setup(env, g))
    env.say(f"# initial_load: {len(g.lines)} lines ({nbytes} bytes) per job, "
            f"{len(g.poison)} poison, {sum(g.sent.values()) - len(g.events)} replays")
    # the traced run needs the untraced pass only as the base of the tracing
    # overhead and the scaling ratio: two jobs, to stay within its time
    budget, min_jobs = (0.0, 2) if env.trace else (env.seconds, MIN_JOBS)
    plain = measure(env, spark, g, src, nbytes, Tracer(spark, False), budget, min_jobs)
    env.say("# job seconds: " + " ".join(f"{t:.3f}" for t in plain["jobs"])
            + "; of which until queryable: " + " ".join(f"{t:.3f}" for t in plain["queryable"]))
    n = len(plain["jobs"])
    out = {
        "setup_s": setup_s,
        "setup_all": setup_all,
        "attempted": plain["attempted"],
        "failed": plain["failed"],
        "e2e": {
            "cpu_us_per_event": plain["cpu_us"],
            "stored_bytes_per_input_byte": plain["stored"],
            "peak_rss_mb": peak_rss_mb(spark),
        },
        "named": {
            "generate_s (input generation, once, outside set-up)": (gen_s, "s"),
            "load_eps (lines / job time, median job)": (plain["load_eps"], "1/s"),
            "load_job_s (median job, to compacted and retained tables)": (plain["job_s"], "s"),
            f"time_to_queryable_p50_s (median of {n} jobs)": (plain["p50"], "s"),
            f"time_to_queryable_tail_s (p{plain['tail_p']:g} of {n} jobs)": (plain["tail"], "s"),
            "cpu_us_per_event (driver JVM CPU / lines, median job)": (plain["cpu_us"], "us"),
            "stored_bytes_per_input_byte": (plain["stored"], "ratio"),
        },
    }
    if env.trace:
        tr = Tracer(spark, True, "il")
        traced = measure(env, spark, g, src, nbytes, tr, 0.0)
        out["attempted"] += traced["attempted"]
        out["failed"] += traced["failed"]
        out["tracer"] = tr
        out["counts"] = {
            **traced["counts"],
            "envelopes.bytes": nbytes,
            "ingest.useful_ratio": traced["counts"]["ingest.events_out"] / len(g.lines),
        }
        out["overhead"] = traced["job_s"] / plain["jobs"][-1] - 1.0
        a, f = queries.traced_pass(env, spark, tr, src)
        out["attempted"] += a
        out["failed"] += f
        out["stats"] = StageStats(spark)
        # single-threaded baseline: the same warm-up and one job, compared
        # with the first job after the same warm-up on local[nproc]
        spark = start_session(env, threads=1)
        load(spark, Tracer(spark, False), env.path("initial_load", "warm-src"),
             env.fresh("initial_load", "warm"))
        base = measure(env, spark, g, src, nbytes, Tracer(spark, False), 0.0)
        out["attempted"] += base["attempted"]
        out["failed"] += base["failed"]
        first_eps = len(g.lines) / plain["jobs"][0]
        out["counts"]["baseline.local1_load_eps"] = base["load_eps"]
        out["counts"]["baseline.scaling_ratio"] = first_eps / base["load_eps"]
        env.say(f"# scaling: load_eps local[{nproc()}] {first_eps:.1f} (first job) / "
                f"local[1] {base['load_eps']:.1f} = {out['counts']['baseline.scaling_ratio']:.3f}")
    return out
