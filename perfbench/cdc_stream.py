"""``cdc_stream``: an open loop of envelope files into the two streaming
queries (``start_node_stream`` / ``start_relationship_stream``), each writing
a transaction-logged table through ``TxnLogPartitionStore``.

One generator thread lands one NDJSON file per tick on a fixed schedule that
does not slow down when the engine does; the rate steps through ``LADDER``,
which includes the reference's 10K events/s. Events become visible together,
a micro-batch at a time, so latency is sampled once per landed file: from its
scheduled send time to the moment a reader sees the last of its events. The
main thread polls ``txn_store.snapshot`` for a new version and reads only the
files it added. Event ids are checked at the end, outside the clock.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow.parquet as pq
from neo4j_to_clickhouse_spark.operators.latest_state import dedup_exact_events
from neo4j_to_clickhouse_spark.operators.txn_store import (
    TxnLogPartitionStore,
    ensure_log,
    read_table,
    snapshot,
)
from neo4j_to_clickhouse_spark.sources.envelopes import read_envelope_file
from neo4j_to_clickhouse_spark.streaming import (
    StreamConfig,
    start_node_stream,
    start_relationship_stream,
)

from gen import GenConfig, Generated, generate
from harness import (
    Env,
    dir_bytes,
    jvm_cpu_s,
    median,
    peak_rss_mb,
    repeat_setup,
    start_session,
    tail,
)
from batch import KINDS, quarantines, tables, txn_counts
from layers import TRIGGER_PHASES
from spans import StageStats, Tracer

# One file every 100 ms is an assumption, finer than the reference's 1 s
# connector poll (BASELINE.md) and the 500 ms of tools/bench_stream_latency.py:
# files then arrive at every phase of the 500 ms trigger, and the 1K step
# yields 100+ latency samples (one per file) in a run.
TICK_S = 0.1
TRIGGER = "500 milliseconds"  # as tools/bench_stream_latency.py (StreamConfig default: 1 s)
# (events/s, share of the measured seconds). The gated latencies come from
# the first step, a rate the engine keeps up with on a 4-vCPU host; it is
# long enough for a p90 with ten files beyond it. The last step is the
# reference's 10K events/s claim (BASELINE.md), above what the engine
# sustains there, so its delivered rate is the throughput metric and its
# latencies (which grow with the step's length) are reported by name only.
LADDER = ((1_000, 0.65), (2_500, 0.1), (10_000, 0.25))
LATENCY_STEP = 1_000
SLO_S = 2.0  # the reference's commit-to-queryable target (BASELINE.md)
MAX_SLOPE = 0.25  # latency growth (s per s) that counts as a growing backlog
DRAIN_TIMEOUT_S = 90.0
WARM_FILES = 3


class Pipeline:
    """Source directory, two tables, two running streaming queries, and what
    a reader has seen of them."""

    def __init__(self, env: Env, spark, name: str):
        root = env.fresh("cdc_stream", name)
        self.src = os.path.join(root, "src")
        os.makedirs(self.src)
        self.tables, self.quarantine = tables(root), quarantines(root)
        starters = {"node": start_node_stream, "rel": start_relationship_stream}
        self.queries = {}
        for k in KINDS:
            os.makedirs(self.tables[k])
            ensure_log(self.tables[k])  # the sink commits transactionally from batch 0
            cfg = StreamConfig(
                table_path=self.tables[k],
                quarantine_path=self.quarantine[k],
                checkpoint_path=os.path.join(root, "checkpoints", k),
                processing_time=TRIGGER,
                coalesce_output=1,
                store=TxnLogPartitionStore(),
            )
            raw = read_envelope_file(spark, self.src, streaming=True)
            self.queries[k] = starters[k](raw, cfg)
        self.seen_version = {k: 0 for k in KINDS}
        self.seen_files: dict[str, set] = {k: set() for k in KINDS}
        self.visible: dict[str, float] = {}  # event id -> first time a reader saw it
        self.snapshot_s: list[float] = []
        self.poison: set[str] = set()
        self.poison_landed: list[str] = []
        self.warm_ids: set[str] = set()
        self.lines_landed = 0
        self.bytes_landed = 0

    def land(self, name: str, lines: list[str]) -> None:
        """Write one source file atomically (write, then rename)."""
        data = ("\n".join(lines) + "\n").encode()
        tmp = os.path.join(self.src, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.rename(tmp, os.path.join(self.src, f"{name}.ndjson"))
        self.lines_landed += len(lines)
        self.bytes_landed += len(data)
        self.poison_landed += [line for line in lines if line in self.poison]

    def event_id(self, line: str) -> str | None:
        return None if line in self.poison else json.loads(line)["id"]

    def poll(self) -> None:
        """One visibility poll of both tables: snapshot, then read the event
        ids of only the files a new version added."""
        for k, table in self.tables.items():
            t0 = time.perf_counter()
            v, files = snapshot(table)
            self.snapshot_s.append(time.perf_counter() - t0)
            if v <= self.seen_version[k]:
                continue
            self.seen_version[k] = v
            new = [f for f in files if f not in self.seen_files[k]]
            self.seen_files[k].update(files)
            now = time.perf_counter()
            for f in new:
                col = pq.read_table(os.path.join(table, f), columns=["event_id"]).column(0)
                for eid in col.to_pylist():
                    self.visible.setdefault(eid, now)

    def wait_for(self, ids, timeout_s: float) -> bool:
        deadline = time.perf_counter() + timeout_s
        missing = set(ids)
        while True:
            self.poll()
            missing = {i for i in missing if i not in self.visible}
            if not missing:
                return True
            if time.perf_counter() > deadline:
                return False
            time.sleep(0.02)

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()


def _schedule(seconds: float):
    """[(rate, ticks)] for the ladder over ``seconds``."""
    return [(rate, max(1, round(seconds * share / TICK_S))) for rate, share in LADDER]


def _stream_cfg(seconds: float) -> GenConfig:
    """Enough events for the whole ladder (replays and poison come on top)."""
    n = sum(int(rate * TICK_S) * ticks for rate, ticks in _schedule(seconds))
    return GenConfig(events=n, nodes=max(1_000, n // 8), rels=max(800, n // 10))


def _generator(pipe: Pipeline, lines: list[str], schedule, t0: float, log: list):
    """Open loop: file k is due at t0 + k * TICK_S whatever the engine does;
    ``log`` gets (due, landed, rate, first line, end line) per file."""
    pos = k = 0
    for rate, ticks in schedule:
        per_file = int(rate * TICK_S)
        for _ in range(ticks):
            due = t0 + k * TICK_S
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            pipe.land(f"f{k:06d}", lines[pos : pos + per_file])
            log.append((due, time.perf_counter(), rate, pos, pos + per_file))
            pos += per_file
            k += 1


def _pipeline(env: Env, spark, name: str) -> Pipeline:
    """Start both queries and warm them up: a few files, all visible."""
    pipe = Pipeline(env, spark, name)
    warm = generate(GenConfig(events=1_500, nodes=300, rels=200), env.seed, "csw")
    pipe.poison = set(warm.poison)
    pipe.warm_ids = set(warm.event_ids)
    per = -(-len(warm.lines) // WARM_FILES)
    for i in range(WARM_FILES):
        pipe.land(f"warm{i}", warm.lines[i * per : (i + 1) * per])
        time.sleep(0.5)
    if not pipe.wait_for(warm.event_ids, 120.0):
        raise RuntimeError("warm-up events never became visible")
    return pipe


def measure(pipe: Pipeline, g, schedule, cpu_s) -> dict:
    """Run the ladder, then wait for every sent event to become visible.
    ``cpu_s()`` reads the engine's CPU seconds; the window it is charged for
    runs from the first file to the last event visible."""
    n_lines = sum(int(rate * TICK_S) * ticks for rate, ticks in schedule)
    if len(g.lines) < n_lines:
        raise RuntimeError(f"generated {len(g.lines)} lines, schedule needs {n_lines}")
    lines = g.lines[:n_lines]
    first_batch = {k: q.lastProgress["batchId"] for k, q in pipe.queries.items()}
    log: list = []
    t0 = time.perf_counter() + 0.2
    cpu0 = cpu_s()
    gen = threading.Thread(target=_generator, args=(pipe, lines, schedule, t0, log))
    gen.start()
    while gen.is_alive():
        pipe.poll()
        time.sleep(0.02)
    gen.join()

    kind_of = {e.event_id: e.kind for e in g.events}
    sent: dict[str, int] = {}
    files = []  # (due, landed, rate, ids first sent in this file)
    for due, landed, rate, a, b in log:
        new = set()
        for eid in (pipe.event_id(line) for line in lines[a:b]):
            if eid:
                if eid not in sent:
                    new.add(eid)
                sent[eid] = sent.get(eid, 0) + 1
        files.append((due, landed, rate, new))
    drained = pipe.wait_for(sent, DRAIN_TIMEOUT_S)
    cpu = cpu_s() - cpu0
    progress = [
        p for k, q in pipe.queries.items() for p in q.recentProgress
        if p["batchId"] > first_batch[k] and p["numInputRows"] > 0
    ]
    # a file is visible when the last of its events is (inf: never)
    vis = [
        max((pipe.visible.get(e, float("inf")) for e in f[3]), default=f[1]) for f in files
    ]

    steps = {}
    for rate, _ in schedule:
        mine = [(f, v) for f, v in zip(files, vis) if f[2] == rate and v < float("inf")]
        lat = [v - f[0] for f, v in mine]
        p, t = tail(lat)
        start, stop = mine[0][0][0], mine[-1][0][0] + TICK_S
        events = sum(len(f[3]) for f, _ in mine)
        steps[rate] = {
            "n": len(lat),
            "p50": median(lat),
            "tail": t,
            "tail_p": p,
            # backlog grows when latency climbs through the step
            "slope": _slope([f[0] for f, _ in mine], lat),
            "achieved": events / max(max(v for _, v in mine) - start, stop - start),
        }
    sustained = max(
        (r for r, s in steps.items() if s["tail"] <= SLO_S and s["slope"] <= MAX_SLOPE),
        default=0,
    )
    # files landed but not yet fully visible, at each landing instant
    backlog = max(
        sum(1 for j, f in enumerate(files) if f[1] <= t and vis[j] > t)
        for t in (f[1] for f in files)
    )
    lag = [landed - due for due, landed, _, _ in files]
    return {
        "steps": steps,
        "sustained": sustained,
        "lag_max": max(lag),
        "lag_p50": median(lag),
        "sent": sent,
        "kind_of": kind_of,
        "drained": drained,
        "progress": progress,
        "backlog": backlog,
        "cpu_us": cpu / n_lines * 1e6,
    }


def _slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs (0 for fewer than two points)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


def check(spark, pipe: Pipeline, m: dict) -> tuple[int, int, dict]:
    """(attempted, failed, counts). Every sent event id must be read back
    through ``read_table`` from its own kind's table exactly as many times as
    it was sent, and exactly once after ``dedup_exact_events``; no id may
    appear that was never sent; each quarantine must hold exactly the poison
    lines landed."""
    sent, kind_of = m["sent"], m["kind_of"]
    attempted = len(sent) + 2 * len(pipe.poison_landed)
    failed, rows_out, quarantined = 0, 0, 0
    for k, table in pipe.tables.items():
        df = read_table(spark, table)
        raw: dict[str, int] = {}
        for (eid,) in df.select("event_id").collect():
            raw[eid] = raw.get(eid, 0) + 1
        rows_out += sum(raw.values())
        once = [r[0] for r in dedup_exact_events(df).select("event_id").collect()]
        once_n: dict[str, int] = {}
        for eid in once:
            once_n[eid] = once_n.get(eid, 0) + 1
        for eid, n in sent.items():
            want = n if kind_of[eid] == k else 0
            if raw.get(eid, 0) != want or once_n.get(eid, 0) != min(want, 1):
                failed += 1
        failed += sum(1 for eid in raw if eid not in sent and eid not in pipe.warm_ids)
        q = [r[0] for r in spark.read.parquet(pipe.quarantine[k]).select("raw").collect()]
        quarantined += len(q)
        failed += abs(len(q) - len(pipe.poison_landed)) + len(set(q) ^ set(pipe.poison_landed))
    return attempted, failed, {"ingest.events_out": rows_out, "ingest.quarantine_rows": quarantined}


def stream_counts(pipe: Pipeline, m: dict) -> dict[str, float]:
    """Per-layer counts of one pass: the queries' own progress reports, the
    source, and the reader's snapshot timings."""
    prog = m["progress"]
    c: dict[str, float] = {
        "stream.batches": len(prog),
        "stream.rows_per_batch": median([p["numInputRows"] for p in prog]),
        "stream.backlog_files": m["backlog"],
        "envelopes.rows": pipe.lines_landed,
        "envelopes.bytes": pipe.bytes_landed,
    }
    for ph in TRIGGER_PHASES:
        xs = [float(p["durationMs"].get(ph, 0)) for p in prog]
        c[f"stream.trigger_ms.{ph}.p50"] = median(xs)
        c[f"stream.trigger_ms.{ph}.tail"] = tail(xs)[1]
    c["txn.snapshot_s"] = median(pipe.snapshot_s)
    return c


def _pass(env: Env, spark, pipe: Pipeline, g: Generated) -> dict:
    """The ladder through a warmed-up pipeline, then its check."""
    pipe.poison |= set(g.poison)
    m = measure(pipe, g, _schedule(env.seconds), lambda: jvm_cpu_s(spark))
    attempted, failed, counts = check(spark, pipe, m)
    if not m["drained"]:
        env.say("# cdc_stream: some events never became visible")
    live = sum(dir_bytes(t, snapshot(t)[1])[1] for t in pipe.tables.values())
    m.update(attempted=attempted, failed=failed, counts=counts,
             stored=live / pipe.bytes_landed)
    pipe.stop()
    return m


def run(env: Env) -> dict:
    pipes: list[Pipeline] = []

    def setup():
        for p in pipes:
            p.stop()
        spark = start_session(env)
        pipes.append(_pipeline(env, spark, f"setup-{len(pipes)}"))
        return spark

    t0 = time.perf_counter()
    g = generate(_stream_cfg(env.seconds), env.seed, "cs")
    gen_s = time.perf_counter() - t0
    spark, setup_s, setup_all = repeat_setup(setup)
    m = _pass(env, spark, pipes[-1], g)
    low, top = m["steps"][LATENCY_STEP], m["steps"][LADDER[-1][0]]
    named = {}
    for rate in (LATENCY_STEP, LADDER[-1][0]):
        st = m["steps"][rate]
        named[f"visible_latency_p50_s@{rate}/s"] = (st["p50"], "s")
        named[f"visible_latency_tail_s@{rate}/s (p{st['tail_p']:g} of {st['n']} files)"] = (
            st["tail"], "s")
    out = {
        "setup_s": setup_s,
        "setup_all": setup_all,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "e2e": {
            "cpu_us_per_event": m["cpu_us"],
            "stored_bytes_per_input_byte": m["stored"],
            "peak_rss_mb": peak_rss_mb(spark),
        },
        "named": {
            "generate_s (input generation, once, outside set-up)": (gen_s, "s"),
            **named,
            "generator_lag_s (max)": (m["lag_max"], "s"),
            "generator_lag_p50_s": (m["lag_p50"], "s"),
            f"sustained_eps (highest ladder rate with tail <= {SLO_S} s and "
            f"latency slope <= {MAX_SLOPE})": (m["sustained"], "1/s"),
            f"delivered_eps@{LADDER[-1][0]}/s (step events / time to all visible)": (
                top["achieved"], "1/s"),
            "cpu_us_per_event (driver JVM CPU over the ladder and drain / lines landed)": (
                m["cpu_us"], "us"),
            "stored_bytes_per_input_byte": (m["stored"], "ratio"),
        },
    }
    for rate, s in m["steps"].items():
        env.say(f"# step {rate}/s: n={s['n']} p50={s['p50']:.4f}s p{s['tail_p']:g}="
                f"{s['tail']:.4f}s slope={s['slope']:.3f} achieved={s['achieved']:.0f}/s")
    if env.trace:
        tr = Tracer(spark, True, "cs")
        with tr.span("stream.start"):
            pipe = _pipeline(env, spark, "traced")
        t = _pass(env, spark, pipe, g)
        out["attempted"] += t["attempted"]
        out["failed"] += t["failed"]
        out["tracer"], out["stats"] = tr, StageStats(spark)
        out["counts"] = {
            **t["counts"],
            **stream_counts(pipe, t),
            **{k: v for k, v in txn_counts(pipe.tables.values()).items() if k != "txn.snapshot_s"},
        }
        out["counts"]["ingest.useful_ratio"] = t["counts"]["ingest.events_out"] / pipe.lines_landed
        out["overhead"] = t["steps"][LATENCY_STEP]["p50"] / low["p50"] - 1.0
    return out
