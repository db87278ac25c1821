"""The engine's query surface, timed in the traced run of ``initial_load``.

Each of ``QUERIES`` reads through ``txn_store.read_table`` over a log loaded
with the batch path and compacted with ``keep='events'`` (replayed ids
removed, history kept, so the latest-state and interval queries have versions
to choose from), and is fully consumed by a ``noop`` write inside its own
span. Each query's result is also compared with a DuckDB oracle over the same
parquet files, except ``duplicate_entities``: it counts SNAPSHOT rows, and
the engine stores the connector's SNAPSHOT operation as INSERT, so its answer
is empty on any log the engine wrote and a comparison could never fail. It is
timed (over that empty result) but not counted as a check.
"""

from __future__ import annotations

import os

import duckdb
from neo4j_to_clickhouse_spark.operators import analytics as A
from neo4j_to_clickhouse_spark.operators import graph as G
from neo4j_to_clickhouse_spark.operators import latest_state as L
from neo4j_to_clickhouse_spark.operators.txn_store import read_table, snapshot
from pyspark.sql import functions as F

from harness import Env
from layers import QUERIES
from spans import Tracer, consume
from batch import load, tables

RANGE = ("2026-03-10 00:00:00", "2026-04-20 00:00:00")
SAMPLE_N = 10


def spark_queries(spark, root: str) -> dict:
    """name -> () -> DataFrame, each reading fresh snapshots."""
    t = tables(root)

    def N():
        return read_table(spark, t["node"])

    def R():
        return read_table(spark, t["rel"])

    return {
        "count_by_type": lambda: A.count_by_type(N()),
        "count_and_distinct_by_type": lambda: A.count_and_distinct_by_type(N()),
        "label_distribution": lambda: A.label_distribution(N(), k=10),
        "payload_profile": lambda: A.payload_profile(N()),
        "current_state": lambda: L.current_state(N()).select(
            "entity_id", "event_id", "event_type", "properties_after"
        ),
        "duplicate_entities": lambda: L.duplicate_entities(N()),
        "degree_topk": lambda: A.degree_topk(
            L.current_state(N()), L.current_state(R()), k=10
        ),
        "events_in_range": lambda: A.events_in_range(
            N(), start=RANGE[0], end=RANGE[1]
        ).select("event_id"),
        "latest_n": lambda: A.latest_n(N(), 10).select("event_id"),
        "random_sample": lambda: A.random_sample(N(), SAMPLE_N, seed=42).select("event_id"),
        "union_counts": lambda: A.union_counts({"nodes": N(), "relationships": R()}),
        "two_hop": lambda: G.two_hop(N(), R()).select("edge_id", "source_id", "target_id"),
        "state_intervals": lambda: A.state_intervals(
            N(), "entity_id", "event_timestamp", "event_type", "event_id"
        ).select(
            "entity_id", "state", F.unix_micros("valid_from"), F.unix_micros("valid_to"),
            "n_events", "is_current",
        ),
    }


_LATEST = """(SELECT * FROM {t} QUALIFY row_number() OVER (
    PARTITION BY entity_id ORDER BY event_timestamp DESC, event_id DESC) = 1)"""
_CURRENT = f"(SELECT * FROM {_LATEST} WHERE event_type <> 'DELETE')"

ORACLE = {
    "count_by_type": "SELECT event_type, count(*) FROM nodes GROUP BY 1",
    "count_and_distinct_by_type":
        "SELECT event_type, count(*), count(DISTINCT entity_id) FROM nodes GROUP BY 1",
    "label_distribution": """SELECT label, count(*) AS cnt FROM
        (SELECT unnest(labels) AS label FROM nodes) GROUP BY label
        ORDER BY cnt DESC, label LIMIT 10""",
    "payload_profile":
        "SELECT event_type, count(*), sum(length(properties_after)) FROM nodes GROUP BY 1",
    "current_state": "SELECT entity_id, event_id, event_type, properties_after FROM "
        + _CURRENT.format(t="nodes"),
    "degree_topk": f"""SELECT n.entity_id, d.degree FROM {_CURRENT.format(t='nodes')} n
        JOIN (SELECT source_id, count(*) AS degree FROM {_CURRENT.format(t='rels')}
              GROUP BY 1) d ON n.entity_id = d.source_id
        ORDER BY d.degree DESC, n.entity_id LIMIT 10""",
    "events_in_range": f"""SELECT event_id FROM nodes
        WHERE event_timestamp >= TIMESTAMP '{RANGE[0]}'
          AND event_timestamp < TIMESTAMP '{RANGE[1]}'""",
    "latest_n": """SELECT event_id FROM nodes
        ORDER BY event_timestamp DESC, event_id DESC LIMIT 10""",
    "union_counts": """SELECT 'nodes', count(*) FROM nodes
        UNION ALL SELECT 'relationships', count(*) FROM rels""",
    "two_hop": f"""SELECT e.entity_id, e.source_id, e.target_id
        FROM {_CURRENT.format(t='rels')} e
        JOIN {_CURRENT.format(t='nodes')} s ON s.entity_id = e.source_id
        JOIN {_CURRENT.format(t='nodes')} d ON d.entity_id = e.target_id""",
    "state_intervals": """WITH f AS (
          SELECT entity_id, event_type, event_timestamp, event_id,
            CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
          FROM nodes WINDOW w AS (PARTITION BY entity_id ORDER BY event_timestamp, event_id)),
        r AS (SELECT *, sum(chg) OVER (PARTITION BY entity_id
                ORDER BY event_timestamp, event_id ROWS UNBOUNDED PRECEDING) AS run FROM f),
        g AS (SELECT entity_id, run, min(event_type) AS state,
                min(event_timestamp) AS valid_from, count(*) AS n_events FROM r GROUP BY 1, 2)
        SELECT entity_id, state, epoch_us(valid_from),
          epoch_us(lead(valid_from) OVER (PARTITION BY entity_id ORDER BY run)),
          n_events, lead(valid_from) OVER (PARTITION BY entity_id ORDER BY run) IS NULL
        FROM g""",
}


def oracle_check(spark, root: str) -> dict[str, bool]:
    """query name -> whether the engine's rows equal the oracle's (as
    multisets). ``random_sample`` has no engine-independent answer: it must
    return SAMPLE_N distinct rows of the table."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for kind, view in (("node", "nodes"), ("rel", "rels")):
        path = tables(root)[kind]
        files = [os.path.join(path, f) for f in snapshot(path)[1]]
        con.execute(
            f"CREATE VIEW {view} AS SELECT * FROM read_parquet({files!r}, "
            "hive_partitioning = true, hive_types = {'event_month': VARCHAR})"
        )
    ok = {}
    for name, q in spark_queries(spark, root).items():
        if name == "duplicate_entities":
            continue
        got = sorted(map(tuple, q().collect()), key=repr)
        if name == "random_sample":
            ids = {r[0] for r in got}
            present = con.execute(
                "SELECT count(*) FROM nodes WHERE list_contains(?, event_id)", [sorted(ids)]
            ).fetchone()[0]
            ok[name] = len(got) == SAMPLE_N == len(ids) == present
            continue
        want = sorted(map(tuple, con.execute(ORACLE[name]).fetchall()), key=repr)
        ok[name] = got == want
    con.close()
    return ok


def traced_pass(env: Env, spark, tr: Tracer, src: str) -> tuple[int, int]:
    """Load ``src`` (untraced) into fresh tables, check every query against
    the oracle (which also runs each query once before it is timed), then
    run each query once inside a ``query.<name>`` span. Returns (attempted,
    failed)."""
    root = env.fresh("queries", "tables")
    load(spark, Tracer(spark, False), src, root, keep="events", retention_cutoff=None)
    ok = oracle_check(spark, root)
    qs = spark_queries(spark, root)
    consume(qs["duplicate_entities"]())  # the one query the oracle skips
    with tr.span("queries"):
        for name in QUERIES:
            with tr.span(f"query.{name}"):
                consume(qs[name]())
    bad = [n for n, good in ok.items() if not good]
    if bad:
        env.say(f"# oracle mismatch: {', '.join(bad)}")
    return len(ok), len(bad)
