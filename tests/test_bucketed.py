"""Bucketed event tables must give shuffle-free entity joins: two tables
bucketed on entity_id with equal bucket counts join with ZERO Exchange
operators in the physical plan (SURVEY.md §4 co-location requirement).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_to_clickhouse_spark.operators.ingest import (
    node_events_from_raw,
    relationship_events_from_raw,
)
from neo4j_to_clickhouse_spark.sources.bucketed import write_bucketed_events


@pytest.fixture(scope="module")
def bucketed_tables(spark, node_raw, rel_raw, tmp_path_factory):
    root = tmp_path_factory.mktemp("warehouse")
    write_bucketed_events(
        node_events_from_raw(node_raw).events,
        "nodes_b",
        buckets=4,
        path=str(root / "nodes_b"),
    )
    rels = relationship_events_from_raw(rel_raw).events.withColumn(
        "entity_id", F.col("source_id")  # key edges by source for the join
    )
    write_bucketed_events(rels, "rels_b", buckets=4, path=str(root / "rels_b"))
    yield "nodes_b", "rels_b"
    spark.sql("DROP TABLE IF EXISTS nodes_b")
    spark.sql("DROP TABLE IF EXISTS rels_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    nodes_t, rels_t = bucketed_tables
    nodes = spark.table(nodes_t).select("entity_id", "labels")
    rels = spark.table(rels_t).select(
        "entity_id", "relationship_type", "target_id"
    )
    # hint("merge"): at test size the planner would broadcast (which
    # by-passes bucketing entirely); production entity-log joins are
    # big-to-big, where SortMergeJoin is what the planner picks itself
    joined = nodes.hint("merge").join(rels, "entity_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    # and it still computes the right thing: edges keyed by source 4:abc:1
    rows = joined.collect()
    assert {r.entity_id for r in rows} == {"4:abc:1"}
    assert len(rows) == 12  # 3 node events for entity 1 x 4 rel events


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_tables):
    nodes_t, _ = bucketed_tables
    agg = (
        spark.table(nodes_t)
        .groupBy("entity_id")
        .agg(F.count("*").alias("n"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucketed group-by still shuffles:\n{plan}"
    assert agg.count() == 3
