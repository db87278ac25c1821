"""Bucketed event tables: co-located, shuffle-free entity joins.

SURVEY.md §2.3 J2 / §4: the graph queries join node latest-state to edges
on entity ids — repeatedly. Plain parquet makes every such join shuffle
both sides every time. Hive-style bucketing (`bucketBy(n, entity_id)` +
`sortBy`) persists the hash-partitioning INTO the table layout, so any
join or aggregation keyed on ``entity_id`` between two tables bucketed
with the same count reads pre-co-located buckets: Catalyst plans a
SortMergeJoin with NO Exchange on either side.

This is the Spark analogue of the reference's MergeTree ORDER BY locality
— but keyed for the *join* pattern (entity id), not just the time-range
scan (the month-partitioned parquet sink in :mod:`.snapshot` keeps that
role). At 100 TB: bucket count should put one bucket x one month in the
100MB-1GB range; joining streams of 1000s of buckets never touches the
shuffle service.

Bucketed tables live in the session catalog (``saveAsTable``) because the
bucket metadata is what lets Catalyst elide the exchange; a path-only
parquet write discards it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed_events(
    df: DataFrame,
    table: str,
    buckets: int = 32,
    key: str = "entity_id",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist an event frame as a bucketed, per-bucket-sorted catalog table.

    ``sortBy(key, event_timestamp)`` keeps each bucket file internally
    ordered so the downstream SortMergeJoin's sort is (mostly) satisfied
    from the layout and per-entity time scans stay sequential.

    ``path`` makes it an external table at that location (the warehouse
    dir is a static config, so per-test/per-job locations go through the
    table path, not the warehouse).
    """
    writer = (
        df.write.mode(mode)
        .bucketBy(buckets, key)
        .sortBy(key, "event_timestamp")
        .format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
