"""Incremental materialized rollup — the SummingMergeTree pattern
(reference stack: ClickHouse materialized views summing into a
SummingMergeTree table; cf. reference app/clickhouse_db.py's hourly
warehouse) re-expressed as a foreachBatch delta store:

- each micro-batch writes ONLY its own partial aggregate — one row
  per (hour bucket, event_type) seen in the batch — as its own store
  partition. Per-batch cost is O(batch); the store is NEVER read on
  the write path.
- readers merge on read: sum the partials per key
  (``read_rollup``). Exactly ClickHouse's merge-on-SELECT contract
  ("parts may not be fully summed yet; GROUP BY on read").
- ``compact_rollup`` folds all parts into one pre-summed partition
  via the shared crash-safe swap (store.compact_tables with a merge
  transform), bounding merge-on-read cost between compactions.

Exactness: partials carry DECIMAL(18,2) sums, so merge order cannot
change the result (IEEE double partial sums would make the rollup
depend on partition history); the reader casts to double at the
edge, matching the batch twin ``time_bucket_hourly`` bit-for-bit —
asserted by tests/test_rollup_store.py.

Replay: a replayed batch recomputes the identical partial from the
identical input and dynamic-partition-overwrites its own partition —
idempotent WITHOUT reading the store. The one summing-specific
hazard is replay AFTER compaction: the batch's rows are already
inside the folded partition, so a rewrite would double-count. The
compaction records the highest batch id it folds (store.FOLD_RECORD),
and the body refuses a batch id at or below it whose own partition is
gone instead of double-counting; no batch writes a marker. Run
compaction only at a quiescent point with the checkpoint intact
(same contract as every store here) and the case cannot arise:
restarts resume from committed offsets, so only NEW batch ids follow
a compaction.

At 100 TB: the write path is a map-side-combined aggregate of each
micro-batch with a dimension-sized result; the read path scans
(#batches since compaction) dimension-sized parts. Nothing scales
with accumulated history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .store import (
    append_partition,
    compact_tables,
    guard_replay_after_compaction,
    open_scheme_store,
    read_store,
    start_foreach_batch,
)

ROLLUP_SCHEME = "rollup-hour-sum-v1"

_PART_SCHEMA = "bucket timestamp, event_type string, n bigint, value_sum decimal(18,2)"


def _merge_parts(df: DataFrame) -> DataFrame:
    return df.groupBy("bucket", "event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("value_sum").cast("decimal(18,2)").alias("value_sum"),
    )


def rollup_ingest_batch(
    events: DataFrame, batch_id: int, store_dir: str, run_id: str | None = None
) -> None:
    """foreachBatch body: write this batch's (bucket, event_type)
    partial aggregate as its own store partition. Never reads the
    parts table; see module docstring for the replay/compaction
    contract the fold-record check enforces."""
    spark = events.sparkSession
    open_scheme_store(spark, store_dir, ROLLUP_SCHEME, ("parts",), run_id)

    guard_replay_after_compaction(spark, store_dir, "parts", batch_id, "rollup")

    partial = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("value_sum"),
    )
    append_partition(partial, os.path.join(store_dir, "parts"), batch_id)


def read_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merge-on-read: the current rollup, schema-identical to the
    batch twin time_bucket_hourly (value_sum as double at the edge,
    decimal inside the merge)."""
    parts = read_store(spark, os.path.join(store_dir, "parts"), _PART_SCHEMA)
    return _merge_parts(parts).select(
        "bucket",
        "event_type",
        "n",
        F.col("value_sum").cast("double").alias("value_sum"),
    )


def compact_rollup(spark: SparkSession, store_dir: str) -> int:
    """Pre-sum all parts into the single compacted partition via the
    shared crash-safe swap. QUIESCENT POINT ONLY (see module and
    store.compact_tables docstrings)."""
    return compact_tables(
        spark, store_dir, (("parts", _PART_SCHEMA),), transform=_merge_parts
    )


def start_rollup_ingest(
    events_stream: DataFrame, store_dir: str, checkpoint: str
) -> StreamingQuery:
    """Wire the rollup into a streaming query with the shared
    stream-run identity guard."""
    return start_foreach_batch(
        events_stream,
        checkpoint,
        lambda df, bid, run_id: rollup_ingest_batch(df, bid, store_dir, run_id=run_id),
        trigger_seconds=0,
    )
