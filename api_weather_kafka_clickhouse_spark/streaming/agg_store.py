"""Incremental materialized view with GENERAL aggregate states — the
AggregatingMergeTree pattern (ClickHouse materialized views writing
``-State`` combinators into an AggregatingMergeTree table; the
reference stack's idiom for maintaining min/max/avg/uniq rollups
beside the SummingMergeTree sums of streaming/rollup_store.py).

Same delta-store contract as the rollup twin, with one generalization:
each micro-batch's partition carries PARTIAL AGGREGATE STATES per
(hour bucket, event_type) —

- ``n`` / ``value_sum``: countState/sumState (exact: bigint + decimal,
  merge = sum, any order);
- ``v_min`` / ``v_max``: minState/maxState (merge = min/max — the
  states ClickHouse's SummingMergeTree canNOT maintain, the reason
  AggregatingMergeTree exists);
- ``uniq_state``: a REAL mergeable sketch — Spark's Datasketches HLL
  binary (hll_sketch_agg), merged across parts with hll_union_agg and
  finalized to an estimate only at the read edge. This is ClickHouse's
  uniqState/uniqMerge contract verbatim: the store holds opaque sketch
  bytes, any rollup of any subset of parts is a cheap sketch union,
  and raw user ids never accumulate anywhere.

Write path never reads the store (O(batch) per micro-batch, one
map-side-combined aggregate with a dimension-sized result). Readers
merge states on read; ``compact_agg`` pre-merges all parts into one
partition through the shared crash-safe swap — states merge to
states (the HLL union keeps BINARY form in the compacted part), so
compaction is invisible to readers except for cost. Replay safety is
the shared fold-record rule (store.guard_replay_after_compaction): a
replayed batch overwrites its own partition idempotently; a replay of
a batch the compaction folded refuses loudly.

avg is derived at the edge as value_sum/n from the exact states —
never stored (a stored float average cannot merge; the sum/count
pair is the mergeable form, which is precisely the -State lesson).
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

AGG_SCHEME = "agg-states-hour-v1"

# lgConfigK for the uniq sketch: 12 (~0.8% standard error) matches the
# query layer's hll_custs_estimates default.
UNIQ_LG_K = 12

_PART_SCHEMA = (
    "bucket timestamp, event_type string, n bigint, value_sum decimal(18,2), "
    "v_min double, v_max double, uniq_state binary"
)


def _merge_states(df: DataFrame) -> DataFrame:
    """-Merge for every state column; result is again states (closed
    under merging — what makes both read and compaction correct)."""
    return df.groupBy("bucket", "event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("value_sum").cast("decimal(18,2)").alias("value_sum"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
        F.hll_union_agg("uniq_state").alias("uniq_state"),
    )


def agg_state_batch(
    events: DataFrame, batch_id: int, store_dir: str, run_id: str | None = None
) -> None:
    """foreachBatch body: write this batch's partial states as its own
    store partition. Never reads the parts table."""
    spark = events.sparkSession
    open_scheme_store(spark, store_dir, AGG_SCHEME, ("parts",), run_id)
    guard_replay_after_compaction(spark, store_dir, "parts", batch_id, "agg-state")

    partial = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("value_sum"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.hll_sketch_agg("user_id", UNIQ_LG_K).alias("uniq_state"),
    )
    append_partition(partial, os.path.join(store_dir, "parts"), batch_id)


def read_agg(spark: SparkSession, store_dir: str) -> DataFrame:
    """Merge-on-read + finalize: exact n/sum/min/max/avg and the HLL
    uniq estimate per (bucket, event_type)."""
    parts = read_store(spark, os.path.join(store_dir, "parts"), _PART_SCHEMA)
    merged = _merge_states(parts)
    return merged.select(
        "bucket",
        "event_type",
        "n",
        F.col("value_sum").cast("double").alias("value_sum"),
        "v_min",
        "v_max",
        (F.col("value_sum").cast("double") / F.col("n")).alias("v_avg"),
        F.hll_sketch_estimate("uniq_state").cast("bigint").alias("uniq_users"),
    )


def compact_agg(spark: SparkSession, store_dir: str) -> int:
    """Pre-merge all parts into the single compacted partition via the
    shared crash-safe swap; states stay states (BINARY sketches in the
    compacted part). QUIESCENT POINT ONLY."""
    return compact_tables(
        spark, store_dir, (("parts", _PART_SCHEMA),), transform=_merge_states
    )


def start_agg_ingest(
    events_stream: DataFrame, store_dir: str, checkpoint: str
) -> StreamingQuery:
    """Wire the state store into a streaming query with the shared
    stream-run identity guard."""
    return start_foreach_batch(
        events_stream,
        checkpoint,
        lambda df, bid, run_id: agg_state_batch(df, bid, store_dir, run_id=run_id),
        trigger_seconds=0,
    )
