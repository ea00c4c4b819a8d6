"""Structured-Streaming ingest pipeline — the consumer path
(reference app/Consumer_clickhouse.py — SURVEY.md §3.2) as one
declarative streaming query:

    source (kafka | file | memory/rate for tests)
      → parse_raw (from_json)
      → flatten_weather (22 typed columns)
      → foreachBatch sink (partitioned parquet warehouse)

What the reference hand-rolls, the runtime provides:
- count/time dual flush trigger (Consumer:37-64) →
  Trigger.ProcessingTime + maxOffsetsPerTrigger;
- commit-after-insert at-least-once (Consumer:160-165) → checkpoint
  WAL + idempotent batch ids (upgrade to effectively-exactly-once for
  deterministic batches);
- retained-batch retry on sink failure (clickhouse_db.py:79-84) →
  micro-batch replay from checkpoint;
- running counters (Consumer:86-95) → StreamingQuery.lastProgress /
  observe().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.flatten import flatten_weather, out_of_range, parse_raw
from ..sources.sink import write_fact_batch
from .store import fs_exists, start_foreach_batch, verify_stream_run


def read_stream_json_files(spark: SparkSession, path: str) -> DataFrame:
    """File-source twin of the Kafka source for local/test runs: each
    line is one Kafka message value (raw weather JSON). Schema is the
    single `value` string — identical shape to the Kafka source."""
    return spark.readStream.schema("value string").text(path)


def transform(messages: DataFrame) -> DataFrame:
    """Message values → typed fact rows; corrupt JSON dropped (parity
    with Consumer:174-175). The `observe` metrics surface message,
    corrupt-row and defaulted-row (flatten.out_of_range) counts in
    every query progress event — the running counters of the
    reference consumer (A21: Consumer:86-95) without a second pass."""
    parsed = parse_raw(messages, "value")
    observed = parsed.observe(
        "ingest",
        F.count(F.lit(1)).alias("n_messages"),
        F.count(F.when(F.col("raw").isNull(), 1)).alias("n_corrupt"),
        F.count(F.when(out_of_range("raw"), 1)).alias("n_defaulted"),
    )
    ok = observed.filter(F.col("raw").isNotNull())
    return flatten_weather(ok)


def start_pipeline(
    messages: DataFrame,
    warehouse_path: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """The full consumer: micro-batches written to the partitioned
    warehouse via foreachBatch (the reference's batched INSERT, A19).
    Each batch lands in its own batch_id partition with dynamic
    overwrite (write_fact_batch), so a batch replayed after a crash
    between sink and checkpoint-commit overwrites itself instead of
    double-appending — a plain append here would silently duplicate
    every fact row of the replayed batch."""

    def sink(batch_df: DataFrame, batch_id: int, run_id: str | None) -> None:
        has_state = fs_exists(batch_df.sparkSession, warehouse_path)
        verify_stream_run(batch_df.sparkSession, warehouse_path, run_id, has_state)
        write_fact_batch(batch_df, warehouse_path, batch_id)

    # trigger_seconds: the reference 300 s cycle (Producer:137 / Consumer time trigger)
    return start_foreach_batch(transform(messages), checkpoint, sink, trigger_seconds)
