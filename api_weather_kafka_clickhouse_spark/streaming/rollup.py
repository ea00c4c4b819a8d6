"""Incrementally-maintained rollup — a streaming materialized view.

The warehouse layer answers per-city/day aggregates by scanning the
fact table (`app.warehouse_summary`); this module maintains the same
answer incrementally: each micro-batch writes its PARTIAL aggregates
(count + exact decimal sum — commutative, associative, mergeable) and
readers merge partials. At 100 TB the read side touches the tiny
rollup table instead of the fact table, and the write side does one
map-side-combined aggregate per micro-batch.

Exactly-once without a transactional table format: each batch's
partials land in a `batch_id=<n>` partition written with DYNAMIC
partition overwrite, so a replayed micro-batch (checkpoint recovery,
supervisor restart) overwrites its own partition instead of
double-appending — the idempotent-foreachBatch pattern the reference's
commit-after-insert only approximates
(reference app/Consumer_clickhouse.py:160-165, with ClickHouse's
insert dedup explicitly disabled at app/clickhouse_db.py:23).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .store import (
    crash_safe_rewrite,
    fs_exists,
    hadoop_fs,
    start_foreach_batch,
    verify_stream_run,
)

ROLLUP_KEYS = ("event_date", "city_name")


def _batch_partials(batch_df: DataFrame) -> DataFrame:
    # t_sum is pinned to decimal(38,2) here AND in compact_rollup's
    # re-aggregation: Spark's sum() widens precision by 10, so an
    # unpinned compaction would write decimal(38,2) partitions next to
    # the stream's decimal(28,2) ones and later un-merged reads would
    # resolve an arbitrary footer (intermittent parquet conversion
    # errors). One fixed type keeps every partition schema identical.
    return batch_df.groupBy(*ROLLUP_KEYS).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("temperature").cast("decimal(18,2)")).cast("decimal(38,2)").alias("t_sum"),
        F.min("temperature").alias("t_min"),
        F.max("temperature").alias("t_max"),
    )


def start_rollup(
    fact_stream: DataFrame,
    rollup_path: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain per-(event_date, city_name) partials from the typed
    fact stream (`pipeline.transform` output)."""

    def sink(batch_df: DataFrame, batch_id: int, run_id: str | None) -> None:
        has_state = fs_exists(batch_df.sparkSession, rollup_path)
        verify_stream_run(batch_df.sparkSession, rollup_path, run_id, has_state)
        (
            _batch_partials(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(rollup_path)
        )

    return start_foreach_batch(fact_stream, checkpoint, sink, trigger_seconds)


def _last_committed_batch(spark: SparkSession, checkpoint: str) -> int:
    """Highest batch id the checkpoint has COMMITTED (sink completed
    AND offset recorded). Batches written to the rollup but not yet
    committed can replay after a crash, so compaction must not fold
    them.

    Listed via the Hadoop FileSystem API, not os.listdir, so an
    HDFS/S3/file: checkpoint URI resolves the same way Spark's own
    commit log does (a local-only listdir would silently return -1
    there and turn compaction into a no-op)."""
    fs, p = hadoop_fs(spark, os.path.join(checkpoint, "commits"))
    if not fs.exists(p):
        return -1
    ids = [
        int(st.getPath().getName())
        for st in fs.listStatus(p)
        if st.getPath().getName().isdigit()
    ]
    return max(ids, default=-1)


def compact_rollup(spark: SparkSession, rollup_path: str, checkpoint: str) -> None:
    """Merge committed batch partitions into one — run periodically
    (or on stream shutdown) so a long-lived trigger doesn't
    accumulate one tiny partition per micro-batch and read_rollup
    stays a scan of a few files.

    Replay safety: only partitions with batch_id <= the checkpoint's
    last COMMITTED batch are folded into the `batch_id=-1` compacted
    partition; a batch that was written but not committed (crash
    between sink and commit) keeps its own partition, so when the
    restarted stream replays it, the dynamic overwrite replaces that
    partition instead of double-counting against the compacted data.
    OFFLINE maintenance: stop the rollup stream first — the directory
    swap is not atomic with concurrent writes.

    Crash safety is the store layer's shared swap
    (store.crash_safe_rewrite): the compacted table is written to a
    marked staging copy before the live directory moves, an
    interrupted run is recovered on the next call, and copy+delete
    object stores are refused before anything is touched.
    """
    committed = _last_committed_batch(spark, checkpoint)
    # no trailing slash: the swap's staging/aside dirs are siblings
    # named after the live path
    live = rollup_path.rstrip("/")

    def _write_compacted(tmp: str) -> None:
        partials = spark.read.parquet(live)
        foldable = partials.filter(F.col("batch_id") <= committed)
        keep = partials.filter(F.col("batch_id") > committed)
        (
            foldable.groupBy(*ROLLUP_KEYS)
            .agg(
                F.sum("n_obs").alias("n_obs"),
                # same fixed decimal as _batch_partials — see comment there
                F.sum("t_sum").cast("decimal(38,2)").alias("t_sum"),
                F.min("t_min").alias("t_min"),
                F.max("t_max").alias("t_max"),
            )
            .withColumn("batch_id", F.lit(-1))
            .unionByName(keep)
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(tmp)
        )

    crash_safe_rewrite(spark, live, _write_compacted)


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Merge the partials: counts and exact decimal sums add, min/max
    combine — identical to aggregating the fact table directly."""
    partials = spark.read.parquet(rollup_path)
    return partials.groupBy(*ROLLUP_KEYS).agg(
        F.sum("n_obs").alias("n_obs"),
        F.min("t_min").alias("t_min"),
        F.max("t_max").alias("t_max"),
        (F.sum("t_sum").cast("double") / F.sum("n_obs")).alias("t_avg"),
    )
