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
insert dedup explicitly disabled at app/clickhouse_db.py:23). The
store layer writes (append_partition), folds (fold_batches) and reads
(read_store) the table, so an empty rollup reads as empty.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .store import (
    append_partition,
    fold_batches,
    fs_exists,
    hadoop_fs,
    read_store,
    start_foreach_batch,
    verify_stream_run,
)

ROLLUP_KEYS = ("event_date", "city_name")

_PARTIALS_SCHEMA = (
    "event_date date, city_name string, n_obs bigint, t_sum decimal(38,2), "
    "t_min decimal(5,2), t_max decimal(5,2)"
)


def _merge_partials(partials: DataFrame) -> DataFrame:
    # The one partial merge: of one-row partials on the write path, of
    # stored partials in the fold and on read. t_sum is pinned to
    # decimal(38,2): Spark's sum() widens precision by 10, so an
    # unpinned merge would write partitions of different decimal types
    # and un-merged reads would resolve an arbitrary footer
    # (intermittent parquet conversion errors).
    return partials.groupBy(*ROLLUP_KEYS).agg(
        F.sum("n_obs").alias("n_obs"),
        F.sum("t_sum").cast("decimal(38,2)").alias("t_sum"),
        F.min("t_min").alias("t_min"),
        F.max("t_max").alias("t_max"),
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
        t = F.col("temperature")
        rows = batch_df.select(
            *ROLLUP_KEYS,
            F.lit(1).alias("n_obs"),
            t.cast("decimal(18,2)").alias("t_sum"),
            t.alias("t_min"),
            t.alias("t_max"),
        )
        append_partition(_merge_partials(rows), rollup_path, batch_id, "batch_id")

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
    """Fold committed batch partitions into one — run periodically
    (or on stream shutdown) so a long-lived trigger doesn't
    accumulate one tiny partition per micro-batch and read_rollup
    stays a scan of a few files. It is the store layer's fold
    (store.fold_batches) with the partial merge: crash-safe, with a
    fold record (store.FOLD_RECORD), and empty in, empty out.

    Replay safety: only partitions with batch_id <= the checkpoint's
    last COMMITTED batch are folded into the `batch_id=-1` partition;
    a batch that was written but not committed (crash between sink
    and commit) keeps its own partition, so when the restarted stream
    replays it, the dynamic overwrite replaces that partition instead
    of double-counting against the folded data. OFFLINE maintenance:
    stop the rollup stream first — the directory swap is not atomic
    with concurrent writes.
    """
    committed = _last_committed_batch(spark, checkpoint)
    fold_batches(spark, rollup_path, _PARTIALS_SCHEMA, committed, _merge_partials, "batch_id")


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Merge the partials: counts and exact decimal sums add, min/max
    combine — identical to aggregating the fact table directly. An
    empty rollup reads as zero rows."""
    merged = _merge_partials(read_store(spark, rollup_path, _PARTIALS_SCHEMA))
    t_avg = (F.col("t_sum").cast("double") / F.col("n_obs")).alias("t_avg")
    return merged.select(*ROLLUP_KEYS, "n_obs", "t_min", "t_max", t_avg)
