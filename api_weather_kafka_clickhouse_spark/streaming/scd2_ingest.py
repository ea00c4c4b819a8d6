"""Incremental SCD Type-2 dimension maintenance — the streaming twin
of ``operators.aggregations.scd2_intervals``: each micro-batch of
events folds into a persistent store of per-user validity intervals
[valid_from, valid_to) so the dimension stays current as the change
stream grows, without ever rescanning history.

This is the CDC-to-warehouse shape ClickHouse users of the reference
stack build with ReplacingMergeTree + materialized views; here it is
a foreachBatch body over plain parquet delta stores (same idempotent
per-batch-partition pattern as dedup_ingest/embedding_ingest).

Store layout (all parquet, partitioned by ingest batch id):

- ``<store>/closed``: finished intervals (user_id, state, version,
  valid_from, valid_to, n_events). APPEND-ONLY facts — once an
  interval closes it is never touched again, so this table scales
  like the history itself and needs no merge-on-read.
- ``<store>/heads``: one OPEN interval per user, written as a DELTA:
  a batch appends new head rows only for users it touched, carrying
  ``seq`` (the batch id as a data column). The current head per user
  is the row with max seq — an argmax over per-user groups of a few
  rows, the classic merge-on-read head table. Superseded rows are
  dead weight only until compaction (``compact_store`` folds all
  three tables; seq keeps argmax correct across compactions).
- ``<store>/late``: quarantined out-of-order arrivals (see below).

Ordering contract: per user, events must arrive in (ts, event_id)
order ACROSS batches (the normal CDC log contract); within a batch
any order is fine — the batch is sorted before folding. An event at
or before the user's recorded (last_ts, last_event_id) — or with a
NULL ts — cannot be folded without rewriting closed history, so it
is quarantined to ``late`` (the DLQ answer; a re-fold job can replay
quarantined users through the batch twin). Under that contract,
``read_intervals`` equals the batch operator run over every event
delivered so far — asserted by tests/test_scd2_ingest.py.

Per-batch cost: one argmax read of the heads store (O(active users),
compactable), per-user windows over THIS batch's rows, and joins
keyed on user_id whose non-batch side is head rows of touched users
only. Nothing is proportional to accumulated history — the property
that makes this the 100 TB shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .store import (
    StageTimer,
    append_partition,
    compact_tables,
    guard_replay_after_compaction,
    open_scheme_store,
    read_store,
    start_foreach_batch,
)

SCD2_SCHEME = "scd2-v1"

_HEAD_SCHEMA = (
    "user_id bigint, state string, version bigint, valid_from timestamp, "
    "n_events bigint, last_ts timestamp, last_event_id bigint, seq bigint"
)
_CLOSED_SCHEMA = (
    "user_id bigint, state string, version bigint, valid_from timestamp, "
    "valid_to timestamp, n_events bigint"
)
_LATE_SCHEMA = "event_id bigint, user_id bigint, event_type string, ts timestamp"


def _current_heads(heads: DataFrame) -> DataFrame:
    """Argmax-by-seq per user over the head delta rows.

    A ``max(struct(seq, ...))`` hash aggregate, not a row_number
    window (round-15, guide §2.3): the partial phase pre-reduces each
    map partition to one row per user before the exchange, where the
    window shuffled and sorted every superseded delta row. Exactly
    one head row exists per (user_id, seq) — the per-batch dynamic
    partition overwrite guarantees it — so the argmax is unique and
    the trailing struct fields never break a tie."""
    return (
        heads.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "seq",
                    "state",
                    "version",
                    "valid_from",
                    "n_events",
                    "last_ts",
                    "last_event_id",
                )
            ).alias("_h")
        )
        .select(
            "user_id",
            F.col("_h.state").alias("state"),
            F.col("_h.version").alias("version"),
            F.col("_h.valid_from").alias("valid_from"),
            F.col("_h.n_events").alias("n_events"),
            F.col("_h.last_ts").alias("last_ts"),
            F.col("_h.last_event_id").alias("last_event_id"),
            F.col("_h.seq").alias("seq"),
        )
    )


def read_heads(
    spark: SparkSession, store_dir: str, exclude_batch: int | None = None
) -> DataFrame:
    return _current_heads(
        read_store(
            spark, os.path.join(store_dir, "heads"), _HEAD_SCHEMA, exclude_batch
        )
    )


def read_intervals(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current SCD2 snapshot: closed history plus the open head per
    user (valid_to NULL) — same schema/semantics as the batch twin
    ``scd2_intervals`` minus engine-internal bookkeeping columns."""
    closed = read_store(spark, os.path.join(store_dir, "closed"), _CLOSED_SCHEMA)
    open_ = read_heads(spark, store_dir).select(
        "user_id",
        "state",
        "version",
        "valid_from",
        F.lit(None).cast("timestamp").alias("valid_to"),
        "n_events",
    )
    return closed.unionByName(open_)


def scd2_ingest_batch(
    events: DataFrame,
    batch_id: int,
    store_dir: str,
    run_id: str | None = None,
    stage_times: dict[str, float] | None = None,
) -> None:
    """foreachBatch body: fold one micro-batch of (event_id, user_id,
    event_type, ts) rows into the interval store. Deterministic given
    the pre-batch store, so a replayed batch id rewrites identical
    partitions (read_store excludes the batch's own first attempt).

    ``stage_times`` (bench instrumentation) accumulates wall seconds
    per materialization boundary: ``fold_closed_write`` (head
    merge-on-read + classification join + island fold, which all
    EXECUTE at the closed-intervals append because the plan is lazy),
    ``heads_write`` and ``late_write`` (the two remaining appends,
    served from the persisted tagged/adj frames)."""
    from pyspark.sql import Window

    spark = events.sparkSession
    open_scheme_store(spark, store_dir, SCD2_SCHEME, ("heads", "closed", "late"), run_id)
    guard_replay_after_compaction(spark, store_dir, "heads", batch_id, "scd2")

    heads = read_heads(spark, store_dir, exclude_batch=batch_id).persist()
    try:
        ev = events.select("event_id", "user_id", "event_type", "ts")
        hkey = heads.select(
            F.col("user_id").alias("h_user"),
            F.col("state").alias("h_state"),
            F.col("version").alias("h_version"),
            F.col("valid_from").alias("h_valid_from"),
            F.col("n_events").alias("h_n_events"),
            F.col("last_ts").alias("h_last_ts"),
            F.col("last_event_id").alias("h_last_event_id"),
        )
        tagged = ev.join(hkey, ev["user_id"] == hkey["h_user"], "left")
        # an event is foldable iff it strictly advances the user's
        # (ts, event_id) cursor; NULL ts can never be ordered
        is_late = F.col("ts").isNull() | (
            F.col("h_user").isNotNull()
            & (
                F.struct(F.col("ts"), F.col("event_id"))
                <= F.struct(F.col("h_last_ts"), F.col("h_last_event_id"))
            )
        )
        # persisted: the tagged batch feeds THREE writes below (late,
        # closed, heads) — without the cache each action re-runs the
        # head-store read and the classification join
        tagged = tagged.persist()
        late = tagged.filter(is_late).select("event_id", "user_id", "event_type", "ts")
        ontime = tagged.filter(~is_late).select("event_id", "user_id", "event_type", "ts")

        # compress THIS batch's foldable rows into islands (the same
        # gaps-and-islands as the batch twin, per-user windows over
        # batch-sized partitions)
        worder = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
        prev = F.lag("event_type").over(worder)
        chg = ontime.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.when(prev.isNull() | (prev != F.col("event_type")), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_chg"),
        )
        wcum = worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grp = chg.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.sum("is_chg").over(wcum).cast("bigint").alias("idx"),
        )
        islands = (
            grp.groupBy("user_id", F.col("event_type").alias("state"), "idx")
            .agg(
                F.min("ts").alias("first_ts"),
                F.max(F.struct("ts", "event_id")).alias("_last"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
            .select(
                "user_id",
                "state",
                "idx",
                "first_ts",
                F.col("_last.ts").alias("island_last_ts"),
                F.col("_last.event_id").alias("island_last_event_id"),
                "n",
            )
        )

        # merge bookkeeping: island 1 extends the head iff states
        # match; version numbering continues from the head
        first = islands.filter(F.col("idx") == 1).select(
            F.col("user_id").alias("f_user"),
            F.col("state").alias("f_state"),
            F.col("first_ts").alias("f_first_ts"),
        )
        hf = hkey.join(first, hkey["h_user"] == first["f_user"], "inner")
        merge_flag = F.col("h_state") == F.col("f_state")
        # a head whose user got new rows and whose state changed:
        # close it at the first new island's start. Its n_events is
        # final — nothing merged into it.
        closed_from_head = hf.filter(~merge_flag).select(
            F.col("h_user").alias("user_id"),
            F.col("h_state").alias("state"),
            F.col("h_version").alias("version"),
            F.col("h_valid_from").alias("valid_from"),
            F.col("f_first_ts").alias("valid_to"),
            F.col("h_n_events").alias("n_events"),
        )

        mergemeta = hf.select(
            F.col("h_user").alias("m_user"),
            merge_flag.alias("m_merge"),
            F.col("h_version").alias("m_version"),
            F.col("h_valid_from").alias("m_valid_from"),
            F.col("h_n_events").alias("m_n"),
        )
        adj = islands.join(mergemeta, islands["user_id"] == mergemeta["m_user"], "left")
        offset = F.coalesce(
            F.col("m_version") - F.when(F.col("m_merge"), F.lit(1)).otherwise(F.lit(0)),
            F.lit(0),
        )
        merged_first = F.coalesce(F.col("m_merge"), F.lit(False)) & (F.col("idx") == 1)
        adj = adj.select(
            "user_id",
            "state",
            "idx",
            (offset + F.col("idx")).alias("version"),
            F.when(merged_first, F.col("m_valid_from"))
            .otherwise(F.col("first_ts"))
            .alias("valid_from"),
            (
                F.when(merged_first, F.col("m_n")).otherwise(F.lit(0)) + F.col("n")
            ).alias("n_events"),
            "island_last_ts",
            "island_last_event_id",
        )
        # valid_to of island i is island i+1's first event ts; islands
        # past the first always have valid_from == first_ts, so the
        # lead of valid_from is exactly that
        wlead = Window.partitionBy("user_id").orderBy("idx")
        # persisted: adj feeds both the closed-islands and new-heads
        # writes; materializing it once stops the island windows from
        # running twice
        adj = adj.withColumn("next_from", F.lead("valid_from").over(wlead)).persist()
        closed_islands = adj.filter(F.col("next_from").isNotNull()).select(
            "user_id",
            "state",
            "version",
            "valid_from",
            F.col("next_from").alias("valid_to"),
            "n_events",
        )
        new_heads = adj.filter(F.col("next_from").isNull()).select(
            "user_id",
            "state",
            "version",
            "valid_from",
            "n_events",
            F.col("island_last_ts").alias("last_ts"),
            F.col("island_last_event_id").alias("last_event_id"),
            F.lit(batch_id).cast("bigint").alias("seq"),
        )

        try:
            timer = StageTimer(stage_times)
            append_partition(
                closed_from_head.unionByName(closed_islands),
                os.path.join(store_dir, "closed"),
                batch_id,
            )
            timer.mark("fold_closed_write")
            append_partition(new_heads, os.path.join(store_dir, "heads"), batch_id)
            timer.mark("heads_write")
            append_partition(late, os.path.join(store_dir, "late"), batch_id)
            timer.mark("late_write")
        finally:
            adj.unpersist()
            tagged.unpersist()
    finally:
        heads.unpersist()


def start_scd2_ingest(
    events_stream: DataFrame, store_dir: str, checkpoint: str
) -> StreamingQuery:
    """Wire the incremental SCD2 fold into a streaming query —
    checkpointed foreachBatch with the shared stream-run identity
    guard, so a recreated checkpoint over a kept store refuses before
    any partition write (store.verify_stream_run)."""
    return start_foreach_batch(
        events_stream,
        checkpoint,
        lambda df, bid, run_id: scd2_ingest_batch(df, bid, store_dir, run_id=run_id),
        trigger_seconds=0,
    )


def compact_store(spark: SparkSession, store_dir: str) -> int:
    """Crash-safe fold of the per-batch heads/closed/late partitions
    into one ``ingest_batch=-1`` partition — see ``store.compact_tables``
    for the quiescence and recovery contract; a replay of a folded
    batch then refuses (``store.guard_replay_after_compaction``)."""
    return compact_tables(
        spark,
        store_dir,
        (("heads", _HEAD_SCHEMA), ("closed", _CLOSED_SCHEMA), ("late", _LATE_SCHEMA)),
    )
