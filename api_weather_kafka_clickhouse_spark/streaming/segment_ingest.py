"""Incremental segment-level dedup at ingest time — the streaming
twin of ``operators.text_analysis.text_segment_dedup`` (RefinedWeb/
C4-style boilerplate removal): every incoming micro-batch of
documents is split into fixed-width token segments, segments whose
hash already exists in the persistent seen-segment index (or earlier
in the same batch, ordered by doc_id then position) are removed, and
the surviving text is reassembled per document. Unlike the near-dup
ingest (whole-doc admission), this rewrites documents — a doc whose
boilerplate half is already indexed still lands, minus the
boilerplate.

Store layout (``streaming/store.py`` contract — parquet partitioned
by ingest batch id, replay-idempotent):

- ``<store>/segs``: (seg_hash bigint) — xxhash64 of each FIRST-seen
  segment. Hashes, not text: the index carries 8 bytes per distinct
  segment at any corpus size (a 2^-64 collision silently drops a
  distinct segment — the standard trade of hash-indexed dedup).

Segmentation is always of the ORIGINAL document text, so boundaries
are stable regardless of what was previously removed; the reassembled
``text_clean`` is an output, never re-segmented.

Replay correctness: a batch excludes its own store partition from
the seen-set (read_store exclude_batch), recomputes the same
rewrite, and overwrites its own partitions.

At 100 TB: per-batch cost is one explode + hash over the batch, one
keep-first window keyed on seg_hash, and one anti-join against the
index (streamed against the batch's hashes — never shuffled whole,
same as the LSH band stores). The corpus is never rescanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.text_analysis import SEG_TOKENS
from .store import (
    append_partition,
    collapse_ids,
    compact_tables,
    folded_upto,
    open_scheme_store,
    read_store,
    start_foreach_batch,
)

SEG_SCHEME = f"segdedup-xxhash64-w{SEG_TOKENS}"
_SEG_SCHEMA = "seg_hash bigint"


def _exploded_segments(docs: DataFrame, seg_tokens: int) -> DataFrame:
    """(doc_id, seg_idx, seg, seg_hash) — fixed-width token windows of
    the original text, all codegen built-ins (the same segmentation as
    text_analysis.segment_dedup, plus the 8-byte index hash)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    nseg = F.ceil(F.size("t") / F.lit(seg_tokens)).cast("int")
    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.array_join(F.slice("t", i * seg_tokens + 1, seg_tokens), " "),
            )
        ).alias("seg_idx", "seg"),
    ).withColumn("seg_hash", F.xxhash64("seg"))


def segment_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    out_dir: str,
    seg_tokens: int = SEG_TOKENS,
    run_id: str | None = None,
) -> None:
    """foreachBatch body: rewrite the batch's docs minus already-seen
    segments, index the first-seen segment hashes. ``batch`` needs
    (doc_id bigint, text string). ``run_id`` rejects a recreated
    checkpoint over a kept store before any write (see
    store.RUN_FILE). A doc whose text is NULL writes NO output row (its
    NULL token array explodes to no segment), unlike a fully-seen
    doc, which writes one with ``n_kept = 0``."""
    spark = batch.sparkSession
    open_scheme_store(spark, store_dir, SEG_SCHEME, ("segs",), run_id)
    if batch_id <= folded_upto(spark, store_dir, "segs"):
        return  # replay of a folded batch: the fold holds its admissions

    docs = collapse_ids(batch, "doc_id", "text").persist()
    try:
        segs = _exploded_segments(docs, seg_tokens).persist()
        try:
            stored = read_store(
                spark, os.path.join(store_dir, "segs"), _SEG_SCHEMA, exclude_batch=batch_id
            )
            # keep-first within the batch (by doc_id, then position),
            # then drop anything the index has already seen
            kw = Window.partitionBy("seg_hash").orderBy("doc_id", "seg_idx")
            kept = (
                segs.withColumn("_kr", F.row_number().over(kw))
                .filter(F.col("_kr") == 1)
                .drop("_kr")
                .join(
                    stored.select(F.col("seg_hash").alias("_seen")),
                    F.col("seg_hash") == F.col("_seen"),
                    "left_anti",
                )
                .persist()
            )
            try:
                reassembled = kept.groupBy("doc_id").agg(
                    F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                            lambda s: s.seg,
                        ),
                        " ",
                    ).alias("text_clean"),
                )
                totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
                out = totals.join(reassembled, "doc_id", "left").select(
                    "doc_id",
                    "n_segs",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("text_clean", F.lit("")).alias("text_clean"),
                )
                # out first (evaluated against the pre-batch index);
                # the index append below re-evaluates `kept`, which is
                # safe because the store read excludes this batch's
                # own partition (same contract as the other ingests)
                append_partition(out, out_dir, batch_id)
                append_partition(
                    kept.select("seg_hash").distinct(),
                    os.path.join(store_dir, "segs"),
                    batch_id,
                )
            finally:
                kept.unpersist()
        finally:
            segs.unpersist()
    finally:
        docs.unpersist()


def start_segment_ingest(
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    seg_tokens: int = SEG_TOKENS,
) -> StreamingQuery:
    """Wire the incremental segment dedup into a streaming query —
    checkpoint + per-batch_id partition overwrite, same effectively-
    exactly-once contract as the other ingest modules."""
    return start_foreach_batch(
        docs_stream,
        checkpoint,
        lambda df, bid, run_id: segment_ingest_batch(
            df, bid, store_dir, out_dir, seg_tokens, run_id=run_id
        ),
    )


def compact_store(spark: SparkSession, store_dir: str) -> int:
    """Fold the per-batch seg-hash partitions into one — crash-safe
    marker protocol per ``store.compact_tables``."""
    return compact_tables(spark, store_dir, (("segs", _SEG_SCHEMA),))
