"""Persistent near-dup cluster labels, maintained incrementally from
the ingest provenance pairs log.

``dedup_ingest`` / ``embedding_ingest`` log one (dropped_id, kept_id,
kind) row per drop decision when given a ``pairs_dir``;
``operators.dedup.merge_components`` folds new pairs into an existing
labeling by contraction. This module makes that loop OPERATIONAL: a
labels table on storage, updated batch-by-batch, so the corpus's
cluster structure is a maintained artifact — the thing a training
pipeline joins against to resolve any doc to its canonical
representative — instead of a full re-clustering job.

Layout: ``<labels_dir>/labels`` holds (doc_id, canonical_id) as plain
parquet, rewritten per update via the same crash-safe tmp-marker swap
as store compaction (``store.compact_tables`` machinery in miniature:
write tmp + ``_COMPACT_DONE`` marker, swap, recover dangling state on
entry). The rewrite is O(labels), but labels are two longs per
CLUSTERED doc (docs never involved in any pair carry no row — lookup
misses mean "canonical = self"), which is tiny next to the corpus.

Update cost per batch: merge_components' contraction — one equi-join
of the new pairs' endpoints against labels, then the two-tier closure
(micro-batch-sized contracted graphs fold in ONE limit-collect + a
driver union-find; backfill-scale folds fall back to distributed CC —
see MERGE_FOLD_DRIVER_MAX), one broadcast-mapped rewrite. The corpus
is never re-clustered, and the steady-state per-batch control plane
is one action plus the label-table swap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import merge_components
from .store import COMPACT_MARKER, _require_atomic_rename, fs_exists, hadoop_fs

_LABEL_SCHEMA = "doc_id bigint, canonical_id bigint"


def read_labels(spark: SparkSession, labels_dir: str) -> DataFrame:
    """Current labeling; an absent store is an empty labeling. Docs
    with no row are their own canonical (join with coalesce)."""
    path = os.path.join(labels_dir, "labels")
    _recover(spark, path)
    if fs_exists(spark, path):
        return spark.read.parquet(path).select("doc_id", "canonical_id")
    return spark.createDataFrame([], _LABEL_SCHEMA)


def update_labels(spark: SparkSession, labels_dir: str, pairs: DataFrame) -> None:
    """Fold ``pairs`` (doc_a, doc_b — e.g. the ingest pairs log's
    (dropped_id, kept_id)) into the stored labeling via
    merge_components, and swap the rewritten table in crash-safely."""
    current = read_labels(spark, labels_dir)
    updated = merge_components(current, pairs)
    _swap_in(spark, os.path.join(labels_dir, "labels"), updated)


def _recover(spark: SparkSession, path: str) -> None:
    """Entry-time recovery of a crashed swap — the miniature of
    store.compact_tables' protocol (single table, no aside: the swap
    below deletes live only after tmp is marker-complete)."""
    fs, p_live = hadoop_fs(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    p_tmp = Path(path + "__swap_tmp")
    p_marker = Path(os.path.join(path + "__swap_tmp", COMPACT_MARKER))
    if fs.exists(p_tmp):
        if fs.exists(p_marker):
            # the marker proves tmp fully materialized, and tmp is
            # always the NEWER state (it derives from live): finish
            # the interrupted swap rather than discarding the update
            if fs.exists(p_live):
                fs.delete(p_live, True)
            if not fs.rename(p_tmp, p_live):
                raise IOError(f"labels recovery: rename {path}__swap_tmp failed")
        else:
            # partial tmp write (no marker) — discard the remnant;
            # the caller re-applies its pairs against the intact live
            fs.delete(p_tmp, True)


def _swap_in(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Write ``df`` to tmp (+ completion marker), then swap: the NEW
    labeling derives from the OLD table, so the old files must stay
    readable until the tmp write has fully materialized.

    Like compact_tables, the crash-safety proof needs ATOMIC directory
    rename: under copy+delete rename a crash mid-swap drains tmp
    file-by-file while live fills, and recovery's "marker proves tmp
    complete" premise no longer holds — so the same guard refuses
    object-store schemes here too (the pipeline runs this swap every
    micro-batch, not just at compaction points)."""
    fs, p_live = hadoop_fs(spark, path)
    _require_atomic_rename(fs, path)
    tmp = path + "__swap_tmp"
    Path = spark._jvm.org.apache.hadoop.fs.Path
    p_tmp = Path(tmp)
    p_marker = Path(os.path.join(tmp, COMPACT_MARKER))
    df.write.mode("overwrite").parquet(tmp)
    fs.create(p_marker, True).close()
    if fs.exists(p_live):
        fs.delete(p_live, True)
    if not fs.rename(p_tmp, p_live):
        raise IOError(f"labels swap: rename {tmp} -> {path} failed")


def canonicalize(docs: DataFrame, labels: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach ``canonical_id`` to any frame: docs with no label row
    are their own canonical. The labels side is the small one — at
    scale Spark broadcasts it (or AQE does); the corpus never
    shuffles for the lookup."""
    from pyspark.sql import functions as F

    right = labels.select(
        F.col("doc_id").alias("_lab_id"), F.col("canonical_id").alias("_lab_canon")
    )
    return docs.join(right, docs[id_col] == F.col("_lab_id"), "left").select(
        *[docs[c] for c in docs.columns],
        F.coalesce(F.col("_lab_canon"), docs[id_col]).alias("canonical_id"),
    )
