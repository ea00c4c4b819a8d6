"""The deployable streaming curation pipeline: ONE public entry point
composing the four curation stages every LLM-data ingest runs —

    quality gate (Gopher rules, pure codegen filter)
 -> decontamination gate (Bloom bitset membership, pure codegen filter)
 -> incremental near-dup dedup (MinHash/LSH store, replay-idempotent)
 -> provenance -> cluster-label store (dropped doc -> kept canonical)

The composition is what tests/test_dedup_ingest.py's capstone test
(`test_full_curation_chain_streaming`) wires by hand; this module is
the packaged version a user actually deploys. Scale shape: the two
gates are zero-shuffle whole-stage-codegen filters, so junk and leaked
docs are dropped at scan speed BEFORE anything is hashed or indexed;
per batch the dedup stage costs O(batch) signing plus one equi-join
against only the store buckets the batch touches; the label fold is
one merge_components contraction over the batch's pairs. Nothing in
the chain scans the historical corpus.

Crash/replay: the dedup store, survivors, and pairs log are per-batch
partition overwrites (replay rewrites, never double-admits); the label
store swap is crash-safe (tmp + marker + rename). Folding labels
per-batch is IDEMPOTENT — merge_components of already-folded pairs is
a no-op — so a foreachBatch retry that re-folds the same pairs
converges to the same labeling. The stream threads its checkpoint's
query id into every batch, so a recreated checkpoint over a kept
store refuses loud instead of silently overwriting the old run's
partitions (see store.RUN_FILE).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.bloom import build_bloom_bits, decontam_filter
from ..operators.corpus_quality import gopher_filter
from .cluster_store import canonicalize, read_labels, update_labels
from .dedup_ingest import BAND_BUCKET_CAP, dedup_ingest_batch
from .store import StageTimer, fs_exists, read_store, start_foreach_batch


def curation_dirs(base_dir: str) -> dict[str, str]:
    """The pipeline's on-disk layout under one base directory."""
    return {
        "store": os.path.join(base_dir, "dedup_store"),
        "survivors": os.path.join(base_dir, "survivors"),
        "pairs": os.path.join(base_dir, "pairs"),
        "labels": os.path.join(base_dir, "labels"),
        "checkpoint": os.path.join(base_dir, "checkpoint"),
    }


def curate_batch(
    batch: DataFrame,
    batch_id: int,
    dirs: dict[str, str],
    bloom_bits: bytes | None,
    text_col: str = "text",
    bucket_cap: int = BAND_BUCKET_CAP,
    run_id: str | None = None,
    stage_times: dict[str, float] | None = None,
) -> None:
    """foreachBatch body: gate -> dedup -> fold labels. Exposed so a
    batch backfill can drive the identical code path the stream runs.
    ``run_id`` (the streaming query id, threaded by
    start_curation_pipeline) makes a recreated checkpoint over a kept
    store refuse loud before any partition write (see store.RUN_FILE);
    ``None`` keeps the direct-batch/backfill behavior. ``stage_times``
    (bench instrumentation) accumulates wall seconds per stage: the
    dedup_ingest_batch boundaries plus ``label_fold`` for the
    cluster-label contraction."""
    gated = gopher_filter(batch, text_col)
    if bloom_bits is not None:
        gated = decontam_filter(gated, bloom_bits, text_col)
    dedup_ingest_batch(
        gated,
        batch_id,
        dirs["store"],
        dirs["survivors"],
        bucket_cap=bucket_cap,
        pairs_dir=dirs["pairs"],
        run_id=run_id,
        stage_times=stage_times,
    )
    timer = StageTimer(stage_times)
    spark = batch.sparkSession
    # fold ONLY this batch's provenance pairs into the label store —
    # an incremental contraction, never a recluster of the corpus.
    # Whether the batch produced pairs is read off the partition
    # listing (dynamic overwrite writes no ingest_batch=N dir for an
    # empty frame): one driver-side FS stat, no per-batch Spark job.
    if fs_exists(spark, os.path.join(dirs["pairs"], f"ingest_batch={batch_id}")):
        pairs = read_store(
            spark,
            dirs["pairs"],
            "dropped_id bigint, kept_id bigint, kind string",
            only_batch=batch_id,
        ).select(F.col("dropped_id").alias("doc_a"), F.col("kept_id").alias("doc_b"))
        update_labels(spark, dirs["labels"], pairs)
    timer.mark("label_fold")


def start_curation_pipeline(
    docs_stream: DataFrame,
    base_dir: str,
    eval_grams: DataFrame | None = None,
    bloom_bits: bytes | None = None,
    text_col: str = "text",
    bucket_cap: int = BAND_BUCKET_CAP,
) -> StreamingQuery:
    """Run the full curation chain over a (doc_id, text) stream.

    ``eval_grams`` (a one-column frame of benchmark grams) is compiled
    once to the Bloom bitset at wiring time — the eval side is O(1) in
    corpus size; pass ``bloom_bits`` instead to reuse a prebuilt
    bitset, or neither to skip decontamination. Outputs land under
    ``base_dir`` (see curation_dirs): surviving docs, the signature
    store, the provenance pairs log, and the maintained cluster-label
    store mapping every dropped doc to its kept canonical.
    """
    if eval_grams is not None and bloom_bits is not None:
        raise ValueError("pass eval_grams OR bloom_bits, not both")
    bits = build_bloom_bits(eval_grams) if eval_grams is not None else bloom_bits
    dirs = curation_dirs(base_dir)
    return start_foreach_batch(
        docs_stream,
        dirs["checkpoint"],
        lambda df, bid, run_id: curate_batch(
            df, bid, dirs, bits, text_col, bucket_cap, run_id=run_id
        ),
    )


def read_survivors(spark: SparkSession, base_dir: str) -> DataFrame:
    """All docs admitted by the pipeline so far."""
    dirs = curation_dirs(base_dir)
    if not fs_exists(spark, dirs["survivors"]):
        return spark.createDataFrame([], "doc_id bigint, text string")
    return spark.read.parquet(dirs["survivors"])


def resolve_canonical(spark: SparkSession, base_dir: str, docs: DataFrame) -> DataFrame:
    """Attach ``canonical_id`` (the kept representative) to any frame
    of doc_ids, via the pipeline's maintained label store: each
    component resolves to its smallest SURVIVING doc id (the label
    store's canonical is the component's smallest id, which may be a
    dropped doc); docs with no label are their own canonical."""
    labels = read_labels(spark, curation_dirs(base_dir)["labels"])
    kept = (
        labels.join(read_survivors(spark, base_dir).select("doc_id"), "doc_id")
        .groupBy("canonical_id")
        .agg(F.min("doc_id").alias("survivor"))
    )
    resolved = labels.join(kept, "canonical_id").select(
        "doc_id", F.col("survivor").alias("canonical_id")
    )
    return canonicalize(docs, resolved)
