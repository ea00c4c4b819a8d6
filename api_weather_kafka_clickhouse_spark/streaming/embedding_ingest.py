"""Incremental embedding ingestion with near-dup dedup — the vector
twin of ``dedup_ingest``: every incoming micro-batch of embeddings is
checked against a persistent SRP-LSH band index before admission, so
the vector corpus stays near-dup-free as it grows. Together the two
modules cover both modalities a training-data pipeline ingests
incrementally (text via MinHash/Jaccard, embeddings via
hyperplane-LSH/cosine); the batch operators
``operators.dedup.dedup_embedding_cosine`` / ``dedup_embedding_lsh``
are the full-corpus twins.

Store layout (parquet, Hive-partitioned by ingest batch id — the
replay-idempotent contract of ``streaming/store.py``):

- ``<store>/bands``: (vec_id, band_idx, band_key) — LSH_BANDS rows
  per admitted vector. The ONLY thing a new batch joins against: a
  band-key equi-join, never a scan-all-pairs.
- ``<store>/vecs``: (vec_id, vec: array<double>) — fetched only for
  band-join candidates, to compute the EXACT cosine (LSH proposes,
  cosine decides — admission never depends on the probabilistic
  part alone).

Dedup rule per new vector (deterministic):
- duplicate vec_ids within a batch collapse first (keep the
  lexicographically-smallest vec, NULL first — store.collapse_ids,
  the rule of every ingest store);
- a vector is dropped if a band-match candidate from the STORE has
  exact cosine >= threshold, or a band-matched SMALLER-id vector of
  the same batch does (keep-lowest within the batch, one hop — the
  transitive closure over history is what the running store
  provides);
- an all-zero vector has no cosine (null) and is never dropped by
  similarity — exact-duplicate ids still collapse;
- a NULL vector, or one whose length is not the plane dimension
  (VEC_DIM, 64), gets no band keys: it is admitted unindexed and
  never dropped by similarity, the all-zero rule. Banding it would
  raise, and a replay would raise again, so one such row would wedge
  the stream.

Replay correctness: a batch EXCLUDES its own store partitions from
every decision (see store.read_store), so a partial first attempt
can never self-match; re-running a batch id recomputes the same
admission and overwrites its own partitions.

At 100 TB: per-batch cost is one Arrow/numpy matmul over the batch
(band keys), one band equi-join against the index, and exact cosine
on the (small) candidate set only — the full corpus is never
rescanned, and the candidate join shuffles (id, band) ints, not
vectors; vectors re-attach to candidates only. Banding comes from
operators.similarity._band_keys — shared code, so the streaming
index and the batch/query operators cannot drift. The fixed
hyperplane set assumes the corpus embedding dim (64); like
sim_ann_lsh, other dims need their own plane matrix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.vectors import dot, norm
from ..operators.similarity import _band_keys
from .lsh_candidates import BAND_BUCKET_CAP, near_dup_pairs
from .store import (
    append_partition,
    collapse_ids,
    compact_tables,
    folded_upto,
    open_scheme_store,
    read_store,
    start_foreach_batch,
)

# Scheme record for open_scheme_store — band keys from a FIXED
# 16-hyperplane SRP set over 64-dim vectors, exact-cosine admission;
# a store written under different planes/dims must fail loud.
VEC_SCHEME = "srp-planes16-dim64-cosine"
VEC_DIM = 64


def _safe_cosine(a, b):
    """Cosine that yields NULL (not an ANSI DIVIDE_BY_ZERO error) for
    zero-norm vectors — an all-zero embedding in one poisonous row
    must not kill the whole micro-batch; NULL >= threshold is false,
    so such rows are simply never similarity-dropped."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))

EMB_SIM_THRESHOLD = 0.98

_VEC_SCHEMA = "vec_id bigint, vec array<double>"
_BAND_SCHEMA = "vec_id bigint, band_idx int, band_key int"


def _bands_of(vecs: DataFrame) -> DataFrame:
    """(vec_id, band_idx, band_key) for a (vec_id, vec) frame — one
    vectorized matmul pass, ids+ints out (no vector payload). Only
    vectors of the plane dimension are banded: the matmul raises on a
    NULL or other-length vector (see the module docstring's rule)."""
    return vecs.filter(F.size("vec") == VEC_DIM).select(
        "vec_id", F.posexplode(_band_keys(F.col("vec"))).alias("band_idx", "band_key")
    )


def embedding_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    survivors_dir: str,
    threshold: float = EMB_SIM_THRESHOLD,
    bucket_cap: int = BAND_BUCKET_CAP,
    pairs_dir: str | None = None,
    run_id: str | None = None,
) -> None:
    """foreachBatch body: admit the batch's non-near-dup vectors,
    index their band keys. Separated from the query wiring so tests
    (and a batch backfill) can drive it directly. ``run_id`` rejects a
    recreated checkpoint over a kept store before any write (see
    store.RUN_FILE).

    ``batch`` needs columns (vec_id bigint, vec array<double>).
    """
    spark = batch.sparkSession
    open_scheme_store(spark, store_dir, VEC_SCHEME, ("vecs", "bands"), run_id)
    if batch_id <= folded_upto(spark, store_dir, "vecs"):
        return  # replay of a folded batch: the fold holds its admissions

    vecs = collapse_ids(batch, "vec_id", "vec").persist()
    try:
        stored_bands = read_store(
            spark, os.path.join(store_dir, "bands"), _BAND_SCHEMA, exclude_batch=batch_id
        )
        stored_vecs = read_store(
            spark, os.path.join(store_dir, "vecs"), _VEC_SCHEMA, exclude_batch=batch_id
        )
        bands = _bands_of(vecs).persist()
        # bounded bucket joins propose ids (see lsh_candidates for the
        # hot-bucket guard), exact cosine on the re-attached vectors
        # decides; within the batch the lowest id is kept
        pairs_vs_store, pairs_in_batch = near_dup_pairs(
            bands,
            stored_bands,
            vecs,
            stored_vecs,
            "vec_id",
            lambda a, b: _safe_cosine(F.col(a), F.col(b)) >= threshold,
            cap=bucket_cap,
        )
        try:
            dropped = (
                pairs_vs_store.select(F.col("new_id").alias("dropped_id"))
                .unionByName(pairs_in_batch.select(F.col("id_b").alias("dropped_id")))
                .distinct()
            )
            # renamed right side: a bare self-join on vec_id would
            # degenerate (same attribute id both sides) and drop
            # everything — same hazard as dedup_ingest's survivors join
            survivors = vecs.join(
                dropped, vecs["vec_id"] == dropped["dropped_id"], "left_anti"
            )

            # survivors FIRST (the one evaluation against the
            # pre-batch store), then index from a re-read of the
            # written files — lineage is a file scan, immune to the
            # store mutation below (see dedup_ingest for the full
            # ordering rationale)
            append_partition(survivors, survivors_dir, batch_id)
            written = read_store(
                spark, survivors_dir, _VEC_SCHEMA, only_batch=batch_id
            ).select("vec_id")
            surviving = vecs.join(written, "vec_id", "left_semi")
            append_partition(surviving, os.path.join(store_dir, "vecs"), batch_id)
            # survivor band keys are identical to the already-computed
            # (and persisted) batch band keys by determinism — semi-join
            # the cached frame instead of running the matmul UDF a
            # second time over (nearly) the same vectors (mirrors how
            # dedup_ingest reuses surviving_sigs rather than
            # re-shingling)
            append_partition(
                bands.join(written, "vec_id", "left_semi"),
                os.path.join(store_dir, "bands"),
                batch_id,
            )
            if pairs_dir is not None:
                # evaluation-order safe: stored_* reads exclude this
                # batch's partitions; vecs/bands are still persisted.
                # kept_id may itself be dropped within the batch (a
                # chain) — merge_components closes the transitivity,
                # same contract as dedup_ingest's pairs log.
                pairs = (
                    pairs_vs_store.select(
                        F.col("new_id").alias("dropped_id"),
                        F.col("old_id").alias("kept_id"),
                        F.lit("cos_store").alias("kind"),
                    )
                    .unionByName(
                        pairs_in_batch.select(
                            F.col("id_b").alias("dropped_id"),
                            F.col("id_a").alias("kept_id"),
                            F.lit("cos_batch").alias("kind"),
                        )
                    )
                    .distinct()
                )
                append_partition(pairs, pairs_dir, batch_id)
        finally:
            pairs_vs_store.unpersist()
            pairs_in_batch.unpersist()
            bands.unpersist()
    finally:
        vecs.unpersist()


def start_embedding_ingest(
    vecs_stream: DataFrame,
    store_dir: str,
    survivors_dir: str,
    checkpoint: str,
    threshold: float = EMB_SIM_THRESHOLD,
    bucket_cap: int = BAND_BUCKET_CAP,
    pairs_dir: str | None = None,
) -> StreamingQuery:
    """Wire the incremental embedding dedup into a streaming query —
    checkpoint + per-batch_id dynamic partition overwrite makes a
    replayed micro-batch rewrite its own partitions instead of
    double-admitting (same contract as start_dedup_ingest)."""
    return start_foreach_batch(
        vecs_stream,
        checkpoint,
        lambda df, bid, run_id: embedding_ingest_batch(
            df, bid, store_dir, survivors_dir, threshold, bucket_cap, pairs_dir, run_id=run_id
        ),
    )


def compact_store(spark: SparkSession, store_dir: str) -> int:
    """Crash-safe fold of the per-batch store partitions into one
    ``ingest_batch=-1`` partition — see ``store.compact_tables`` for
    the quiescence and recovery contract."""
    return compact_tables(
        spark,
        store_dir,
        (
            ("vecs", _VEC_SCHEMA),
            ("bands", _BAND_SCHEMA),
        ),
    )
