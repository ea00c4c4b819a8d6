"""Incremental corpus ingestion with near-dup dedup — the streaming
composition of the §2-D operators: every incoming micro-batch of
documents is checked against a persistent MinHash signature index
before admission, so the corpus stays near-dup-free as it grows
(the shape a production training-data pipeline actually runs; the
batch operators in operators/dedup.py are its full-corpus twins).

Store layout (all plain parquet, Hive-partitioned by the ingest
batch id so replayed micro-batches overwrite their own partition —
the same idempotent-foreachBatch pattern as sources/sink.py):

- ``<store>/bands``: (doc_id, band_idx, band_key) — 16 rows per
  admitted shingleable doc. The ONLY thing a new batch joins
  against: a band-key equi-join, selective by construction, never a
  scan-all-pairs.
- ``<store>/sigs``: (doc_id, sig: array<bigint>[64]) — one row per
  admitted shingleable doc, fetched only for band-join candidates to
  estimate similarity.
- ``<store>/shorts``: (doc_id, text_md5) — docs too short to shingle
  (< 3 tokens) can't carry a MinHash signature; they are deduped
  EXACTLY by content hash instead (near-dup on a 2-token doc is
  meaningless, but an unindexed doc would be re-admitted on every
  at-least-once re-delivery — the invariant leak this table closes).

Dedup rule per new doc (deterministic):
- duplicate doc_ids within a batch collapse first (keep the
  lexicographically-smallest text, NULL first — store.collapse_ids;
  producer-retry rows would otherwise both pass the anti-join, and
  same-id-different-text rows would merge shingle sets into a
  signature matching neither);
- a shingleable doc is dropped if a band match against the STORE has
  estimated Jaccard >= threshold (fraction of agreeing minhash
  components — the standard unbiased estimator; at 64 permutations
  the estimate's std dev at the 0.8 threshold is ~0.05), or if a
  band match against a SMALLER-id doc of the same batch estimates >=
  threshold (keep-lowest within the batch, one hop — the transitive
  closure over history is what the running store provides);
- a short doc is dropped if its md5 is already stored, or a
  smaller-id doc of the same batch shares it. A NULL text is digested
  as the empty text, so a re-delivered NULL-text doc is dropped too
  (``md5(NULL)`` is NULL and would never match a stored digest).

Candidate generation is BOUNDED per band bucket (lsh_candidates):
signatures are signed with ``cap=None`` for batch-independence, so
the hot-bucket quadratic guard lives at the bucket join — all pairs
for buckets of ≤ BAND_BUCKET_CAP members, hub/rank-capped above it.

Replay correctness: a batch EXCLUDES its own store partitions from
every dedup decision, so a partial first attempt can never
self-match; re-running a batch id recomputes the same admission and
overwrites its own partitions.

At 100 TB: the per-batch cost is O(batch shingles) signature math +
one band equi-join against the index + a candidate-only sig fetch;
the full corpus is never rescanned. Banding comes from
operators.dedup.minhash_bands — the same code, not a copy, so the
streaming index and the batch operators cannot drift. The
one-partition-per-batch store wants periodic compaction at a
quiescent point (SCALE.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    N_PERM,
    _shingles_exploded,
    minhash_bands,
    minhash_signatures,
)
from .lsh_candidates import BAND_BUCKET_CAP, near_dup_pairs
from .store import (
    StageTimer,
    append_partition,
    collapse_ids,
    compact_tables,
    folded_upto,
    open_scheme_store,
    read_store,
    start_foreach_batch,
)

SIG_SIM_THRESHOLD = 0.8

# Identifies every parameter that makes stored signatures comparable
# to new ones; bump whenever signing changes incompatibly (see
# store.open_scheme_store). "nocap" records the
# batch-independent signing fix — a store of capped signatures must
# fail loud, not silently miss near-dups across the boundary.
SIG_SCHEME = "minhash64-bands16x4-shingle3-nocap"

_SIG_SCHEMA = "doc_id bigint, sig array<bigint>"
_BAND_SCHEMA = "doc_id bigint, band_idx int, band_key int"
_SHORT_SCHEMA = "doc_id bigint, text_md5 string"


def _estimated_sim(a: str, b: str):
    """Fraction of agreeing minhash components between two sig arrays
    — codegen higher-order expression, evaluated on the (small)
    candidate pair set only, never the corpus."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    ) / F.lit(N_PERM)


# store plumbing shared with streaming/embedding_ingest.py — see
# streaming/store.py for the layout and replay contract
_read_store = read_store


def dedup_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    survivors_dir: str,
    bucket_cap: int = BAND_BUCKET_CAP,
    pairs_dir: str | None = None,
    run_id: str | None = None,
    stage_times: dict[str, float] | None = None,
) -> None:
    """foreachBatch body: admit the batch's non-near-dup docs, index
    their signatures. Separated from the query wiring so tests (and a
    batch backfill) can drive it directly. ``run_id`` (the streaming
    query id, passed by start_dedup_ingest) rejects a recreated
    checkpoint over a kept store BEFORE any partition write — without
    it restarted batch ids would silently overwrite the old run's
    early partitions (see store.RUN_FILE).

    ``pairs_dir`` (optional): also log one (dropped_id, kept_id, kind)
    row per dedup decision — the provenance a training pipeline needs
    ("which kept doc shadows mine") and the incremental edge feed for
    ``operators.dedup.merge_components`` cluster maintenance. kept_id
    is the doc the drop decision compared against; it may itself have
    been dropped by another rule in the same batch (a chain), so
    consumers wanting a canonical representative should close the
    pairs transitively (merge_components does). Replay-idempotent via
    the same per-batch partition overwrite as every other output.

    ``stage_times`` (optional, bench instrumentation): accumulates
    wall seconds per materialization boundary —
    ``sign_join_survivors`` (everything up to and including the
    survivors write: the upstream gates, signing, candidate joins and
    similarity filters all EXECUTE here because the plan is lazy and
    fused — that fusion is the design, so finer splits would change
    the benched path), ``index_write`` (re-read of written survivors
    + the three signature-store appends), ``pairs_write`` (the
    provenance log append). Keys += across batches.
    """
    from pyspark.sql import Window

    spark = batch.sparkSession
    open_scheme_store(spark, store_dir, SIG_SCHEME, ("sigs", "bands", "shorts"), run_id)
    if batch_id <= folded_upto(spark, store_dir, "sigs"):
        return  # replay of a folded batch: the fold holds its admissions

    # collapse duplicate doc_ids before anything else (see module
    # docstring): min(struct) keeps the smallest text, NULL first
    docs = collapse_ids(batch, "doc_id", "text").persist()
    try:
        # cap=None: the hot-shingle document-frequency cut is a
        # CORPUS-level statistic; computed per micro-batch it would
        # make the stored signature of a text depend on what else
        # happened to arrive in its batch (a boilerplate shingle
        # crossing the cap in a big backfill batch but not in a small
        # later one), so identical text gets different signatures and
        # near-dups against the store are silently missed below the
        # threshold (round-5 review finding). Streaming signatures
        # must be context-free; the batch twins keep the cap because
        # there the DF estimate really is corpus-wide.
        sig = minhash_signatures(_shingles_exploded(docs, cap=None)).persist()
        try:
            bands = minhash_bands(sig)
            stored_bands = _read_store(
                spark, os.path.join(store_dir, "bands"), _BAND_SCHEMA, exclude_batch=batch_id
            )
            stored_sigs = _read_store(
                spark, os.path.join(store_dir, "sigs"), _SIG_SCHEMA, exclude_batch=batch_id
            )
            stored_shorts = _read_store(
                spark, os.path.join(store_dir, "shorts"), _SHORT_SCHEMA, exclude_batch=batch_id
            )

            # bounded bucket joins (see lsh_candidates — cap=None
            # signing moved the hot-bucket quadratic guard from the
            # shingle cut to the join), then the similarity estimate
            # on the candidates' fetched sigs; within the batch the
            # lowest id is kept
            pairs_vs_store, pairs_in_batch = near_dup_pairs(
                bands,
                stored_bands,
                sig.select("doc_id", "sig"),
                stored_sigs,
                "doc_id",
                lambda a, b: _estimated_sim(a, b) >= SIG_SIM_THRESHOLD,
                cap=bucket_cap,
            )
            dropped_vs_store = pairs_vs_store.select(F.col("new_id").alias("doc_id"))
            dropped_in_batch = pairs_in_batch.select(F.col("id_b").alias("doc_id"))

            # docs too short to shingle: exact md5 dedup vs the shorts
            # store and within the batch (keep-lowest id per digest)
            shorts = (
                docs.join(sig.select("doc_id"), "doc_id", "left_anti")
                .select("doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("text_md5"))
                .persist()
            )
            try:
                short_pairs_vs_store = shorts.join(
                    stored_shorts.select(
                        F.col("doc_id").alias("old_id"), F.col("text_md5").alias("old_md5")
                    ),
                    shorts["text_md5"] == F.col("old_md5"),
                ).select("doc_id", "old_id")
                dropped_short_vs_store = short_pairs_vs_store.select("doc_id").distinct()
                sw = Window.partitionBy("text_md5").orderBy("doc_id")
                short_pairs_in_batch = (
                    shorts.select(
                        "doc_id",
                        F.row_number().over(sw).alias("_rn"),
                        F.min("doc_id").over(Window.partitionBy("text_md5")).alias("kept"),
                    )
                    .filter(F.col("_rn") > 1)
                    .select("doc_id", "kept")
                )
                dropped_short_in_batch = short_pairs_in_batch.select("doc_id")

                dropped = (
                    dropped_vs_store.unionByName(dropped_in_batch)
                    .unionByName(dropped_short_vs_store)
                    .unionByName(dropped_short_in_batch)
                    .distinct()
                    .select(F.col("doc_id").alias("dropped_id"))
                )
                # the dropped set derives FROM docs: a bare
                # join(..., "doc_id", "left_anti") would be a self-join
                # whose two doc_id sides carry the same attribute id —
                # the condition degenerates and drops everything. Join
                # on an explicitly renamed right side.
                survivors = docs.join(
                    dropped, docs["doc_id"] == dropped["dropped_id"], "left_anti"
                )

                def _append(df: DataFrame, path: str) -> None:
                    append_partition(df, path, batch_id)

                # ORDER MATTERS: the survivors plan reads the store
                # (via `dropped`), and the store writes below mutate
                # it — an evaluation of `survivors` after those writes
                # would see each admitted doc's OWN fresh index entry,
                # self-match at sim 1.0, and drop everything. Write
                # the survivors first (the one evaluation, against the
                # pre-batch store), then index from a RE-READ of the
                # written files: their lineage is a file scan, immune
                # to both the store mutation and cache eviction.
                timer = StageTimer(stage_times)
                _append(survivors, survivors_dir)
                timer.mark("sign_join_survivors")
                # only THIS batch's partition: a re-delivered doc_id
                # surviving in an older partition must not cause the
                # current (dropped) copy to be re-indexed
                written = _read_store(
                    spark,
                    survivors_dir,
                    "doc_id bigint, text string",
                    only_batch=batch_id,
                ).select("doc_id")
                surviving_sigs = sig.join(written, "doc_id", "left_semi")
                _append(surviving_sigs.select("doc_id", "sig"), os.path.join(store_dir, "sigs"))
                _append(minhash_bands(surviving_sigs), os.path.join(store_dir, "bands"))
                _append(
                    shorts.join(written, "doc_id", "left_semi"),
                    os.path.join(store_dir, "shorts"),
                )
                timer.mark("index_write")
                if pairs_dir is not None:
                    # safe to evaluate AFTER the store writes: every
                    # stored_* read excludes this batch's partitions,
                    # and docs/sig/shorts are still persisted here
                    def _p(df, a, b, kind):
                        return df.select(
                            F.col(a).alias("dropped_id"),
                            F.col(b).alias("kept_id"),
                            F.lit(kind).alias("kind"),
                        )

                    pairs = (
                        _p(pairs_vs_store, "new_id", "old_id", "neardup_store")
                        .unionByName(_p(pairs_in_batch, "id_b", "id_a", "neardup_batch"))
                        .unionByName(_p(short_pairs_vs_store, "doc_id", "old_id", "short_store"))
                        .unionByName(_p(short_pairs_in_batch, "doc_id", "kept", "short_batch"))
                        .distinct()
                    )
                    _append(pairs, pairs_dir)
                    timer.mark("pairs_write")
            finally:
                pairs_vs_store.unpersist()
                pairs_in_batch.unpersist()
                shorts.unpersist()
        finally:
            sig.unpersist()
    finally:
        docs.unpersist()


def start_dedup_ingest(
    docs_stream: DataFrame,
    store_dir: str,
    survivors_dir: str,
    checkpoint: str,
    bucket_cap: int = BAND_BUCKET_CAP,
    pairs_dir: str | None = None,
) -> StreamingQuery:
    """Wire the incremental dedup into a streaming query. The
    checkpoint + per-batch_id dynamic partition overwrite makes a
    replayed micro-batch rewrite its own store/survivor partitions
    instead of double-admitting (effectively-exactly-once for the
    deterministic batch body, same as sources/sink.write_fact_batch)."""
    return start_foreach_batch(
        docs_stream,
        checkpoint,
        lambda df, bid, run_id: dedup_ingest_batch(
            df, bid, store_dir, survivors_dir, bucket_cap, pairs_dir, run_id=run_id
        ),
    )


def compact_store(spark: SparkSession, store_dir: str) -> int:
    """Fold every store table's one-partition-per-batch history into a
    single ``ingest_batch=-1`` partition; returns how many tables were
    rewritten. A long-running deployment accumulates one (tiny)
    partition dir per micro-batch — directory listings, not data
    size, eventually dominate the per-batch store read.

    Quiescence, replay-after-compaction safety, and the crash-safe
    rename-aside → rename-in → delete-aside swap (with entry-time
    recovery of dangling state) are documented on
    ``store.compact_tables`` — this is that machinery applied to the
    three dedup-index tables.
    """
    return compact_tables(
        spark,
        store_dir,
        (
            ("sigs", _SIG_SCHEMA),
            ("bands", _BAND_SCHEMA),
            ("shorts", _SHORT_SCHEMA),
        ),
    )
