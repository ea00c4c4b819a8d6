"""Incremental entity resolution — the streaming twin of the
``er_funnel`` batch pipeline (operators/relational3.py): every
incoming micro-batch of records is blocked against a persistent
block-key index, verified with the true Damerau-Levenshtein matcher,
and the resulting match pairs are folded into the persistent cluster
label store — so entity structure is a MAINTAINED artifact as the
customer lake grows, never a full re-resolution job.

Unlike dedup ingest (which DROPS near-dup documents), ER ingest
admits every record and LINKS matches: the store keeps all source
records, and the label store maps each record to its entity's
canonical id, from which golden records materialize on demand
(``resolve_golden`` — er_survivorship_golden's rule set over the
maintained state).

Store layout (plain parquet, Hive-partitioned by ingest batch id so a
replayed micro-batch overwrites its own partition — the idempotent
foreachBatch pattern shared with dedup_ingest / sources/sink.py):

- ``<store>/blocks``: (rec_id, band_idx, band_key) — ONE blocking key
  per admitted record (band_idx fixed 0), shaped exactly like the LSH
  band tables so the bounded candidate join is
  ``streaming/lsh_candidates.py`` — the same code, not a copy: hot
  blocks degrade to hub/rank-capped pairs instead of quadratic.
- ``<store>/attrs``: (rec_id, name, nation, bal_cents) — the
  attributes the verify stage and survivorship rules need.

Blocking key: nation || '|' || the name's first ER_BLOCK_PREFIX
chars. Blocking trades recall for cost by construction (a true match
differing inside the prefix lands in another block and is missed) —
the documented ER tradeoff every production MDM runs; the batch-side
er_funnel, which sees the whole corpus, uses sort-adjacency instead.

Match rule per candidate pair (deterministic, the er_funnel verify):
same nation, balances within SNM_BAL_CENTS in exact cents, true
Damerau-Levenshtein distance between names <= ER_FUNNEL_DL_MAX
(Arrow-batched UDF, priced per CANDIDATE only).

Replay correctness: candidate reads exclude the batch's own store
partitions (``read_store(exclude_batch=...)``), so a partial first
attempt never self-matches; re-running a batch id recomputes the same
links and overwrites its own partitions. The label fold
(cluster_store.update_labels) is idempotent by construction —
re-merging the same pairs contracts to the same labeling.

At 100 TB: per-batch cost is one block-key equi-join against the
semi-joined (streamed, never fully shuffled) index, DL on candidates
only, and a label contraction over O(new pairs); the record lake is
never rescanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.relational3 import (
    ER_BLOCK_PREFIX,
    ER_FUNNEL_DL_MAX,
    SNM_BAL_CENTS,
    SNM_WINDOW,
    dl_pandas_udf,
)
from .cluster_store import read_labels, update_labels
from .lsh_candidates import BAND_BUCKET_CAP, vs_store_pairs, within_batch_pairs
from .store import (
    COMPACTED_BATCH_ID,
    StageTimer,
    append_partition,
    collapse_ids,
    fs_exists,
    open_scheme_store,
    read_store,
    start_foreach_batch,
)

# Name chars riding the block key beside nation (ER_BLOCK_PREFIX,
# imported above — owned by operators/relational3.py so the batch
# er_reconcile diff runs the SAME blocker). Operating point measured
# on the fixture: at sf0.1 prefix 14 leaves only 50 blocks of ~300
# records (222k candidate pairs — blocking in name only); 16 gives
# ~3.7k blocks of ~4 and 2.7k candidates. Production tunes this per
# name distribution exactly like LSH band width.
ER_SCHEME = (
    f"erblock-nation-name{ER_BLOCK_PREFIX}-dl{ER_FUNNEL_DL_MAX}-bal{SNM_BAL_CENTS}"
)

_BLOCK_SCHEMA = "rec_id bigint, band_idx int, band_key string"
_ATTR_SCHEMA = "rec_id bigint, name string, nation bigint, bal_cents bigint"


# the shared lazy Damerau-Levenshtein UDF builder (ONE definition for
# batch and streaming verify sites — round-14 review consolidation)
_dl_udf = dl_pandas_udf


def _block_key() -> F.Column:
    return F.concat(
        F.col("nation").cast("string"),
        F.lit("|"),
        F.col("name").substr(1, ER_BLOCK_PREFIX),
    )


def _verified(
    pairs: DataFrame,
    attrs_a: DataFrame,
    attrs_b: DataFrame,
    left: str,
    right: str,
) -> DataFrame:
    """Attach each side's attributes from ITS OWN frame (batch side vs
    store side — a union could fan pairs out when a rec_id exists in
    both) and apply the er_funnel verify: same nation, close balance
    (exact cents), true DL on names."""
    a = attrs_a.select(
        F.col("rec_id").alias(left),
        F.col("name").alias("_name_a"),
        F.col("nation").alias("_nat_a"),
        F.col("bal_cents").alias("_bal_a"),
    )
    b = attrs_b.select(
        F.col("rec_id").alias(right),
        F.col("name").alias("_name_b"),
        F.col("nation").alias("_nat_b"),
        F.col("bal_cents").alias("_bal_b"),
    )
    return (
        pairs.join(a, left)
        .join(b, right)
        .filter(
            (F.col("_nat_a") == F.col("_nat_b"))
            & (F.abs(F.col("_bal_a") - F.col("_bal_b")) < SNM_BAL_CENTS)
            & (_dl_udf()("_name_a", "_name_b") <= ER_FUNNEL_DL_MAX)
        )
        .select(left, right)
    )


def _latest_attrs(spark, store_dir: str, exclude_batch: int | None = None) -> DataFrame:
    """Stored attributes, ONE row per rec_id — the latest batch wins.
    A re-sent rec_id (an attribute update) appends a new partition
    row; every consumer (the verify stage, resolve_golden) must see
    only the current version or n_sources inflates and stale values
    can win survivorship (round-13 review finding). Ties are
    impossible: dynamic partition overwrite keeps one row per
    (rec_id, batch).

    Shape (round-15, guide §2.3 "aggregate before you shuffle"): a
    ``max_by``-style argmax aggregate, not a row_number window — the
    hash aggregate pre-reduces each map partition to one row per
    rec_id before the exchange, where the window shuffled and sorted
    EVERY stored version. Tie-safety is the same one-row-per-
    (rec_id, batch) invariant the window relied on."""
    raw = read_store(
        spark,
        os.path.join(store_dir, "attrs"),
        _ATTR_SCHEMA + ", ingest_batch bigint",
        exclude_batch=exclude_batch,
    )
    return (
        raw.groupBy("rec_id")
        .agg(
            F.max(
                F.struct("ingest_batch", "name", "nation", "bal_cents")
            ).alias("_l")
        )
        .select(
            "rec_id",
            F.col("_l.name").alias("name"),
            F.col("_l.nation").alias("nation"),
            F.col("_l.bal_cents").alias("bal_cents"),
        )
    )


def er_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    pairs_dir: str,
    labels_dir: str,
    bucket_cap: int = BAND_BUCKET_CAP,
    run_id: str | None = None,
    stage_times: dict[str, float] | None = None,
) -> None:
    """foreachBatch body: link the batch's records against the store
    and within the batch, append the record/block partitions, log the
    match pairs, fold them into the label store. ``batch`` schema:
    (rec_id bigint, name string, nation bigint, bal_cents bigint).

    ``stage_times`` (bench instrumentation) accumulates wall seconds:
    ``block_verify_pairs`` (candidate joins + DL verify, materialized
    by the pairs write), ``index_write`` (blocks/attrs appends),
    ``labels_update`` (the cluster-store contraction + swap)."""

    spark = batch.sparkSession
    open_scheme_store(spark, store_dir, ER_SCHEME, ("blocks", "attrs"), run_id)

    # collapse duplicate rec_ids (producer retries): keep the
    # smallest (name, nation, bal) tuple
    recs = collapse_ids(
        batch.select(
            "rec_id",
            "name",
            F.col("nation").cast("bigint").alias("nation"),
            F.col("bal_cents").cast("bigint").alias("bal_cents"),
        ),
        "rec_id",
        "name",
        "nation",
        "bal_cents",
    ).persist()
    try:
        blocks = recs.select(
            "rec_id",
            F.lit(0).cast("int").alias("band_idx"),
            _block_key().alias("band_key"),
        )
        stored_blocks = read_store(
            spark,
            os.path.join(store_dir, "blocks"),
            _BLOCK_SCHEMA,
            exclude_batch=batch_id,
        )
        batch_attrs = recs.select("rec_id", "name", "nation", "bal_cents")
        # store-side attrs with the BATCH version winning for any
        # rec_id present in both (round-14 ADVICE): when an attribute
        # update for X and a potential match Y arrive in the SAME
        # micro-batch, the store-vs-batch candidate (Y, X_stored) must
        # be verified against X's CURRENT attributes — ER links are
        # irreversible monotone merges, so a pair the current version
        # would reject must never link via the stale stored copy. The
        # coalesce (anti-join + union) beats a plain anti-join: X's
        # stored BLOCK rows keep generating candidates (its old block
        # key may differ from the new one), but every verify sees the
        # batch's values.
        # persisted for the batch (round-15, measured −2 s/backfill):
        # the unioned verify below references stored_attrs on BOTH
        # join sides, so unpersisted the latest-attrs aggregate (and
        # the anti-join+union coalesce) evaluated twice per batch.
        # The frame is record-dimension (id + name + two longs — the
        # verify's working set either way), MEMORY_AND_DISK spills
        # gracefully, and the finally below releases it before the
        # batch returns.
        stored_attrs = (
            _latest_attrs(spark, store_dir, exclude_batch=batch_id)
            .join(batch_attrs.select("rec_id"), "rec_id", "left_anti")
            .unionByName(batch_attrs)
        ).persist()

        # candidates: the bounded bucket joins shared with LSH ingest.
        # new_id != old_id matters HERE though it never did for dedup
        # ingest: a re-sent rec_id (an attribute update — a normal MDM
        # stream event) still has its earlier copy in the store, and a
        # (5, 5) self-candidate would pass the verify trivially and
        # poison the pairs log (round-13 review finding).
        cand_store = vs_store_pairs(blocks, stored_blocks, "rec_id", cap=bucket_cap).filter(
            F.col("new_id") != F.col("old_id")
        )
        cand_batch = within_batch_pairs(blocks, "rec_id", cap=bucket_cap)
        # ONE verify pass over the unioned candidate set (round-15):
        # stored_attrs already coalesces to batch-wins for every
        # rec_id in the batch (the anti-join + union above), so it is
        # the correct attribute source for BOTH candidate legs —
        # doc_a is always a batch rec_id (present via the union arm)
        # and doc_b is either stored (kept by the anti-join) or
        # batch-updated (batch arm wins). Verifying the union once
        # halves the attr joins and DL-verify subplans per batch vs
        # the per-leg _verified calls this replaces; values are
        # identical because batch_attrs is a SUBSET of stored_attrs
        # row-for-row on batch rec_ids.
        cand = cand_store.select(
            F.col("new_id").alias("doc_a"), F.col("old_id").alias("doc_b")
        ).unionByName(
            cand_batch.select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            )
        )
        matches = (
            _verified(cand, stored_attrs, stored_attrs, "doc_a", "doc_b")
            .distinct()
            .persist()
        )
        try:
            timer = StageTimer(stage_times)
            # the pairs write is the one evaluation of the candidate +
            # verify plan (reads exclude this batch's partitions, so
            # write order vs the index appends below is not load-
            # bearing — kept first anyway so the expensive plan runs
            # against the persisted inputs while they are hot)
            append_partition(matches, pairs_dir, batch_id)
            timer.mark("block_verify_pairs")
            append_partition(blocks, os.path.join(store_dir, "blocks"), batch_id)
            append_partition(batch_attrs, os.path.join(store_dir, "attrs"), batch_id)
            timer.mark("index_write")
            # a no-match batch (the steady state) skips the O(labels)
            # crash-safe table swap entirely. Whether the batch wrote
            # pairs is read off the partition listing (dynamic
            # overwrite writes no ingest_batch=N dir for an empty
            # frame) — one driver-side FS stat, replacing the
            # limit(1).count() probe job this was (round-15; the
            # curation chain's label_fold already used this shape).
            # A replayed batch sees its first attempt's partition,
            # but the batch body is deterministic, so the re-fold is
            # the same idempotent merge either way.
            if fs_exists(spark, os.path.join(pairs_dir, f"ingest_batch={batch_id}")):
                # fold from a RE-READ of the written pairs partition:
                # its lineage is a file scan, so the label swap can
                # never re-execute the candidate plan against a
                # mutated store
                written = read_store(
                    spark, pairs_dir, "doc_a bigint, doc_b bigint", only_batch=batch_id
                ).select("doc_a", "doc_b")
                update_labels(spark, labels_dir, written)
            timer.mark("labels_update")
        finally:
            matches.unpersist()
            stored_attrs.unpersist()
    finally:
        recs.unpersist()


def resolve_golden(
    spark, store_dir: str, labels_dir: str
) -> DataFrame:
    """Materialize golden records from the maintained state: every
    stored record resolves to its canonical id (records never linked
    are their own canonical — label-store miss means singleton), then
    er_survivorship_golden's deterministic rule set collapses each
    entity: min key canonical, longest name (lexicographic tiebreak),
    best balance, modal nation (min tiebreak). Cost: one label join +
    two entity-keyed aggregates — never a re-resolution."""
    attrs = _latest_attrs(spark, store_dir)
    labels = read_labels(spark, labels_dir).withColumnsRenamed(
        {"doc_id": "rec_id", "canonical_id": "entity_id"}
    )
    src = attrs.join(labels, "rec_id", "left").select(
        F.coalesce(F.col("entity_id"), F.col("rec_id")).alias("entity_id"),
        "rec_id",
        "name",
        "nation",
        "bal_cents",
    )
    agg = src.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.min("rec_id").cast("bigint").alias("canonical_key"),
        F.min(F.struct((-F.length("name")).alias("a"), F.col("name").alias("b")))
        .getField("b")
        .alias("golden_name"),
        F.max("bal_cents").cast("bigint").alias("best_bal_cents"),
    )
    nmode = (
        src.groupBy("entity_id", "nation")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("entity_id")
        .agg(
            F.min(F.struct((-F.col("cnt")).alias("a"), F.col("nation").alias("b")))
            .getField("b")
            .cast("bigint")
            .alias("modal_nation")
        )
    )
    return agg.join(nmode, "entity_id")


def reconcile_store(
    spark,
    store_dir: str,
    pairs_dir: str,
    labels_dir: str,
    reconcile_batch_id: int,
    window: int = SNM_WINDOW,
) -> dict[str, int]:
    """Scheduled batch reconciliation of the maintained label store —
    the OPERATIONAL twin of the ``er_reconcile`` report query
    (operators/relational3.py): the streaming blocker's documented
    recall miss (an edit inside the block prefix re-blocks the record,
    so the ingest path can never pair it with its pre-edit neighbors)
    is repaired by running a SORT-ADJACENCY sweep over the store's
    current attribute versions and folding any new links into the
    label store. Links are only ever ADDED (monotone repair —
    merge_components drops edges already inside one component during
    contraction), so re-running reconciliation is idempotent and a
    reconcile pass can never undo an ingest-time link.

    The sweep is the er_funnel SNM shape over ``_latest_attrs``:
    partition by nation (the store has no segment column; nation
    already rides every verify), ONE window's worth of leads
    (``SNM_WINDOW``, shared with the batch funnel so the two can
    never run different operating points) in sort order (name,
    rec_id), the shared verify (balance in exact cents + true
    Damerau-Levenshtein). Matched pairs are logged to the pairs
    store under ``reconcile_batch_id`` with the same
    dynamic-partition-overwrite idempotence as ingest batches.
    ``reconcile_batch_id`` MUST be <= -2 (enforced: streaming ingest
    batch ids are always >= 0, so negatives can never collide with
    the stream, and -1 is ``store.COMPACTED_BATCH_ID`` — a sweep
    under the compaction sentinel would overwrite the compacted
    pairs history and read it back mixed into the sweep, round-15
    ADVICE fix) and MUST be unique per SCHEDULED run — e.g.
    ``-(epoch_seconds)`` — because a reused id overwrites the
    earlier sweep's pairs partition: the labels keep the old merges
    (monotone) but the pairs log would no longer record the edges
    justifying them, breaking audit/rebuild-from-log (round-14
    review). Replaying a CRASHED run with its own id is the intended
    idempotent case.

    Returns ``{"swept_pairs": ..., "new_links": ...}`` where
    new_links counts pairs whose endpoints were in DIFFERENT
    components before the fold (the reconciler's actual repairs).

    At 100 TB: one scan of the attrs store (records, not the source
    lake), one nation-partitioned sort window, DL per candidate
    (window-1 per record), and a contraction over O(new links) — the
    weekly batch job beside the always-on ingest."""
    if reconcile_batch_id >= COMPACTED_BATCH_ID:
        raise ValueError(
            f"reconcile_batch_id must be < COMPACTED_BATCH_ID ({COMPACTED_BATCH_ID}), "
            "unique per scheduled run, e.g. -(epoch seconds): ids >= 0 collide with "
            "streaming ingest partitions, and -1 is the compaction sentinel, whose "
            f"partition holds the compacted pairs history; got {reconcile_batch_id}"
        )
    attrs = _latest_attrs(spark, store_dir)
    w = Window.partitionBy("nation").orderBy("name", "rec_id")
    lead_cols = []
    for k in range(1, window):
        lead_cols += [
            F.lead("rec_id", k).over(w).alias(f"nbr_id_{k}"),
            F.lead("name", k).over(w).alias(f"nbr_name_{k}"),
            F.lead("bal_cents", k).over(w).alias(f"nbr_bal_{k}"),
        ]
    leaded = attrs.select("rec_id", "name", "bal_cents", *lead_cols)
    nbrs = F.array(
        *[
            F.struct(
                F.col(f"nbr_id_{k}").alias("doc_b"),
                F.col(f"nbr_name_{k}").alias("name_b"),
                F.col(f"nbr_bal_{k}").alias("bal_b"),
            )
            for k in range(1, window)
        ]
    )
    cand = leaded.select(
        F.col("rec_id").alias("doc_a"),
        F.col("name").alias("name_a"),
        F.col("bal_cents").alias("bal_a"),
        F.explode(nbrs).alias("nbr"),
    ).filter(
        F.col("nbr.doc_b").isNotNull()
        & (F.abs(F.col("bal_a") - F.col("nbr.bal_b")) < SNM_BAL_CENTS)
    )
    matches = (
        cand.filter(_dl_udf()("name_a", F.col("nbr.name_b")) <= ER_FUNNEL_DL_MAX)
        .select("doc_a", F.col("nbr.doc_b").alias("doc_b"))
        .distinct()
    )
    append_partition(matches, pairs_dir, reconcile_batch_id)
    written = read_store(
        spark, pairs_dir, "doc_a bigint, doc_b bigint", only_batch=reconcile_batch_id
    ).select("doc_a", "doc_b")
    # count repairs BEFORE folding: pairs whose endpoints resolve to
    # different canonicals under the current labeling (the fold's
    # contraction drops the rest as already-linked)
    labels = read_labels(spark, labels_dir)
    la = labels.withColumnsRenamed({"doc_id": "doc_a", "canonical_id": "can_a"})
    lb = labels.withColumnsRenamed({"doc_id": "doc_b", "canonical_id": "can_b"})
    resolved = (
        written.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("can_a", F.col("doc_a")).alias("ra"),
            F.coalesce("can_b", F.col("doc_b")).alias("rb"),
        )
    )
    counts = resolved.agg(
        F.count(F.lit(1)).cast("bigint").alias("swept"),
        F.coalesce(
            F.sum((F.col("ra") != F.col("rb")).cast("bigint")), F.lit(0)
        ).alias("repairs"),
    ).collect()[0]
    if counts["repairs"] > 0:
        update_labels(spark, labels_dir, written)
    return {"swept_pairs": int(counts["swept"]), "new_links": int(counts["repairs"])}


def start_er_ingest(
    records_stream: DataFrame,
    store_dir: str,
    pairs_dir: str,
    labels_dir: str,
    checkpoint: str,
    bucket_cap: int = BAND_BUCKET_CAP,
) -> StreamingQuery:
    """Wire incremental ER into a streaming query: checkpoint +
    per-batch_id dynamic partition overwrite + the idempotent label
    fold give effectively-exactly-once linkage for the deterministic
    batch body (the dedup-ingest replay contract)."""
    return start_foreach_batch(
        records_stream,
        checkpoint,
        lambda df, bid, run_id: er_ingest_batch(
            df, bid, store_dir, pairs_dir, labels_dir, bucket_cap, run_id=run_id
        ),
    )
