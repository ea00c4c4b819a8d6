"""Bounded LSH candidate-pair generation, shared by the incremental
ingest modules (``dedup_ingest`` minhash bands, ``embedding_ingest``
SRP bands, ``er_ingest`` block keys), and the one verified near-dup
pair search over it (``near_dup_pairs``): candidates propose, an
exact predicate on the re-attached values decides.

Why a bound exists: a band bucket of n members proposes O(n²)
candidate pairs. Normal buckets are tiny (that is the point of LSH),
but a degenerate hot bucket — a viral boilerplate block shared by a
large fraction of a backfill batch, sub-threshold pairwise so nothing
gets deduped away — turns the candidate join quadratic. The batch
operators in operators/dedup.py avoid this with a corpus-wide
hot-shingle document-frequency cut; the streaming path deliberately
signs with ``cap=None`` (a micro-batch cannot estimate corpus DF, and
batch-dependent signatures silently miss near-dups — the round-5
review finding), so the bound has to live where the blowup happens:
the bucket join itself.

The guard, per (band_idx, band_key) bucket:

- **within a batch**: buckets of ≤ cap members propose all pairs
  (unchanged semantics); larger buckets propose HUB pairs only — every
  member against the bucket's smallest id, O(n) pairs. Keep-lowest
  admission makes the hub the member that would survive all-pairs
  anyway for a family of mutual near-dups; what hub pairing can miss
  is a near-dup pair inside a hot bucket where NEITHER member matches
  the hub — acceptable, because members of one bucket already agree on
  a full band of minhash rows, and a true near-dup pair (sim ≥ 0.8)
  collides in ~6-7 of 16 bands in expectation, so it gets an all-pairs
  chance in every bucket of sane size it shares.
- **against the store**: only buckets the batch actually touches are
  fetched (a semi-join against the batch's distinct band keys — also a
  plain perf win: the store is streamed, never shuffled whole), and
  each fetched bucket contributes its cap smallest stored ids. A new
  doc therefore meets ≤ bands × cap stored candidates, and a stored
  near-dup twin is missed only if it ranks outside the cap smallest in
  EVERY shared bucket — the degenerate-hot-bucket case the guard
  exists for, where all-pairs would be quadratic anyway.

Both sides are deterministic (min / row_number over unique ids) and
replay-stable: a replayed batch sees the same store content
(``read_store(exclude_batch=...)``) and recomputes identical pairs.

Determinism contract (round-16, r15 ADVICE): er_ingest's fold gate
re-folds a replayed batch's surviving pairs partition, which is only
idempotent because BOTH cap orderings here are total orders over
UNIQUE ids — ``within_batch_pairs`` selects hubs by ``min(id)`` per
bucket and ``vs_store_pairs`` ranks stored members by
``row_number() OVER (ORDER BY id)`` with ids unique per bucket (one
band row per (doc, band) by construction), so no tie exists for the
window to break arbitrarily. Changing either ordering to a non-unique
key would break that replay contract, not just this module.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BAND_BUCKET_CAP = 64


def within_batch_pairs(bands: DataFrame, id_col: str, cap: int = BAND_BUCKET_CAP) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from one batch's band
    table ``(id_col, band_idx, band_key)`` — all pairs for buckets of
    ≤ ``cap`` members, hub pairs (bucket-min vs member) above it."""
    bkt = Window.partitionBy("band_idx", "band_key")
    b = bands.withColumn("_sz", F.count(F.lit(1)).over(bkt)).withColumn(
        "_hub", F.min(id_col).over(bkt)
    )
    small = b.filter(F.col("_sz") <= cap)
    sa = small.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    sb = small.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    small_pairs = (
        sa.join(sb, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    hub_pairs = b.filter((F.col("_sz") > cap) & (F.col(id_col) != F.col("_hub"))).select(
        F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return small_pairs.unionByName(hub_pairs).distinct()


def vs_store_pairs(
    bands: DataFrame, stored_bands: DataFrame, id_col: str, cap: int = BAND_BUCKET_CAP
) -> DataFrame:
    """Distinct (new_id, old_id) candidates between a batch's band
    table and the persistent index: semi-join the store down to the
    buckets the batch touches, rank each bucket's stored members by
    id, and join the batch against the ``cap`` smallest per bucket."""
    keys = bands.select("band_idx", "band_key").distinct()
    # left_semi against the (small) batch key set: the store side is
    # filtered at scan/stream time, never shuffled in full — AQE picks
    # the broadcast side at runtime
    hit = stored_bands.join(keys, ["band_idx", "band_key"], "left_semi")
    rk = Window.partitionBy("band_idx", "band_key").orderBy(id_col)
    ranked = hit.withColumn("_rk", F.row_number().over(rk)).filter(F.col("_rk") <= cap)
    return (
        bands.select(F.col(id_col).alias("new_id"), "band_idx", "band_key")
        .join(
            ranked.select(F.col(id_col).alias("old_id"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .select("new_id", "old_id")
        .distinct()
    )


def near_dup_pairs(
    bands: DataFrame,
    stored_bands: DataFrame,
    values: DataFrame,
    stored_values: DataFrame,
    id_col: str,
    similar: Callable[[str, str], Column],
    cap: int = BAND_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """Verified near-dup pairs of a batch: ``(new_id, old_id)`` against
    the store and ``(id_a, id_b)`` within the batch (id_a < id_b).
    ``values``/``stored_values`` are ``(id_col, value)`` frames whose
    value re-attaches to the bounded candidates above; ``similar(a, b)``
    takes two value column names and decides. Both legs come back
    persisted — each feeds the dropped set AND the pairs log, which
    would otherwise run the candidate join + predicate twice — so the
    caller unpersists them."""

    def side(df: DataFrame, i: str, v: str) -> DataFrame:
        return df.select(F.col(id_col).alias(i), F.col(df.columns[1]).alias(v))

    vs_store = (
        vs_store_pairs(bands, stored_bands, id_col, cap)
        .join(side(values, "new_id", "_v_new"), "new_id")
        .join(side(stored_values, "old_id", "_v_old"), "old_id")
        .filter(similar("_v_new", "_v_old"))
        .select("new_id", "old_id")
        .persist()
    )
    in_batch = (
        within_batch_pairs(bands, id_col, cap)
        .join(side(values, "id_a", "_v_a"), "id_a")
        .join(side(values, "id_b", "_v_b"), "id_b")
        .filter(similar("_v_a", "_v_b"))
        .select("id_a", "id_b")
        .persist()
    )
    return vs_store, in_batch
