"""Bounded LSH candidate generation (streaming/lsh_candidates.py).

The streaming ingest paths sign with ``cap=None`` (batch-independent
signatures), so the hot-bucket quadratic guard lives at the bucket
join: these tests pin the pair-count bound, the unchanged small-bucket
semantics, and that a hot family of true duplicates still collapses
end-to-end through dedup_ingest.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from api_weather_kafka_clickhouse_spark.streaming import dedup_ingest
from api_weather_kafka_clickhouse_spark.streaming.lsh_candidates import (
    near_dup_pairs,
    vs_store_pairs,
    within_batch_pairs,
)


def _bands(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, band_idx int, band_key int")


def test_small_buckets_propose_all_pairs(spark):
    b = _bands(spark, [(1, 0, 7), (2, 0, 7), (3, 0, 7), (9, 1, 5)])
    got = {tuple(r) for r in within_batch_pairs(b, "doc_id", cap=3).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_hot_bucket_proposes_hub_pairs_only(spark):
    """A bucket over the cap degrades to O(n) hub pairs (min id vs
    each member) instead of O(n²) all-pairs."""
    n = 10
    b = _bands(spark, [(i, 0, 7) for i in range(1, n + 1)])
    got = {tuple(r) for r in within_batch_pairs(b, "doc_id", cap=4).collect()}
    assert got == {(1, i) for i in range(2, n + 1)}


def test_pair_count_is_linear_not_quadratic_above_cap(spark):
    n = 200
    b = _bands(spark, [(i, 0, 1) for i in range(n)])
    assert within_batch_pairs(b, "doc_id", cap=32).count() == n - 1


def test_mixed_buckets_union_and_dedup(spark):
    """A pair sharing a small AND a hot bucket appears once; the small
    bucket keeps all-pairs while the hot one contributes hub pairs."""
    rows = [(1, 0, 7), (2, 0, 7)] + [(i, 1, 3) for i in (1, 2, 3, 4, 5)]
    got = {tuple(r) for r in within_batch_pairs(_bands(spark, rows), "doc_id", cap=3).collect()}
    assert got == {(1, 2), (1, 3), (1, 4), (1, 5)}


def test_vs_store_caps_stored_side_per_bucket(spark):
    """Only the cap smallest stored ids of each touched bucket are
    proposed, and untouched store buckets are never fetched."""
    new = _bands(spark, [(100, 0, 7), (101, 2, 9)])
    stored = _bands(spark, [(i, 0, 7) for i in range(1, 6)] + [(50, 1, 1)])
    got = {tuple(r) for r in vs_store_pairs(new, stored, "doc_id", cap=2).collect()}
    assert got == {(100, 1), (100, 2)}


def test_vs_store_bound_per_new_doc(spark):
    """A new doc meets at most bands x cap stored candidates even when
    the store bucket is huge."""
    new = _bands(spark, [(1000, 0, 7), (1000, 1, 8)])
    stored = _bands(
        spark,
        [(i, 0, 7) for i in range(100)] + [(i, 1, 8) for i in range(100, 200)],
    )
    assert vs_store_pairs(new, stored, "doc_id", cap=5).count() == 10



def test_near_dup_pairs_store_and_batch_legs_predicate_decides(spark):
    """The one verified-pair search: candidates re-attach each side's
    value from its OWN frame, the predicate decides, batch pairs come
    out id_a < id_b, and both legs are returned persisted."""
    new = _bands(spark, [(10, 0, 7), (11, 1, 3), (12, 1, 3), (12, 2, 4), (10, 2, 4)])
    stored = _bands(spark, [(1, 0, 7), (2, 0, 7), (3, 1, 9)])
    values = spark.createDataFrame([(10, 100), (11, 300), (12, 301)], "doc_id bigint, v bigint")
    stored_values = spark.createDataFrame([(1, 101), (2, 500), (3, 300)], "doc_id bigint, w bigint")
    vs_store, in_batch = near_dup_pairs(
        new,
        stored,
        values,
        stored_values,
        "doc_id",
        lambda a, b: F.abs(F.col(a) - F.col(b)) <= 1,
        cap=8,
    )
    try:
        assert vs_store.columns == ["new_id", "old_id"]
        assert in_batch.columns == ["id_a", "id_b"]
        # (10, 2) is a candidate the predicate rejects; stored 3 shares
        # no bucket with 11 although their values match
        assert {tuple(r) for r in vs_store.collect()} == {(10, 1)}
        # (10, 12) is a candidate the predicate rejects
        assert {tuple(r) for r in in_batch.collect()} == {(11, 12)}
        assert vs_store.is_cached and in_batch.is_cached
    finally:
        vs_store.unpersist()
        in_batch.unpersist()

def test_hot_duplicate_family_still_collapses_end_to_end(spark, tmp_path):
    """Ingesting a family of identical docs larger than the bucket cap
    still admits exactly one copy: every member band-matches the hub
    (identical signatures), est sim 1.0, keep-lowest."""
    store = str(tmp_path / "store")
    surv = str(tmp_path / "surv")
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, text) for i in range(1, 9)] + [(99, "a completely different document about spark engines at scale")],
        "doc_id bigint, text string",
    )
    dedup_ingest.dedup_ingest_batch(docs, 0, store, surv, bucket_cap=3)
    got = sorted(
        r.doc_id
        for r in dedup_ingest._read_store(spark, surv, "doc_id bigint, text string").collect()
    )
    assert got == [1, 99]


def test_bucket_cap_admission_is_replay_stable(spark, tmp_path):
    """Replaying a batch under the hub guard recomputes the identical
    survivor set (pairs are deterministic functions of batch + store)."""
    store = str(tmp_path / "store")
    surv = str(tmp_path / "surv")
    text = "shared viral boilerplate block appearing in every single doc"
    docs = spark.createDataFrame(
        [(i, text + f" tail {i % 2}") for i in range(1, 8)],
        "doc_id bigint, text string",
    )
    dedup_ingest.dedup_ingest_batch(docs, 0, store, surv, bucket_cap=2)
    first = sorted(
        r.doc_id
        for r in dedup_ingest._read_store(spark, surv, "doc_id bigint, text string").collect()
    )
    dedup_ingest.dedup_ingest_batch(docs, 0, store, surv, bucket_cap=2)
    second = sorted(
        r.doc_id
        for r in dedup_ingest._read_store(spark, surv, "doc_id bigint, text string").collect()
    )
    assert first == second
