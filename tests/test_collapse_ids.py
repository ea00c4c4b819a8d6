"""Duplicate-id collapse (store.collapse_ids) through every ingest store
that admits by id: producer-retry copies of an id with differing
payloads collapse to the smallest payload tuple, NULL fields first,
in the dedup, embedding, segment and ER stores alike."""

from __future__ import annotations

import pytest

from api_weather_kafka_clickhouse_spark.streaming import (
    dedup_ingest,
    embedding_ingest,
    er_ingest,
    segment_ingest,
)

pytestmark = pytest.mark.slow

_DOCS = "doc_id bigint, text string"
_TEXT = [(1, "zeta eta theta iota"), (1, None), (1, "alpha beta gamma delta"),
         (2, "omega psi chi phi"), (2, "kappa lambda mu nu")]


def _rows(spark, path):
    return spark.read.parquet(path).collect()


# store -> (input schema, rows, ingest(df, base), kept payload per id, expected)
_STORES = {
    "dedup": (
        _DOCS,
        _TEXT,
        lambda df, base: dedup_ingest.dedup_ingest_batch(df, 0, f"{base}/s", f"{base}/o"),
        lambda spark, base: {r.doc_id: r.text for r in _rows(spark, f"{base}/o")},
        {1: None, 2: "kappa lambda mu nu"},
    ),
    "segment": (
        _DOCS,
        _TEXT,
        lambda df, base: segment_ingest.segment_ingest_batch(
            df, 0, f"{base}/s", f"{base}/o", seg_tokens=2
        ),
        # a NULL text has no segments, so its id writes no output row
        lambda spark, base: {r.doc_id: r.text_clean for r in _rows(spark, f"{base}/o")},
        {2: "kappa lambda mu nu"},
    ),
    "embedding": (
        "vec_id bigint, vec array<double>",
        [(1, [0.5] * 64), (1, None), (1, [0.25] * 64),
         (2, [0.75, 0.0] * 32), (2, [0.125, 1.0] * 32)],
        lambda df, base: embedding_ingest.embedding_ingest_batch(df, 0, f"{base}/s", f"{base}/o"),
        lambda spark, base: {r.vec_id: r.vec for r in _rows(spark, f"{base}/o")},
        {1: None, 2: [0.125, 1.0] * 32},
    ),
    "er": (
        "rec_id bigint, name string, nation bigint, bal_cents bigint",
        [(1, "zed", 5, 100), (1, None, 5, 100), (1, "amy", 5, 100),
         (2, "bob", 7, 300), (2, "bob", 3, 900)],
        lambda df, base: er_ingest.er_ingest_batch(
            df, 0, f"{base}/s", f"{base}/p", f"{base}/l"
        ),
        lambda spark, base: {
            r.rec_id: (r.name, r.nation, r.bal_cents) for r in _rows(spark, f"{base}/s/attrs")
        },
        {1: (None, 5, 100), 2: ("bob", 3, 900)},
    ),
}


@pytest.mark.parametrize("store", list(_STORES))
def test_duplicate_id_keeps_smallest_payload_null_first(spark, tmp_path, store):
    schema, rows, ingest, kept, expected = _STORES[store]
    base = str(tmp_path / store)
    ingest(spark.createDataFrame(rows, schema), base)
    assert kept(spark, base) == expected
