"""The dedup store's shorts path digests a NULL text as the empty text,
so an at-least-once re-delivery of a NULL-text doc is dropped like any
other re-delivered short doc (``md5(NULL)`` is NULL and never matched
a stored digest, so the doc was re-admitted on every delivery)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from api_weather_kafka_clickhouse_spark.streaming import dedup_ingest

pytestmark = pytest.mark.slow


def test_redelivered_null_text_doc_is_dropped(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "survivors")
    batch = spark.createDataFrame([(1, None), (2, "hello world")], "doc_id long, text string")
    dedup_ingest.dedup_ingest_batch(batch, 0, store, out)
    dedup_ingest.dedup_ingest_batch(batch, 1, store, out)

    survivors = spark.read.parquet(out)
    kept = {(r.ingest_batch, r.doc_id) for r in survivors.select("ingest_batch", "doc_id").collect()}
    assert kept == {(0, 1), (0, 2)}, "the first delivery is admitted, the re-delivery dropped"
    assert survivors.filter(F.col("doc_id") == 1).first().text is None
