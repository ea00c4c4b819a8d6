"""The curation pipeline's resolved canonical is a surviving doc: the
label store's canonical is a component's smallest doc id, which is a
dropped doc whenever the kept doc has the larger id."""

from __future__ import annotations

import pytest

from api_weather_kafka_clickhouse_spark.streaming import curation
from api_weather_kafka_clickhouse_spark.streaming.cluster_store import read_labels

pytestmark = pytest.mark.slow

CLEAN = " ".join(f"alpha{i % 7} beta gamma the of wordy" for i in range(10))


def test_resolve_canonical_is_the_smallest_survivor(spark, tmp_path):
    base = str(tmp_path / "cur")
    dirs = curation.curation_dirs(base)
    # doc 5 is kept first; doc 3, a later near-dup, is dropped
    for bid, rows in enumerate([[(5, CLEAN)], [(3, CLEAN + " indeed")]]):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        curation.curate_batch(batch, bid, dirs, None)
    assert {r.doc_id for r in curation.read_survivors(spark, base).collect()} == {5}
    # the label store keeps merge_components' smallest-id canonical...
    labels = {r.doc_id: r.canonical_id for r in read_labels(spark, dirs["labels"]).collect()}
    assert labels == {3: 3, 5: 3}
    # ...and resolution maps the component to its survivor; an
    # unlabeled doc stays itself
    docs = spark.createDataFrame([(3,), (5,), (9,)], "doc_id bigint")
    resolved = curation.resolve_canonical(spark, base, docs)
    assert {r.doc_id: r.canonical_id for r in resolved.collect()} == {3: 5, 5: 5, 9: 9}
