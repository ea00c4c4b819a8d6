"""The weather rollup is a store-layer table: its fold is
``store.fold_batches`` bounded by the checkpoint's last committed
batch, and a rollup or warehouse whose stream has seen only corrupt
messages reads (and folds) as empty instead of raising."""

from __future__ import annotations

import json
import os

import pytest

from api_weather_kafka_clickhouse_spark import app
from api_weather_kafka_clickhouse_spark.sources import sink
from api_weather_kafka_clickhouse_spark.sources.schemas import FACT_COLUMNS
from api_weather_kafka_clickhouse_spark.streaming import pipeline, rollup
from api_weather_kafka_clickhouse_spark.streaming import store as store_mod
from tests.test_ingest_flatten import CORRUPT_LINE, FULL_PAYLOAD, SPARSE_PAYLOAD

pytestmark = pytest.mark.slow


def _run_rollup(spark, in_dir, rp, ck):
    q = rollup.start_rollup(
        pipeline.transform(pipeline.read_stream_json_files(spark, str(in_dir))), rp, ck
    )
    q.awaitTermination(120)


def _answers(spark, rp):
    return sorted(map(tuple, rollup.read_rollup(spark, rp).collect()))


def _batch_ids(spark, rp):
    return {r.batch_id for r in spark.read.parquet(rp).select("batch_id").distinct().collect()}


def _data_files(rp, part):
    return {n for n in os.listdir(os.path.join(rp, part)) if n.endswith(".parquet")}


def _fold_record(rp):
    with open(os.path.join(rp, store_mod.FOLD_RECORD)) as f:
        return f.read().strip()


def test_fold_keeps_an_uncommitted_batch_and_its_replay_overwrites_it(spark, tmp_path):
    """A crash between the sink and the commit of batch 1 (its commit
    file deleted) leaves batch 1 written but uncommitted: the fold takes
    batch 0 only, and the restarted stream's replay of batch 1
    overwrites its kept partition without double-counting."""
    in_dir, rp, ck = tmp_path / "in", str(tmp_path / "rollup"), str(tmp_path / "ck")
    in_dir.mkdir()
    (in_dir / "a.json").write_text("\n".join([json.dumps(FULL_PAYLOAD), json.dumps(SPARSE_PAYLOAD)]))
    _run_rollup(spark, in_dir, rp, ck)
    (in_dir / "b.json").write_text(json.dumps(dict(FULL_PAYLOAD, name="Third City")))
    _run_rollup(spark, in_dir, rp, ck)
    before = _answers(spark, rp)
    assert _batch_ids(spark, rp) == {0, 1}

    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ck, "commits", name))
    rollup.compact_rollup(spark, rp, ck)
    assert _batch_ids(spark, rp) == {-1, 1}
    assert _answers(spark, rp) == before
    kept = _data_files(rp, "batch_id=1")

    _run_rollup(spark, in_dir, rp, ck)  # replays batch 1
    assert os.path.exists(os.path.join(ck, "commits", "1"))
    assert _batch_ids(spark, rp) == {-1, 1}
    assert _data_files(rp, "batch_id=1").isdisjoint(kept), "the replay rewrote the partition"
    assert _answers(spark, rp) == before


def test_all_corrupt_rollup_reads_and_folds_as_empty(spark, tmp_path):
    in_dir, rp, ck = tmp_path / "in", str(tmp_path / "rollup"), str(tmp_path / "ck")
    in_dir.mkdir()
    (in_dir / "a.json").write_text("\n".join([CORRUPT_LINE, CORRUPT_LINE]))
    _run_rollup(spark, in_dir, rp, ck)

    out = rollup.read_rollup(spark, rp)
    assert out.columns == ["event_date", "city_name", "n_obs", "t_min", "t_max", "t_avg"]
    assert out.count() == 0
    rollup.compact_rollup(spark, rp, ck)
    assert rollup.read_rollup(spark, rp).count() == 0
    assert _fold_record(rp) == "0"  # the committed batch id

    # the folded empty rollup keeps serving its stream
    (in_dir / "b.json").write_text(json.dumps(FULL_PAYLOAD))
    _run_rollup(spark, in_dir, rp, ck)
    assert [r.n_obs for r in rollup.read_rollup(spark, rp).collect()] == [1]


def test_all_corrupt_warehouse_reads_as_empty(spark, tmp_path):
    in_dir, wh = tmp_path / "in", str(tmp_path / "wh")
    in_dir.mkdir()
    (in_dir / "a.json").write_text("\n".join([CORRUPT_LINE, CORRUPT_LINE]))
    q = pipeline.start_pipeline(
        pipeline.read_stream_json_files(spark, str(in_dir)), wh, str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    fact = sink.read_fact(spark, wh)
    assert fact.columns == FACT_COLUMNS + [sink.MONTH_COL]
    assert dict(fact.dtypes)[sink.MONTH_COL] == "int"
    assert fact.count() == 0
    assert sink.read_fact_between(spark, wh, "2023-01-01", "2024-12-31").count() == 0
    assert app.warehouse_summary(spark, wh).count() == 0

    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        sink.read_fact(spark, str(tmp_path / "absent"))
