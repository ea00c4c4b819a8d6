"""Incremental rollup (streaming materialized view): merged partials
must equal a direct aggregation of the fact table, and a replayed
batch must not double-count (dynamic overwrite by batch_id)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from api_weather_kafka_clickhouse_spark.streaming import pipeline, rollup
from api_weather_kafka_clickhouse_spark.streaming import store as store_mod
from tests.test_ingest_flatten import FULL_PAYLOAD, SPARSE_PAYLOAD


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "batch0.json").write_text(
        "\n".join([json.dumps(FULL_PAYLOAD), json.dumps(SPARSE_PAYLOAD)])
    )
    return d


def _collect_map(df):
    return {
        (r.event_date, r.city_name): (r.n_obs, r.t_min, r.t_max, round(r.t_avg, 6))
        for r in df.collect()
    }


def test_rollup_matches_direct_aggregation(spark, stream_dir, tmp_path):
    wh, rp = str(tmp_path / "wh"), str(tmp_path / "rollup")
    # run the fact pipeline and the rollup off the same input
    q = pipeline.start_pipeline(
        pipeline.read_stream_json_files(spark, str(stream_dir)), wh, str(tmp_path / "ck1")
    )
    q.awaitTermination(120)
    q = rollup.start_rollup(
        pipeline.transform(pipeline.read_stream_json_files(spark, str(stream_dir))),
        rp,
        str(tmp_path / "ck2"),
    )
    q.awaitTermination(120)

    direct = (
        spark.read.parquet(wh)
        .groupBy("event_date", "city_name")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.min("temperature").alias("t_min"),
            F.max("temperature").alias("t_max"),
            (
                F.sum(F.col("temperature").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("t_avg"),
        )
    )
    assert _collect_map(rollup.read_rollup(spark, rp)) == _collect_map(direct)


def test_rollup_compaction_preserves_answers(spark, stream_dir, tmp_path):
    rp, ck = str(tmp_path / "rollup"), str(tmp_path / "ck")
    q = rollup.start_rollup(
        pipeline.transform(pipeline.read_stream_json_files(spark, str(stream_dir))), rp, ck
    )
    q.awaitTermination(120)
    (stream_dir / "batch1.json").write_text(
        json.dumps(dict(FULL_PAYLOAD, name="Third City"))
    )
    q = rollup.start_rollup(
        pipeline.transform(pipeline.read_stream_json_files(spark, str(stream_dir))), rp, ck
    )
    q.awaitTermination(120)

    before = _collect_map(rollup.read_rollup(spark, rp))
    rollup.compact_rollup(spark, rp, ck)
    after = _collect_map(rollup.read_rollup(spark, rp))
    assert after == before
    # all committed batches folded into the single compacted partition
    batch_ids = {
        r.batch_id for r in spark.read.parquet(rp).select("batch_id").distinct().collect()
    }
    assert batch_ids == {-1}
    # replay after compaction must not double-count: rerun with the
    # same checkpoint (no new data) and re-read
    q = rollup.start_rollup(
        pipeline.transform(pipeline.read_stream_json_files(spark, str(stream_dir))), rp, ck
    )
    q.awaitTermination(120)
    assert _collect_map(rollup.read_rollup(spark, rp)) == before


def test_rollup_replay_is_idempotent(spark, stream_dir, tmp_path):
    """Re-running with the same checkpoint must not duplicate partials
    (each batch overwrites its own batch_id partition); new files
    produce NEW batch ids that merge in."""
    rp, ck = str(tmp_path / "rollup"), str(tmp_path / "ck")

    def run():
        q = rollup.start_rollup(
            pipeline.transform(pipeline.read_stream_json_files(spark, str(stream_dir))),
            rp,
            ck,
        )
        q.awaitTermination(120)

    run()
    first = _collect_map(rollup.read_rollup(spark, rp))
    run()  # replay, no new data -> unchanged
    assert _collect_map(rollup.read_rollup(spark, rp)) == first

    extra = dict(FULL_PAYLOAD, name="Third City")
    (stream_dir / "batch1.json").write_text(json.dumps(extra))
    run()  # new file -> new batch id merges in
    merged = _collect_map(rollup.read_rollup(spark, rp))
    assert len(merged) == len(first) + 1
    assert any(k[1] == "Third City" for k in merged)


def _run_rollup(spark, stream_dir, rp, ck):
    q = rollup.start_rollup(
        pipeline.transform(pipeline.read_stream_json_files(spark, str(stream_dir))), rp, ck
    )
    q.awaitTermination(120)


def test_compact_rollup_recovers_interrupted_swap(spark, stream_dir, tmp_path):
    """A crash mid-swap leaves the live table moved aside to
    __compact_old and a complete, marked __compact_tmp not yet renamed
    in. The next compact_rollup must finish the swap and converge with
    the answers unchanged."""
    rp, ck = str(tmp_path / "rollup"), str(tmp_path / "ck")
    _run_rollup(spark, stream_dir, rp, ck)
    before = _collect_map(rollup.read_rollup(spark, rp))

    tmp, aside = rp + "__compact_tmp", rp + "__compact_old"
    shutil.copytree(rp, tmp)
    open(os.path.join(tmp, store_mod.COMPACT_MARKER), "w").close()
    os.rename(rp, aside)

    rollup.compact_rollup(spark, rp, ck)
    assert not os.path.exists(tmp) and not os.path.exists(aside)
    assert not os.path.exists(os.path.join(rp, store_mod.COMPACT_MARKER))
    assert _collect_map(rollup.read_rollup(spark, rp)) == before
    batch_ids = {
        r.batch_id for r in spark.read.parquet(rp).select("batch_id").distinct().collect()
    }
    assert batch_ids == {-1}


def test_compact_rollup_refuses_nonatomic_rename_fs(spark, stream_dir, tmp_path, monkeypatch):
    """On an object-store scheme compact_rollup must raise BEFORE
    touching the rollup directory, like compact_tables."""
    rp, ck = str(tmp_path / "rollup"), str(tmp_path / "ck")
    _run_rollup(spark, stream_dir, rp, ck)
    before = sorted(os.listdir(tmp_path)), sorted(os.listdir(rp))

    monkeypatch.setattr(store_mod, "_fs_scheme", lambda fs, path: "s3a")
    with pytest.raises(RuntimeError, match="non-atomic"):
        rollup.compact_rollup(spark, rp, ck)
    assert (sorted(os.listdir(tmp_path)), sorted(os.listdir(rp))) == before


def test_rollup_recreated_checkpoint_over_kept_rollup_refuses(spark, stream_dir, tmp_path):
    """A recreated checkpoint restarts batch ids at 0; its batch 0
    would dynamically overwrite the kept rollup's batch_id=0 partials.
    The rollup's stream-run marker, carried through compaction's
    directory swap, makes that query fail before writing, and the
    stored partials stay as they were."""
    from pyspark.errors import StreamingQueryException

    rp, ck = str(tmp_path / "rollup"), str(tmp_path / "ck")
    _run_rollup(spark, stream_dir, rp, ck)
    (stream_dir / "batch1.json").write_text(json.dumps(dict(FULL_PAYLOAD, name="Third City")))
    _run_rollup(spark, stream_dir, rp, ck)
    rollup.compact_rollup(spark, rp, ck)
    (stream_dir / "batch2.json").write_text(json.dumps(dict(FULL_PAYLOAD, name="Fourth City")))
    _run_rollup(spark, stream_dir, rp, ck)
    before = sorted(map(tuple, spark.read.parquet(rp).collect()))

    shutil.rmtree(ck)
    other = tmp_path / "other_in"
    other.mkdir()
    (other / "b.json").write_text(json.dumps(dict(FULL_PAYLOAD, name="Intruder City")))
    q = rollup.start_rollup(
        pipeline.transform(pipeline.read_stream_json_files(spark, str(other))), rp, ck
    )
    with pytest.raises(StreamingQueryException, match="stream run"):
        q.awaitTermination(120)
    assert sorted(map(tuple, spark.read.parquet(rp).collect())) == before
