"""Replay after a fold: ``store.compact_tables`` records the highest
batch id each table's fold holds (``store.FOLD_RECORD``), and every
compacted store reads it through ``store.folded_upto``. The rollup,
agg-state and scd2 stores refuse a replay of a folded batch; the
dedup, embedding and segment stores treat it as a no-op; no store
body writes a marker on a steady-state micro-batch."""

from __future__ import annotations

import datetime
import os
import random

import pytest

from api_weather_kafka_clickhouse_spark.streaming import (
    agg_store,
    dedup_ingest,
    embedding_ingest,
    rollup_store,
    scd2_ingest,
    segment_ingest,
)
from api_weather_kafka_clickhouse_spark.streaming import store as store_mod

pytestmark = pytest.mark.slow

_EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _events(spark, rows):
    """(event_id, minute, user_id, value) rows, all one hour bucket
    and event type, so each store reads back as one row."""
    return spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1, 10, m), u, "view", v) for i, m, u, v in rows],
        _EV_SCHEMA,
    )


# module, ingest body, compaction, reader of the summing/state stores
_SUMMING = {
    "rollup": (
        rollup_store,
        rollup_store.rollup_ingest_batch,
        rollup_store.compact_rollup,
        rollup_store.read_rollup,
    ),
    "agg": (agg_store, agg_store.agg_state_batch, agg_store.compact_agg, agg_store.read_agg),
}


@pytest.mark.parametrize("kind", sorted(_SUMMING))
def test_replayed_empty_batch_is_accepted(spark, tmp_path, kind):
    """An empty batch writes no partition; a high-water marker read its
    replay as 'compacted away' and refused it with nothing folded."""
    _, ingest, _, read = _SUMMING[kind]
    store = str(tmp_path / kind)
    ingest(_events(spark, [(1, 5, 7, 2.0)]), 0, store)
    ingest(_events(spark, []), 1, store)
    ingest(_events(spark, []), 1, store)
    assert [(r.n, r.value_sum) for r in read(spark, store).collect()] == [(1, 2.0)]


@pytest.mark.parametrize("kind", sorted(_SUMMING))
def test_crash_after_append_then_compaction_refuses_replay(spark, tmp_path, monkeypatch, kind):
    """A crash between a batch's append and any later bookkeeping,
    then a compaction, then the replay: the fold holds the batch, so
    the replay must refuse instead of double-counting (n 3 -> 4,
    value_sum 7.0 -> 11.0)."""
    module, ingest, compact, read = _SUMMING[kind]
    store = str(tmp_path / kind)
    ingest(_events(spark, [(1, 5, 7, 2.0), (2, 6, 8, 1.0)]), 0, store)
    b1 = _events(spark, [(3, 7, 7, 4.0)])
    real_append = module.append_partition

    def append_then_crash(df, path, batch_id):
        real_append(df, path, batch_id)
        raise RuntimeError("driver died after the append")

    monkeypatch.setattr(module, "append_partition", append_then_crash)
    with pytest.raises(RuntimeError, match="driver died"):
        ingest(b1, 1, store)
    monkeypatch.undo()

    assert compact(spark, store) == 1
    with pytest.raises(RuntimeError, match="compacted away"):
        ingest(b1, 1, store)
    assert [(r.n, r.value_sum) for r in read(spark, store).collect()] == [(3, 7.0)]
    assert store_mod.folded_upto(spark, store, "parts") == 1


def _store_level_files(store):
    return {e.name: (e.inode(), e.stat().st_mtime_ns) for e in os.scandir(store) if e.is_file()}


@pytest.mark.parametrize("kind", sorted(_SUMMING))
def test_steady_state_batch_writes_no_store_level_file(spark, tmp_path, kind):
    """The scheme and run markers are written by a store's first batch;
    a later batch leaves every store-level file untouched."""
    _, ingest, _, _ = _SUMMING[kind]
    store = str(tmp_path / kind)
    ingest(_events(spark, [(1, 5, 7, 2.0)]), 0, store, run_id="run-a")
    before = _store_level_files(store)
    ingest(_events(spark, [(2, 6, 7, 3.0)]), 1, store, run_id="run-a")
    assert _store_level_files(store) == before


def test_legacy_high_water_store_still_refuses_folded_replay(spark, tmp_path):
    """A store compacted by older code has a store-level _MAX_BATCH and
    no fold record: the guard reads the marker, a folded batch still
    refuses, a live partition still replays, and the next fold carries
    the legacy mark into its record."""
    store = str(tmp_path / "legacy")
    b0 = _events(spark, [(1, 5, 7, 2.0)])
    rollup_store.rollup_ingest_batch(b0, 0, store)
    rollup_store.rollup_ingest_batch(_events(spark, [(2, 6, 7, 3.0)]), 1, store)
    assert rollup_store.compact_rollup(spark, store) == 1
    os.remove(os.path.join(store, "parts", store_mod.FOLD_RECORD))
    store_mod.write_small_text(spark, os.path.join(store, "_MAX_BATCH"), "1")
    assert store_mod.folded_upto(spark, store, "parts") == 1

    with pytest.raises(RuntimeError, match="compacted away"):
        rollup_store.rollup_ingest_batch(b0, 0, store)
    assert rollup_store.compact_rollup(spark, store) == 1
    assert store_mod.read_small_text(spark, os.path.join(store, "parts", store_mod.FOLD_RECORD)) == "1"
    assert [(r.n, r.value_sum) for r in rollup_store.read_rollup(spark, store).collect()] == [(2, 5.0)]


def test_scd2_replay_after_compaction_refuses(spark, tmp_path):
    """A replayed batch whose heads were folded would see its own
    events as already applied and quarantine them to ``late``."""
    store = str(tmp_path / "scd2")
    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def batch(rows):
        return spark.createDataFrame(
            [(i, u, t, datetime.datetime(2024, 1, 1, 10, m)) for i, u, t, m in rows], schema
        )

    scd2_ingest.scd2_ingest_batch(batch([(1, 7, "view", 1), (2, 8, "view", 2)]), 0, store)
    b1 = batch([(3, 7, "click", 3), (4, 8, "click", 4)])
    scd2_ingest.scd2_ingest_batch(b1, 1, store)
    before = {tuple(r) for r in scd2_ingest.read_intervals(spark, store).collect()}
    tables = (
        ("heads", scd2_ingest._HEAD_SCHEMA),
        ("closed", scd2_ingest._CLOSED_SCHEMA),
        ("late", scd2_ingest._LATE_SCHEMA),
    )
    assert store_mod.compact_tables(spark, store, tables) == 3

    with pytest.raises(RuntimeError, match="compacted away"):
        scd2_ingest.scd2_ingest_batch(b1, 1, store)
    late = store_mod.read_store(spark, os.path.join(store, "late"), scd2_ingest._LATE_SCHEMA)
    assert late.count() == 0
    assert {tuple(r) for r in scd2_ingest.read_intervals(spark, store).collect()} == before


_rng = random.Random(11)
_DOC_SCHEMA = "doc_id long, text string"
_TEXT_A = " ".join(f"alpha{i} beta gamma delta" for i in range(12))
_TEXT_B = " ".join(f"omega{i} psi chi phi" for i in range(12))
_SEG = " ".join(f"b{i}" for i in range(5))


def _vec():
    return [_rng.gauss(0.0, 1.0) for _ in range(64)]


# (ingest body over a base dir, compaction, input schema, batches 0 and 1)
_SET_STORES = {
    "dedup": (
        lambda df, bid, base: dedup_ingest.dedup_ingest_batch(
            df, bid, f"{base}/store", f"{base}/out", pairs_dir=f"{base}/pairs"
        ),
        dedup_ingest.compact_store,
        _DOC_SCHEMA,
        ([(1, _TEXT_A)], [(2, _TEXT_B)]),
    ),
    "embedding": (
        lambda df, bid, base: embedding_ingest.embedding_ingest_batch(
            df, bid, f"{base}/store", f"{base}/out", pairs_dir=f"{base}/pairs"
        ),
        embedding_ingest.compact_store,
        "vec_id long, vec array<double>",
        ([(1, _vec())], [(2, _vec())]),
    ),
    "segment": (
        lambda df, bid, base: segment_ingest.segment_ingest_batch(
            df, bid, f"{base}/store", f"{base}/out", seg_tokens=5
        ),
        segment_ingest.compact_store,
        _DOC_SCHEMA,
        ([(1, _SEG + " one tail")], [(2, _SEG + " " + _TEXT_B)]),
    ),
}


def _tables(spark, base):
    """Every batch-partitioned table under ``base`` -> its sorted rows."""
    out = {}
    for root, dirs, _ in os.walk(base):
        if any(d.startswith("ingest_batch=") for d in dirs):
            out[os.path.relpath(root, base)] = sorted(map(repr, spark.read.parquet(root).collect()))
            dirs.clear()
    return out


@pytest.mark.parametrize("kind", sorted(_SET_STORES))
def test_replay_of_a_folded_batch_is_a_no_op(spark, tmp_path, kind):
    """Replaying a folded batch against its own folded rows logged
    self-pairs and duplicated index rows (dedup, embedding) or
    replaced its cleaned text with "" (segment)."""
    ingest, compact, schema, batches = _SET_STORES[kind]
    base = str(tmp_path / kind)
    frames = [spark.createDataFrame(rows, schema) for rows in batches]
    for bid, df in enumerate(frames):
        ingest(df, bid, base)
    assert compact(spark, f"{base}/store") >= 1
    before = _tables(spark, base)
    assert "out" in before

    ingest(frames[1], 1, base)
    assert _tables(spark, base) == before
