"""Streaming-semantics tests (SURVEY.md §5.3): real Structured
Streaming queries driven to completion with availableNow/memory
sinks — micro-batch ingest, event-time windows, late data, stateful
dedup, restart-resume (at-least-once parity, §2-A20)."""

from __future__ import annotations

import json
import math
import shutil
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from api_weather_kafka_clickhouse_spark.sources.flatten import (
    flatten_weather_event_time,
    parse_raw,
)
from api_weather_kafka_clickhouse_spark.streaming import pipeline, windows
from tests.test_ingest_flatten import CORRUPT_LINE, FULL_PAYLOAD, SPARSE_PAYLOAD


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "batch0.json").write_text(
        "\n".join([json.dumps(FULL_PAYLOAD), json.dumps(SPARSE_PAYLOAD), CORRUPT_LINE])
    )
    return d


def test_pipeline_end_to_end(spark, stream_dir, tmp_path):
    msgs = pipeline.read_stream_json_files(spark, str(stream_dir))
    q = pipeline.start_pipeline(
        msgs, str(tmp_path / "warehouse"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "warehouse"))
    assert out.count() == 2  # corrupt line dropped
    assert "event_month" in out.columns  # partition column materialized
    cities = {r.city_name for r in out.select("city_name").collect()}
    assert cities == {"Fixture City", "Sparse City"}


def test_pipeline_restart_is_idempotent(spark, stream_dir, tmp_path):
    """Restarting with the same checkpoint must not duplicate rows
    (checkpoint replaces the reference's manual commit, A20)."""
    wh, ck = str(tmp_path / "warehouse"), str(tmp_path / "ckpt")
    for _ in range(2):
        msgs = pipeline.read_stream_json_files(spark, str(stream_dir))
        q = pipeline.start_pipeline(msgs, wh, ck)
        q.awaitTermination(120)
    assert spark.read.parquet(wh).count() == 2


def test_pipeline_picks_up_new_files(spark, stream_dir, tmp_path):
    wh, ck = str(tmp_path / "warehouse"), str(tmp_path / "ckpt")
    q = pipeline.start_pipeline(
        pipeline.read_stream_json_files(spark, str(stream_dir)), wh, ck
    )
    q.awaitTermination(120)
    extra = dict(FULL_PAYLOAD, name="Third City")
    (stream_dir / "batch1.json").write_text(json.dumps(extra))
    q = pipeline.start_pipeline(
        pipeline.read_stream_json_files(spark, str(stream_dir)), wh, ck
    )
    q.awaitTermination(120)
    out = spark.read.parquet(wh)
    assert out.count() == 3
    assert out.filter(F.col("city_name") == "Third City").count() == 1


def _run_to_memory(df, name, mode="append"):
    # windowed aggregations use "complete": in append mode a single
    # availableNow batch never advances the watermark past its own
    # windows, so nothing would be emitted
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_event_time_tumbling_window(spark, stream_dir):
    msgs = pipeline.read_stream_json_files(spark, str(stream_dir))
    parsed = parse_raw(msgs, "value").filter(F.col("raw").isNotNull())
    fact = flatten_weather_event_time(parsed)
    agg = windows.tumbling_counts(fact, window="5 minutes", watermark="10 minutes")
    _run_to_memory(agg, "tumble_out", mode="complete")
    rows = spark.sql("SELECT * FROM tumble_out").collect()
    # dt values 1700000000 and 1700000300 fall in the same 5-min window
    assert sum(r.n for r in rows) == 2
    assert all(r.window_end > r.window_start for r in rows)


def test_streaming_dedup_drops_replays(spark, tmp_path):
    d = tmp_path / "dup_in"
    d.mkdir()
    line = json.dumps(FULL_PAYLOAD)
    (d / "a.json").write_text("\n".join([line, line, json.dumps(SPARSE_PAYLOAD)]))
    msgs = pipeline.read_stream_json_files(spark, str(d))
    parsed = parse_raw(msgs, "value").filter(F.col("raw").isNotNull())
    fact = flatten_weather_event_time(parsed)
    deduped = windows.streaming_dedup(fact, key_cols=("city_name", "event_time"))
    _run_to_memory(deduped, "dedup_out")
    out = spark.sql("SELECT city_name, count(*) AS n FROM dedup_out GROUP BY city_name").collect()
    assert {r.city_name: r.n for r in out} == {"Fixture City": 1, "Sparse City": 1}


def test_session_window_stream(spark, tmp_path):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:10:00"),   # same session (gap < 30m)
            (1, "2024-01-01 02:00:00"),   # new session
            (2, "2024-01-01 00:05:00"),
        ],
        "user_id long, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    path = str(tmp_path / "events_pq")
    events.write.parquet(path)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(path)
    agg = windows.session_counts(stream, ts_col="ts", key_col="user_id", gap="30 minutes")
    _run_to_memory(agg, "sess_out", mode="complete")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    per_user = {}
    for r in rows:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert per_user == {1: 2, 2: 1}


def test_sliding_window_stream(spark, stream_dir):
    msgs = pipeline.read_stream_json_files(spark, str(stream_dir))
    parsed = parse_raw(msgs, "value").filter(F.col("raw").isNotNull())
    fact = flatten_weather_event_time(parsed)
    agg = windows.sliding_avg(
        fact, value_col="temperature", window="10 minutes", slide="5 minutes"
    )
    _run_to_memory(agg, "slide_out", mode="complete")
    rows = spark.sql("SELECT * FROM slide_out").collect()
    # two events 5 minutes apart -> overlapping 10-min windows; each
    # row lands in 2 sliding windows (aggregation is per (window, city))
    assert sum(r.n for r in rows) == 4
    per_window = {}
    for r in rows:
        per_window.setdefault((r.window_start, r.window_end), set()).add(r.city_name)
    # both cities share the overlapping middle window
    assert any(len(v) == 2 for v in per_window.values())


def test_late_data_dropped_past_watermark(spark, tmp_path):
    """A record later than watermark behind the max event time must be
    dropped from append-mode aggregation state."""
    d = tmp_path / "late_in"
    d.mkdir()
    on_time = dict(FULL_PAYLOAD, dt=1700010000, name="OnTime")
    ahead = dict(FULL_PAYLOAD, dt=1700020000, name="Ahead")
    (d / "b0.json").write_text(json.dumps(on_time) + "\n" + json.dumps(ahead))
    # second batch: event far older than max seen, watermark 10m -> late
    late = dict(FULL_PAYLOAD, dt=1700012800, name="Late")

    # one continuous query (memory sink cannot recover a checkpoint);
    # processAllAvailable() drives batch boundaries so the watermark
    # advances between the on-time and late files
    msgs = pipeline.read_stream_json_files(spark, str(d))
    parsed = parse_raw(msgs, "value").filter(F.col("raw").isNotNull())
    fact = flatten_weather_event_time(parsed)
    agg = windows.tumbling_counts(fact, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    (d / "b1.json").write_text(json.dumps(late))
    q.processAllAvailable()
    q.stop()
    cities = {r.city_name for r in spark.sql("SELECT * FROM late_out").collect()}
    # OnTime's window closed once the watermark passed it; Late falls
    # into an already-finalized window and is dropped
    assert "OnTime" in cities
    assert "Late" not in cities


def test_observe_metrics_surface_counts(spark, stream_dir, tmp_path):
    """A21 parity: per-batch message/corrupt counters via observe()."""
    msgs = pipeline.read_stream_json_files(spark, str(stream_dir))
    q = pipeline.start_pipeline(
        msgs, str(tmp_path / "wh"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    progresses = [
        json.loads(p.json if hasattr(p, "json") else p) for p in q.recentProgress
    ]
    metrics = [
        p["observedMetrics"]["ingest"]
        for p in progresses
        if p.get("observedMetrics", {}).get("ingest")
    ]
    assert metrics, "expected observed ingest metrics in progress"
    total = {k: sum(m[k] for m in metrics) for k in ("n_messages", "n_corrupt")}
    assert total == {"n_messages": 3, "n_corrupt": 1}


def test_stateful_running_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists across micro-batches
    (integer-cents accumulation -> exact mean)."""
    from api_weather_kafka_clickhouse_spark.streaming.stateful import running_stats

    d = tmp_path / "st_in"
    d.mkdir()
    (d / "b0.csv").write_text("a,10.50\na,20.50\nb,1.00\n")
    stream = (
        spark.readStream.schema("key string, value double")
        .csv(str(d))
    )
    out = running_stats(stream, "key", "value")
    q = (
        out.writeStream.format("memory")
        .queryName("stats_out")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    (d / "b1.csv").write_text("a,9.00\n")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM stats_out").collect()
    # update mode appends one row per key per batch to the memory
    # sink; the LAST row per key carries the accumulated state
    last = {}
    for r in rows:
        last[r.key] = r
    assert last["a"].n == 3
    assert last["a"].mean == (10.50 + 20.50 + 9.00) / 3
    assert last["a"].v_min == 9.00 and last["a"].v_max == 20.50
    assert last["b"].n == 1 and last["b"].mean == 1.00


def test_stateful_running_stats_skips_nulls(spark, tmp_path):
    """NULL values must not bias the mean or poison min/max state:
    pandas sum/min/max skip NaN but a naive len() counts NaN rows, and
    an all-NULL first batch would emit mean=0 with inf sentinels."""
    from api_weather_kafka_clickhouse_spark.streaming.stateful import running_stats

    d = tmp_path / "st_null_in"
    d.mkdir()
    # key a: one real value + one NULL; key b: only NULLs
    (d / "b0.csv").write_text("a,10.00\na,\nb,\n")
    stream = spark.readStream.schema("key string, value double").csv(str(d))
    out = running_stats(stream, "key", "value")
    q = (
        out.writeStream.format("memory")
        .queryName("stats_null_out")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.key: r for r in spark.sql("SELECT * FROM stats_null_out").collect()}
    assert "b" not in rows  # no numeric observation -> no emitted row
    a = rows["a"]
    assert a.n == 1 and a.mean == 10.00
    assert a.v_min == 10.00 and a.v_max == 10.00


def test_pipeline_replayed_batch_overwrites_not_appends(spark, stream_dir, tmp_path):
    """A micro-batch replayed after a crash between sink and commit
    must overwrite its own batch_id partition, not double-append: the
    sink write is idempotent per batch id (write_fact_batch)."""
    from api_weather_kafka_clickhouse_spark.sources.sink import write_fact_batch

    wh = str(tmp_path / "wh_replay")
    msgs = pipeline.read_stream_json_files(spark, str(stream_dir))
    q = pipeline.start_pipeline(msgs, wh, str(tmp_path / "ck_replay"))
    q.awaitTermination(120)
    before = spark.read.parquet(wh).count()
    # simulate the crash-window replay: re-run batch 0's sink write
    fact = pipeline.transform(
        spark.read.schema("value string").text(str(stream_dir))
    )
    write_fact_batch(fact, wh, 0)
    after = spark.read.parquet(wh)
    assert after.count() == before, "replay must not duplicate rows"
    assert after.filter(F.col("batch_id") == 0).count() == before


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream enrichment join: readings match
    alerts for the same station within ±15 minutes; a reading with no
    alert in range joins nothing (inner)."""
    readings = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 21.5),
            (1, "2024-01-01 03:00:00", 22.0),  # no alert within 15m
            (2, "2024-01-01 00:05:00", -3.0),
        ],
        "station long, ts_s string, temp double",
    ).select("station", F.to_timestamp("ts_s").alias("r_ts"), "temp")
    alerts = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", "storm"),
            (2, "2024-01-01 00:00:00", "frost"),
            (2, "2024-01-01 01:00:00", "thaw"),  # out of range of the reading
        ],
        "station long, ts_s string, kind string",
    ).select("station", F.to_timestamp("ts_s").alias("a_ts"), "kind")
    rp, ap = str(tmp_path / "readings_pq"), str(tmp_path / "alerts_pq")
    readings.write.parquet(rp)
    alerts.write.parquet(ap)
    rs = spark.readStream.schema("station long, r_ts timestamp, temp double").parquet(rp)
    As = spark.readStream.schema("station long, a_ts timestamp, kind string").parquet(ap)
    joined = windows.interval_join_streams(
        rs, As, key="station", left_ts="r_ts", right_ts="a_ts", max_lag="15 minutes"
    )
    _run_to_memory(joined, "ssj_out")
    rows = {(r.station, r.temp, r.kind) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    assert rows == {(1, 21.5, "storm"), (2, -3.0, "frost")}


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """leftOuter stream-stream join: the reading with no alert in its
    interval is emitted with nulls once the watermark closes it."""
    readings = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 21.5),
            (1, "2024-01-01 06:00:00", 22.0),  # closes earlier watermarks
            (2, "2024-01-01 00:05:00", -3.0),
            (2, "2024-01-01 06:00:00", 1.0),
        ],
        "station long, ts_s string, temp double",
    ).select("station", F.to_timestamp("ts_s").alias("r_ts"), "temp")
    alerts = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", "storm"),
            (1, "2024-01-01 06:05:00", "hail"),
            (2, "2024-01-01 05:55:00", "wind"),
        ],
        "station long, ts_s string, kind string",
    ).select("station", F.to_timestamp("ts_s").alias("a_ts"), "kind")
    rp, ap = str(tmp_path / "lo_readings"), str(tmp_path / "lo_alerts")
    readings.write.parquet(rp)
    alerts.write.parquet(ap)
    rs = spark.readStream.schema("station long, r_ts timestamp, temp double").parquet(rp)
    As = spark.readStream.schema("station long, a_ts timestamp, kind string").parquet(ap)
    joined = windows.interval_join_streams(
        rs, As, key="station", left_ts="r_ts", right_ts="a_ts",
        max_lag="15 minutes", watermark="30 minutes", join_type="leftOuter",
    )
    _run_to_memory(joined, "ssj_lo_out")
    rows = {(r.station, r.temp, r.kind) for r in spark.sql("SELECT * FROM ssj_lo_out").collect()}
    # matched rows present; the 00:05 station-2 reading has no alert
    # within +/-15m and is emitted with a null kind after its interval
    # falls behind the watermark
    assert (1, 21.5, "storm") in rows and (1, 22.0, "hail") in rows
    assert (2, 1.0, "wind") in rows
    assert (2, -3.0, None) in rows


def test_pipeline_recreated_checkpoint_over_kept_warehouse_refuses(spark, stream_dir, tmp_path):
    """A recreated checkpoint restarts batch ids at 0, so its first
    batch would dynamically overwrite the kept warehouse's batch_id=0
    partitions. The warehouse's stream-run marker makes that query
    fail before writing, and the stored rows stay as they were."""
    from pyspark.errors import StreamingQueryException

    wh, ck = str(tmp_path / "warehouse"), tmp_path / "ckpt"
    msgs = pipeline.read_stream_json_files(spark, str(stream_dir))
    pipeline.start_pipeline(msgs, wh, str(ck)).awaitTermination(120)
    before = sorted(map(tuple, spark.read.parquet(wh).drop("event_time").collect()))

    shutil.rmtree(ck)
    other = tmp_path / "other_in"
    other.mkdir()
    (other / "b.json").write_text(json.dumps(dict(FULL_PAYLOAD, name="Intruder City")))
    q = pipeline.start_pipeline(pipeline.read_stream_json_files(spark, str(other)), wh, str(ck))
    with pytest.raises(StreamingQueryException, match="stream run"):
        q.awaitTermination(120)
    assert sorted(map(tuple, spark.read.parquet(wh).drop("event_time").collect())) == before


# payload-shaped JSON objects whose leaves are any JSON value: every
# typed path of WEATHER_RAW_SCHEMA sees numbers of every size, strings,
# arrays, objects and nulls
_json_leaf = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**30), max_value=10**30),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=4),
)
_json = st.recursive(
    _json_leaf,
    lambda c: st.lists(c, max_size=3) | st.dictionaries(st.text(max_size=3), c, max_size=3),
    max_leaves=6,
)
# the schema's typed fields draw plain numbers of any size more often
_field = st.floats(allow_nan=False, allow_infinity=False) | st.integers() | _json


def _obj(*keys):
    return st.fixed_dictionaries({}, optional=dict.fromkeys(keys, _field)) | _json


_payload = st.fixed_dictionaries(
    {},
    optional={
        "coord": _obj("lon", "lat"),
        "weather": st.lists(_obj("main", "description"), max_size=2) | _json,
        "main": _obj("temp", "feels_like", "temp_min", "temp_max", "pressure", "humidity"),
        "visibility": _field,
        "wind": _obj("speed", "deg", "gust"),
        "clouds": _obj("all"),
        "dt": _field,
        "sys": _obj("country", "sunrise", "sunset"),
        "timezone": _field,
        "name": _json,
    },
)


@given(payloads=st.lists(_payload, min_size=1, max_size=30))
@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
def test_transform_never_raises_on_any_json_object(spark, payloads):
    """No syntactically valid message may stop ingest: whatever a
    JSON object holds, transform evaluates every fact column (the
    string casts force each) and keeps one row per object."""
    msgs = spark.createDataFrame([(json.dumps(p),) for p in payloads], "value string")
    fact = pipeline.transform(msgs)
    rows = fact.select([F.col(c).cast("string") for c in fact.columns]).collect()
    assert len(rows) == len(payloads)


def test_out_of_range_numbers_default_and_are_counted(spark, tmp_path):
    """Under ANSI casts, wind.gust = 100.5 (decimal(4,2)) and
    main.temp = 1e9 (decimal(5,2)) used to fail the micro-batch, which
    then replayed into the same error. They take the column default
    instead, and observe("ingest") counts exactly the defaulted rows,
    also at the half-up rounding edge of each decimal type."""
    d = tmp_path / "range_in"
    d.mkdir()

    def msg(name, **fields):
        return json.dumps(dict(FULL_PAYLOAD, name=name, **fields))

    main, wind = FULL_PAYLOAD["main"], FULL_PAYLOAD["wind"]
    lines = [
        msg("Gusty", wind=dict(wind, gust=100.5)),
        msg("Hot", main=dict(main, temp=1e9)),
        msg("Late", sys=dict(FULL_PAYLOAD["sys"], sunrise=10**18)),
        msg("GustEdge", wind=dict(wind, gust=99.995)),
        msg("GustBelow", wind=dict(wind, gust=math.nextafter(99.995, 0))),
        msg("ColdEdge", main=dict(main, temp=-999.995)),
        msg("ColdBelow", main=dict(main, temp=-999.994)),
        json.dumps(FULL_PAYLOAD),
    ]
    (d / "b.json").write_text("\n".join(lines))
    wh = str(tmp_path / "wh")
    msgs = pipeline.read_stream_json_files(spark, str(d))
    q = pipeline.start_pipeline(msgs, wh, str(tmp_path / "ck"))
    q.awaitTermination(120)
    rows = {r.city_name: r for r in spark.read.parquet(wh).collect()}
    assert rows["Gusty"].wind_gust == 0 and rows["Gusty"].temperature == Decimal("-7.34")
    assert rows["Hot"].temperature == 0 and rows["Hot"].wind_gust == Decimal("7.20")
    assert rows["Late"].sunrise is None and rows["Late"].sunset is not None
    assert rows["GustEdge"].wind_gust == 0 and rows["GustBelow"].wind_gust == Decimal("99.99")
    assert rows["ColdEdge"].temperature == 0 and rows["ColdBelow"].temperature == Decimal("-999.99")
    progresses = [json.loads(p.json if hasattr(p, "json") else p) for p in q.recentProgress]
    ingest = [
        p["observedMetrics"]["ingest"]
        for p in progresses
        if p.get("observedMetrics", {}).get("ingest")
    ]
    assert sum(m["n_defaulted"] for m in ingest) == 5
