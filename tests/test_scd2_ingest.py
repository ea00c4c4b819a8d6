"""Incremental SCD2 maintenance: micro-batch folds equal the batch
operator on the same prefix, replay is idempotent, out-of-order
arrivals quarantine, and the stream-run guard refuses a recreated
checkpoint over a kept store."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from api_weather_kafka_clickhouse_spark import registry
from api_weather_kafka_clickhouse_spark.streaming import scd2_ingest
from api_weather_kafka_clickhouse_spark.tables import load

pytestmark = pytest.mark.slow

SPECS = registry.all_specs()


def _interval_set(df):
    return {
        (r.user_id, r.state, r.version, r.valid_from, r.valid_to, r.n_events)
        for r in df.collect()
    }


def _batches(spark, sf_dir, n=3):
    """Split the events table into n micro-batches by global ts
    tertiles — global (ts, event_id) order implies the per-user
    in-order contract the ingest requires."""
    e = load(spark, "events", sf_dir).select("event_id", "user_id", "event_type", "ts")
    bounds = e.approxQuantile("event_id", [i / n for i in range(1, n)], 0.0)
    cuts = [float("-inf"), *bounds, float("inf")]
    # event_id order == ts order in the generated data; assert so the
    # test's premise can't rot silently
    mono = e.orderBy("event_id").select("ts").collect()
    assert all(a.ts <= b.ts for a, b in zip(mono, mono[1:]))
    return [
        e.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi))
        for lo, hi in zip(cuts, cuts[1:])
    ]


def test_scd2_ingest_equals_batch_twin_and_replays_idempotently(spark, sf_dir, tmp_path):
    store = str(tmp_path / "scd2_store")
    batches = _batches(spark, sf_dir)
    for bid, b in enumerate(batches):
        scd2_ingest.scd2_ingest_batch(b, bid, store)

    got = _interval_set(scd2_ingest.read_intervals(spark, store))
    want = _interval_set(SPECS["scd2_intervals"].fn(spark, sf_dir))
    assert got == want

    # every interval chain is version-contiguous with one open head
    heads = scd2_ingest.read_heads(spark, store)
    assert heads.groupBy("user_id").count().filter("count > 1").count() == 0

    # replay the LAST batch (the crash-and-redeliver window): the
    # body must rewrite its own partitions to the identical state
    scd2_ingest.scd2_ingest_batch(batches[-1], len(batches) - 1, store)
    assert _interval_set(scd2_ingest.read_intervals(spark, store)) == want


def test_scd2_late_and_null_ts_events_quarantine(spark, sf_dir, tmp_path):
    import os

    store = str(tmp_path / "scd2_late")
    batches = _batches(spark, sf_dir, n=2)
    scd2_ingest.scd2_ingest_batch(batches[0], 0, store)
    before = _interval_set(scd2_ingest.read_intervals(spark, store))

    # redeliver three already-folded events plus a null-ts row
    stale = batches[0].orderBy("event_id").limit(3)
    null_ts = spark.createDataFrame(
        [(10**9, 1, "click", None)], "event_id long, user_id long, event_type string, ts timestamp"
    )
    scd2_ingest.scd2_ingest_batch(stale.unionByName(null_ts), 1, store)

    late = spark.read.parquet(os.path.join(store, "late"))
    assert late.count() == 4
    # quarantine must not perturb the dimension
    assert _interval_set(scd2_ingest.read_intervals(spark, store)) == before


def test_scd2_stream_wiring_and_run_guard(spark, tmp_path):
    import json
    import shutil

    d = tmp_path / "scd2_in"
    d.mkdir()
    store = str(tmp_path / "scd2_s")
    ckpt = str(tmp_path / "scd2_c")

    def write(name, rows):
        (d / name).write_text(
            "\n".join(
                json.dumps(
                    {"event_id": i, "user_id": u, "event_type": t, "ts": ts}
                )
                for i, u, t, ts in rows
            )
        )

    write(
        "b0.json",
        [
            (1, 7, "view", "2024-01-01 00:00:01"),
            (2, 7, "view", "2024-01-01 00:00:02"),
            (3, 7, "click", "2024-01-01 00:00:03"),
        ],
    )
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(d))
    q = scd2_ingest.start_scd2_ingest(stream, store, ckpt)
    q.processAllAvailable()
    write("b1.json", [(4, 7, "click", "2024-01-01 00:00:04"), (5, 7, "view", "2024-01-01 00:00:05")])
    q.processAllAvailable()
    q.stop()

    got = _interval_set(scd2_ingest.read_intervals(spark, store))
    import datetime

    t = lambda s: datetime.datetime.fromisoformat(s)  # noqa: E731
    assert got == {
        (7, "view", 1, t("2024-01-01 00:00:01"), t("2024-01-01 00:00:03"), 2),
        (7, "click", 2, t("2024-01-01 00:00:03"), t("2024-01-01 00:00:05"), 2),
        (7, "view", 3, t("2024-01-01 00:00:05"), None, 1),
    }

    # recreated checkpoint over the kept store: the run guard must
    # refuse before any partition write
    shutil.rmtree(ckpt)
    stream2 = spark.readStream.schema(schema).json(str(d))
    q2 = scd2_ingest.start_scd2_ingest(stream2, store, ckpt)
    with pytest.raises(Exception):
        q2.processAllAvailable()
    q2.stop()
    assert _interval_set(scd2_ingest.read_intervals(spark, store)) == got


# ------------------------------------- property: fold == batch twin


def test_scd2_compact_store_keeps_intervals_and_refuses_folded_replay(spark, tmp_path):
    """``compact_store`` folds heads/closed/late (no caller needs the
    private table schemas); the dimension reads the same after the
    fold, and a replay of a folded batch refuses rather than
    quarantining its own events to ``late``."""
    import datetime

    store = str(tmp_path / "scd2_cs")
    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def batch(rows):
        return spark.createDataFrame(
            [(i, u, t, datetime.datetime(2024, 1, 1, 10, m)) for i, u, t, m in rows], schema
        )

    scd2_ingest.scd2_ingest_batch(batch([(1, 7, "view", 1), (2, 8, "view", 2)]), 0, store)
    b1 = batch([(3, 7, "click", 3), (4, 8, "click", 4), (5, 7, "view", 0)])
    scd2_ingest.scd2_ingest_batch(b1, 1, store)
    before = _interval_set(scd2_ingest.read_intervals(spark, store))

    assert scd2_ingest.compact_store(spark, store) == 3
    assert _interval_set(scd2_ingest.read_intervals(spark, store)) == before
    with pytest.raises(RuntimeError, match="compacted away"):
        scd2_ingest.scd2_ingest_batch(b1, 1, store)
    assert _interval_set(scd2_ingest.read_intervals(spark, store)) == before


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# (user, state, ts-gap-seconds): gap 0 produces same-timestamp ties,
# resolved by the (ts, event_id) total order on both sides
_event = st.tuples(
    st.integers(min_value=1, max_value=3),
    st.sampled_from(["A", "B", "C"]),
    st.integers(min_value=0, max_value=5),
)


def _py_scd2(events):
    """Pure-Python reference: per-user island compression of the
    (ts, event_id)-ordered state sequence."""
    import collections

    per_user = collections.defaultdict(list)
    for eid, user, state, ts in sorted(events, key=lambda e: (e[3], e[0])):
        per_user[user].append((state, ts))
    out = set()
    for user, seq in per_user.items():
        islands = []
        for state, ts in seq:
            if islands and islands[-1][0] == state:
                islands[-1][2] += 1
            else:
                islands.append([state, ts, 1])
        for v, (state, first_ts, n) in enumerate(islands, start=1):
            nxt = islands[v][1] if v < len(islands) else None
            out.add((user, state, v, first_ts, nxt, n))
    return out


@given(
    evs=st.lists(_event, min_size=1, max_size=25),
    cuts=st.sets(st.integers(min_value=1, max_value=24), max_size=2),
)
@settings(
    max_examples=8,  # each example folds 1-3 real Spark micro-batches
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_fold_equals_python_reference_for_any_history(spark, tmp_path_factory, evs, cuts):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows, t = [], 0
    for i, (user, state, gap) in enumerate(evs):
        t += gap
        rows.append((i, user, state, base + datetime.timedelta(seconds=t)))
    store = str(tmp_path_factory.mktemp("scd2_prop") / "store")
    bounds = sorted(c for c in cuts if c < len(rows))
    slices = []
    lo = 0
    for b in [*bounds, len(rows)]:
        if b > lo:
            slices.append(rows[lo:b])
            lo = b
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    for bid, chunk in enumerate(slices):
        scd2_ingest.scd2_ingest_batch(spark.createDataFrame(chunk, schema), bid, store)
    assert _interval_set(scd2_ingest.read_intervals(spark, store)) == _py_scd2(rows)
