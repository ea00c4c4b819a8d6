"""HTTP source (injectable fetcher), Kafka message shape, and
warehouse sink layout tests (SURVEY.md §2-A7/A8/A19, §2-B4/B5)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from api_weather_kafka_clickhouse_spark.sources import kafka, sink
from api_weather_kafka_clickhouse_spark.sources.cities import load_cities
from api_weather_kafka_clickhouse_spark.sources.flatten import flatten_weather, parse_raw
from api_weather_kafka_clickhouse_spark.sources.http_weather import fetch_weather
from tests.test_cities import FIXTURE  # synthesized city fixture
from tests.test_ingest_flatten import FULL_PAYLOAD


def _cities(spark, tmp_path):
    p = tmp_path / "cities.json"
    p.write_text(json.dumps(FIXTURE))
    return load_cities(spark, str(p))


def make_fake_fetcher():
    # built as a closure so cloudpickle ships it by VALUE to executor
    # pythons (a module-level test function would pickle by reference
    # to a module the workers can't import)
    payload = dict(FULL_PAYLOAD)

    def fake_fetcher(lat: float, lon: float) -> dict:
        if lat > 59:  # one city fails -> NULL payload (catch-skip parity)
            raise ConnectionError("synthetic outage")
        return dict(payload, coord={"lon": lon, "lat": lat}, name=f"city@{lat}")

    return fake_fetcher


def test_http_fetch_with_injected_fetcher(spark, tmp_path):
    cities = _cities(spark, tmp_path)
    out = fetch_weather(cities, make_fake_fetcher())
    rows = out.collect()
    assert len(rows) == 6  # all RU cities, including the failed one
    failed = [r for r in rows if r.value is None]
    assert len(failed) == 1 and failed[0].name == "Alfatown"  # lat 59.9
    ok = [r for r in rows if r.value is not None]
    payload = json.loads(ok[0].value)
    assert payload["coord"]["lat"] == ok[0].lat


def test_http_to_flatten_round_trip(spark, tmp_path):
    """Fetched payloads flow straight into the flatten pipeline."""
    cities = _cities(spark, tmp_path)
    fetched = fetch_weather(cities, make_fake_fetcher()).filter(F.col("value").isNotNull())
    fact = flatten_weather(parse_raw(fetched, "value"))
    rows = fact.collect()
    assert len(rows) == 5
    assert all(r.city_name.startswith("city@") for r in rows)


def test_kafka_message_shape(spark, tmp_path):
    cities = _cities(spark, tmp_path)
    fetched = fetch_weather(cities, make_fake_fetcher()).filter(F.col("value").isNotNull())
    msgs = kafka.to_kafka_messages(fetched, key_col="name", payload_cols=["value", "lat", "lon"])
    assert msgs.columns == ["key", "value"]
    r = msgs.first()
    assert isinstance(r.key, str) and json.loads(r.value)["lat"] is not None


def test_sink_partition_layout_and_pruning(spark, tmp_path):
    msgs = spark.createDataFrame([(json.dumps(FULL_PAYLOAD),)], "value string")
    fact = flatten_weather(parse_raw(msgs, "value"))
    path = str(tmp_path / "wh")
    sink.write_fact(fact, path)
    import os

    dirs = [d for d in os.listdir(path) if d.startswith(sink.MONTH_COL + "=")]
    assert dirs, "expected hive-style event_month= partition dirs"
    back = sink.read_fact(spark, path)
    assert back.count() == 1


def test_read_fact_between_prunes_month_partitions(spark, tmp_path):
    """Date-ranged reads must constrain the PARTITION column: Spark
    cannot derive event_month bounds from an event_date predicate, so
    read_fact_between adds them explicitly — asserted via
    PartitionFilters in the scan plan."""
    from datetime import date

    from api_weather_kafka_clickhouse_spark.plans import checks

    rows = [(date(2026, m, 15), f"city{m}", 20.0) for m in (6, 7, 8)]
    df = spark.createDataFrame(
        rows, "event_date date, city_name string, temperature double"
    ).withColumn("event_time", F.col("event_date").cast("timestamp"))
    path = str(tmp_path / "wh_prune")
    sink.write_fact(df, path)
    pruned = sink.read_fact_between(spark, path, "2026-07-01", "2026-07-31")
    assert [r.city_name for r in pruned.collect()] == ["city7"]
    plan = checks.formatted_plan(pruned)
    assert "PartitionFilters" in plan and sink.MONTH_COL in plan.split("PartitionFilters")[1].split("]")[0], (
        "month predicate must reach the scan's partition filters"
    )


def test_pruning_survives_disabled_partition_type_inference(spark, tmp_path):
    """event_month is written as an INT yyyyMM so pruning does not
    depend on Hive partition type inference (round-4 advice): with
    inference disabled the partition column surfaces as string, and
    the int-valued bounds must still reach PartitionFilters and prune
    to the right rows."""
    from datetime import date

    from api_weather_kafka_clickhouse_spark.plans import checks

    rows = [(date(2026, m, 15), f"city{m}", 20.0) for m in (6, 7, 8)]
    df = spark.createDataFrame(
        rows, "event_date date, city_name string, temperature double"
    ).withColumn("event_time", F.col("event_date").cast("timestamp"))
    path = str(tmp_path / "wh_prune_noinfer")
    sink.write_fact(df, path)

    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        pruned = sink.read_fact_between(spark, path, "2026-07-01", "2026-07-31")
        assert [r.city_name for r in pruned.collect()] == ["city7"]
        plan = checks.formatted_plan(pruned)
        pf = plan.split("PartitionFilters")[1].split("]")[0] if "PartitionFilters" in plan else ""
        assert sink.MONTH_COL in pf, (
            f"month predicate must prune even without type inference; got: {pf!r}"
        )
    finally:
        spark.conf.set(key, prev)


def test_optimize_fact_merges_small_files_sorted_and_idempotent(spark, tmp_path):
    """OPTIMIZE parity: fragmented partitions bin-pack into one sorted
    file each, data survives byte-identical, second run is a no-op."""
    import os

    from pyspark.sql import Row

    rows = [
        Row(
            event_date=f"2024-0{m}-15",
            city_name=f"city{i % 7}",
            event_time=f"2024-0{m}-15 0{i % 10}:00:00",
            temp=float(i),
        )
        for m in (1, 2)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "event_date", F.col("event_date").cast("date")
    )
    path = str(tmp_path / "wh_opt")
    # fragment: 8 writer tasks per append, two appends -> ~16 files/month
    sink.write_fact(df.repartition(8), path)
    sink.write_fact(df.repartition(8), path)
    before = sink.read_fact(spark, path).collect()

    def files_in(month):
        d = os.path.join(path, f"{sink.MONTH_COL}={month}")
        return [f for f in os.listdir(d) if not f.startswith(("_", "."))]

    assert len(files_in(202401)) > 1
    merged = sink.optimize_fact(spark, path, target_file_bytes=1 << 30)
    assert set(merged) == {f"{sink.MONTH_COL}=202401", f"{sink.MONTH_COL}=202402"}
    assert all(n > 1 for n in merged.values())
    for month in (202401, 202402):
        fl = files_in(month)
        assert len(fl) == 1, fl
        # the merged file is internally sorted on the table sort key
        part = spark.read.parquet(os.path.join(path, f"{sink.MONTH_COL}={month}"))
        got = part.select(*sink.SORT_KEY).collect()
        assert got == sorted(got, key=lambda r: (r.event_date, r.city_name, r.event_time))
    after = sink.read_fact(spark, path).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # already at target: second call rewrites nothing
    assert sink.optimize_fact(spark, path, target_file_bytes=1 << 30) == {}


def test_delete_fact_rewrites_only_matching_partitions(spark, tmp_path):
    """Mutation parity: rows matching the predicate disappear, only
    partitions containing matches are rewritten (others stay
    byte-identical), and an all-rows delete leaves a valid empty
    partition."""
    import os

    from pyspark.sql import Row

    rows = [
        Row(
            event_date=f"2024-0{m}-15",
            city_name=f"city{i % 5}",
            event_time=f"2024-0{m}-15 0{i % 10}:00:00",
            temp=float(i + 100 * m),
        )
        for m in (1, 2, 3)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "event_date", F.col("event_date").cast("date")
    )
    path = str(tmp_path / "wh_del")
    sink.write_fact(df, path)

    def mtime(month):
        d = os.path.join(path, f"{sink.MONTH_COL}={month}")
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    untouched_before = mtime(202403)
    # delete one city's rows, present only in months 1 and 2 via temp
    deleted = sink.delete_fact(
        spark, path, (F.col("city_name") == "city2") & (F.col("temp") < 250)
    )
    assert set(deleted) == {f"{sink.MONTH_COL}=202401", f"{sink.MONTH_COL}=202402"}
    assert all(n == 4 for n in deleted.values())
    back = sink.read_fact(spark, path)
    assert back.filter((F.col("city_name") == "city2") & (F.col("temp") < 250)).count() == 0
    assert back.count() == 60 - 8
    # the partition with no matches kept its files untouched
    assert mtime(202403) == untouched_before
    # re-run: nothing left to delete
    assert sink.delete_fact(spark, path, (F.col("city_name") == "city2") & (F.col("temp") < 250)) == {}
    # SQL-string predicates work and an all-rows delete empties the
    # partition without removing it
    deleted = sink.delete_fact(spark, path, f"{sink.MONTH_COL} = 202403")
    assert deleted == {f"{sink.MONTH_COL}=202403": 20}
    assert os.path.isdir(os.path.join(path, f"{sink.MONTH_COL}=202403"))
    assert sink.read_fact(spark, path).count() == 32


def test_optimize_fact_handles_nested_batch_layout(spark, tmp_path):
    """write_fact_batch nests batch_id=N/event_month=M; the leaf
    walker must find and merge those leaves too."""
    import os

    from pyspark.sql import Row

    rows = [
        Row(
            event_date="2024-01-15",
            city_name=f"c{i % 3}",
            event_time=f"2024-01-15 0{i % 10}:00:00",
            temp=float(i),
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "event_date", F.col("event_date").cast("date")
    )
    path = str(tmp_path / "wh_nested")
    sink.write_fact_batch(df.repartition(6), path, 0)
    sink.write_fact_batch(df.repartition(6), path, 1)
    before = sink.read_fact(spark, path).count()
    merged = sink.optimize_fact(spark, path, target_file_bytes=1 << 30)
    assert set(merged) == {
        f"batch_id=0/{sink.MONTH_COL}=202401",
        f"batch_id=1/{sink.MONTH_COL}=202401",
    }
    for b in (0, 1):
        d = os.path.join(path, f"batch_id={b}", f"{sink.MONTH_COL}=202401")
        assert len([f for f in os.listdir(d) if not f.startswith(("_", "."))]) == 1
    assert sink.read_fact(spark, path).count() == before


def test_upsert_fact_replaces_matching_keys_and_appends_new(spark, tmp_path):
    from pyspark.sql import Row

    def row(city, temp, d="2024-01-15"):
        return Row(
            event_date=d, city_name=city, event_time=f"{d} 01:00:00", temp=temp
        )

    def df(rows):
        return spark.createDataFrame(rows).withColumn(
            "event_date", F.col("event_date").cast("date")
        )

    path = str(tmp_path / "wh_ups")
    sink.write_fact(df([row("a", 1.0), row("b", 2.0), row("c", 3.0, "2024-02-15")]), path)

    replaced = sink.upsert_fact(
        spark,
        path,
        df([row("a", 10.0), row("d", 4.0)]),
        keys=("event_date", "city_name"),
    )
    # only the january partition held key matches
    assert replaced == {f"{sink.MONTH_COL}=202401": 1}
    got = {
        (r.city_name, r.temp) for r in sink.read_fact(spark, path).collect()
    }
    assert got == {("a", 10.0), ("b", 2.0), ("c", 3.0), ("d", 4.0)}
    # re-running the same upsert converges (mutation-retry contract)
    sink.upsert_fact(
        spark, path, df([row("a", 10.0), row("d", 4.0)]), keys=("event_date", "city_name")
    )
    back = sink.read_fact(spark, path)
    assert back.count() == 4
    assert {(r.city_name, r.temp) for r in back.collect()} == got


def test_upsert_fact_on_micro_batch_warehouse(spark, tmp_path):
    """write_fact_batch lays out batch_id=N/event_month=M. Upsert must
    append in that layout: a top-level event_month=M dir beside the
    batch_id=N dirs makes every reader raise
    CONFLICTING_PARTITION_COLUMN_NAMES. Reruns converge, and a later
    micro-batch leaves the upserted rows in place."""
    from pyspark.sql import Row

    def row(city, temp, d="2024-01-15"):
        return Row(event_date=d, city_name=city, event_time=f"{d} 01:00:00", temp=temp)

    def df(rows):
        return spark.createDataFrame(rows).withColumn(
            "event_date", F.col("event_date").cast("date")
        )

    def got():
        return {(r.city_name, r.temp) for r in sink.read_fact(spark, path).collect()}

    path = str(tmp_path / "wh_ups_batches")
    sink.write_fact_batch(df([row("a", 1.0), row("b", 2.0)]), path, 0)
    sink.write_fact_batch(df([row("c", 3.0, "2024-02-15"), row("e", 5.0)]), path, 1)
    updates = df([row("a", 10.0), row("c", 30.0, "2024-02-15")])
    keys = ("event_date", "city_name")

    replaced = sink.upsert_fact(spark, path, updates, keys=keys)
    assert replaced == {
        f"batch_id=0/{sink.MONTH_COL}=202401": 1,
        f"batch_id=1/{sink.MONTH_COL}=202402": 1,
    }
    expected = {("a", 10.0), ("b", 2.0), ("c", 30.0), ("e", 5.0)}
    assert got() == expected
    assert sink.read_fact_between(spark, path, "2024-02-01", "2024-02-28").count() == 1
    # re-running the same upsert converges
    sink.upsert_fact(spark, path, updates, keys=keys)
    assert sink.read_fact(spark, path).count() == 4
    assert got() == expected
    # a later micro-batch never overwrites the upserted rows
    sink.write_fact_batch(df([row("f", 6.0)]), path, 2)
    assert got() == expected | {("f", 6.0)}


def test_ttl_expire_drops_whole_months_and_trims_boundary(spark, tmp_path):
    """TTL parity: months strictly before the cutoff month disappear
    without being read, the boundary month loses only its pre-cutoff
    rows, newer partitions stay byte-identical, and re-runs (including
    after a simulated crash mid-drop) converge."""
    import os

    from pyspark.sql import Row

    rows = [
        Row(
            event_date=f"2024-0{m}-{d:02d}",
            city_name=f"city{d % 3}",
            event_time=f"2024-0{m}-{d:02d} 06:00:00",
            temp=float(10 * m + d),
        )
        for m in (1, 2, 3)
        for d in (5, 15, 25)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "event_date", F.col("event_date").cast("date")
    )
    path = str(tmp_path / "wh_ttl")
    sink.write_fact(df, path)

    def mtime(month):
        d = os.path.join(path, f"{sink.MONTH_COL}={month}")
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    newest_before = mtime(202403)
    out = sink.ttl_expire(spark, path, "2024-02-20")
    # January dropped wholesale; February lost its 05/15 rows only
    assert out["dropped"] == [f"{sink.MONTH_COL}=202401"]
    assert out["boundary"] == {f"{sink.MONTH_COL}=202402": 2}
    assert not os.path.exists(os.path.join(path, f"{sink.MONTH_COL}=202401"))
    back = sink.read_fact(spark, path)
    assert back.count() == 4  # feb 25 + all three march rows
    assert back.filter(F.col("event_date") < "2024-02-20").count() == 0
    assert mtime(202403) == newest_before  # untouched month byte-identical
    # idempotence
    again = sink.ttl_expire(spark, path, "2024-02-20")
    assert again == {"dropped": [], "boundary": {}}
    # crash simulation: a leftover trash aside from an interrupted
    # drop is swept on the next run
    trash = os.path.join(
        path, f"{sink.MONTH_COL}=999901{sink.TTL_TRASH_SUFFIX}"
    )
    os.makedirs(trash)
    open(os.path.join(trash, "part-stale.parquet"), "w").close()
    sink.ttl_expire(spark, path, "2024-02-20")
    assert not os.path.exists(trash)
    assert sink.read_fact(spark, path).count() == 4


def test_table_parts_lists_partitions_without_scanning(spark, tmp_path):
    """system.parts parity: per-partition file/byte/row stats from
    listings + footers, consistent before and after a merge."""
    import os

    from pyspark.sql import Row

    rows = [
        Row(
            event_date=f"2024-0{m}-15",
            city_name=f"city{i % 3}",
            event_time=f"2024-0{m}-15 0{i % 10}:00:00",
            temp=float(i),
        )
        for m in (1, 2)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "event_date", F.col("event_date").cast("date")
    )
    path = str(tmp_path / "wh_parts")
    # several small files per partition
    sink.write_fact(df.repartition(4), path)
    parts = {r.partition: r for r in sink.table_parts(spark, path).collect()}
    assert set(parts) == {f"{sink.MONTH_COL}=202401", f"{sink.MONTH_COL}=202402"}
    for rel, r in parts.items():
        d = os.path.join(path, rel)
        disk = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
        assert r.n_files == len(disk)
        assert r.bytes == sum(os.path.getsize(os.path.join(d, f)) for f in disk)
        assert r.rows == 10
        assert r.modified_epoch > 0
    # after a merge the rows are conserved while files drop
    sink.optimize_fact(spark, path, target_file_bytes=1 << 30)
    parts2 = {r.partition: r for r in sink.table_parts(spark, path).collect()}
    assert all(r.rows == 10 and r.n_files == 1 for r in parts2.values())
    # empty table -> empty listing
    assert sink.table_parts(spark, str(tmp_path / "nope")).count() == 0


def test_delete_fact_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE semantics over three-valued logic: rows where the
    predicate evaluates NULL are NOT matched and must be KEPT (and
    never counted as deleted) — a bare filter(~cond) would silently
    drop them."""
    from pyspark.sql import Row

    rows = [
        Row(event_date="2024-01-15", city_name="a", event_time="2024-01-15 01:00:00", temp=100.0),
        Row(event_date="2024-01-15", city_name="b", event_time="2024-01-15 02:00:00", temp=None),
        Row(event_date="2024-01-15", city_name="c", event_time="2024-01-15 03:00:00", temp=300.0),
    ]
    df = spark.createDataFrame(rows).withColumn("event_date", F.col("event_date").cast("date"))
    path = str(tmp_path / "wh_nullpred")
    sink.write_fact(df, path)
    deleted = sink.delete_fact(spark, path, F.col("temp") < 200)
    assert deleted == {f"{sink.MONTH_COL}=202401": 1}
    back = sink.read_fact(spark, path)
    got = {(r.city_name, r.temp) for r in back.collect()}
    # the NULL-temp row survived; only the TRUE-matching row is gone
    assert got == {("b", None), ("c", 300.0)}


def test_upsert_fact_collect_free_large_batch_and_null_keys(spark, tmp_path):
    """The upsert key set never materializes on the driver (Bloom
    prefilter + exact anti-join): a multi-thousand-key batch works,
    stored rows with NULL key columns are never replaced (MERGE
    equality semantics), and the exact join rescues any Bloom false
    positive."""
    from pyspark.sql import Row

    def df(rows):
        return spark.createDataFrame(rows).withColumn(
            "event_date", F.col("event_date").cast("date")
        )

    base = [
        Row(event_date="2024-01-15", city_name=f"city{i}", event_time="2024-01-15 01:00:00", temp=float(i))
        for i in range(50)
    ] + [
        Row(event_date="2024-01-15", city_name=None, event_time="2024-01-15 09:00:00", temp=999.0)
    ]
    path = str(tmp_path / "wh_ups_big")
    sink.write_fact(df(base), path)

    updates = [
        Row(event_date="2024-01-15", city_name=f"city{i}", event_time="2024-01-15 05:00:00", temp=float(i) + 1000.0)
        for i in range(0, 5000)  # 50 hits + 4950 brand-new keys
    ]
    replaced = sink.upsert_fact(
        spark, path, df(updates), keys=("event_date", "city_name")
    )
    assert replaced == {f"{sink.MONTH_COL}=202401": 50}
    back = sink.read_fact(spark, path)
    # 5000 update rows + the NULL-key stored row survive
    assert back.count() == 5001
    assert back.filter(F.col("city_name").isNull()).count() == 1
    # replaced keys carry the update values
    assert {
        r.temp for r in back.filter(F.col("city_name") == "city7").collect()
    } == {1007.0}


@pytest.mark.parametrize("verb", ["optimize", "delete", "upsert", "ttl", "parts"])
def test_maintenance_verbs_converge_after_interrupted_swap(spark, tmp_path, verb):
    """A crash inside a leaf rewrite leaves ``<leaf>__compact_tmp`` /
    ``__compact_old`` siblings. Every maintenance verb walks the table
    through sink._leaves, which recovers them: afterwards no leftover
    is on disk, none was treated as a partition, and the table reads
    back exactly its rows with an int event_month."""
    import os
    import shutil

    from pyspark.sql import Row

    from api_weather_kafka_clickhouse_spark.streaming.store import COMPACT_MARKER

    def df(rows):
        return spark.createDataFrame(
            [Row(event_date=d, city_name=c, event_time=f"{d} 01:00:00", temp=t) for c, t, d in rows]
        ).withColumn("event_date", F.col("event_date").cast("date"))

    path = str(tmp_path / "wh_swap")
    jan_rows = [("a", 1.0, "2024-01-15"), ("b", 2.0, "2024-01-15")]
    sink.write_fact(df(jan_rows + [("a", 3.0, "2024-02-15"), ("b", 4.0, "2024-02-15")]), path)
    jan = os.path.join(path, f"{sink.MONTH_COL}=202401")
    feb = os.path.join(path, f"{sink.MONTH_COL}=202402")
    # marked: the live leaf moved aside, the complete tmp not yet in
    shutil.copytree(jan, jan + "__compact_tmp")
    open(os.path.join(jan + "__compact_tmp", COMPACT_MARKER), "w").close()
    os.rename(jan, jan + "__compact_old")
    # unmarked: a partial tmp copy beside the complete live leaf
    shutil.copytree(feb, feb + "__compact_tmp")

    months = {f"{sink.MONTH_COL}=202401", f"{sink.MONTH_COL}=202402"}
    expected = {("a", 1.0), ("b", 2.0), ("a", 3.0), ("b", 4.0)}
    if verb == "optimize":
        assert set(sink.optimize_fact(spark, path, target_file_bytes=1 << 30)) <= months
    elif verb == "delete":
        assert sink.delete_fact(spark, path, F.col("city_name") == "a") == dict.fromkeys(months, 1)
        expected = {("b", 2.0), ("b", 4.0)}
    elif verb == "upsert":
        update = df([("a", 9.0, "2024-01-15")])
        replaced = sink.upsert_fact(spark, path, update, keys=("event_date", "city_name"))
        assert replaced == {f"{sink.MONTH_COL}=202401": 1}
        expected = {("a", 9.0), ("b", 2.0), ("a", 3.0), ("b", 4.0)}
    elif verb == "ttl":
        out = sink.ttl_expire(spark, path, "2024-02-01")
        assert out == {"dropped": [f"{sink.MONTH_COL}=202401"], "boundary": {}}
        expected = {("a", 3.0), ("b", 4.0)}
    else:
        parts = {r.partition: r.rows for r in sink.table_parts(spark, path).collect()}
        assert parts == dict.fromkeys(months, 2)

    assert not [d for d in os.listdir(path) if "__compact" in d]
    back = sink.read_fact(spark, path)
    assert dict(back.dtypes)[sink.MONTH_COL] == "int"
    got = [(r.city_name, r.temp) for r in back.collect()]
    assert sorted(got) == sorted(expected)
