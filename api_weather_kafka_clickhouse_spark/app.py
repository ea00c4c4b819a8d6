"""End-to-end pipeline orchestration — the reference's two supervised
processes (producer: Producer_clickhouse.py:94-142, consumer:
Consumer_clickhouse.py:97-188) as composable Spark jobs.

Batch cycle (`run_batch_cycle`): one producer sweep + warehouse
append, the unit the reference repeats every 300 s (A11). Scheduling
is the caller's: a driver loop, cron, or a streaming query with
`Trigger.ProcessingTime("300 seconds")` over the Kafka topics
(streaming/pipeline.start_pipeline) — in which case producer and
consumer decouple exactly like the reference's two supervisord
processes, with Kafka in between.

The fetcher is injectable (sources/http_weather) so the whole cycle
runs hermetically in tests; production passes
`make_requests_fetcher(api_key)`.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.stage import live_checkpoint_dirs, reclaim_checkpoints, scoped_checkpoint
from .sources.cities import assign_topics, load_cities, route_topic
from .sources.flatten import flatten_weather, parse_raw
from .sources.http_weather import FetchFn, fetch_weather
from .sources.sink import read_fact, write_fact


def run_batch_cycle(
    spark: SparkSession,
    cities_path: str,
    fetcher: FetchFn,
    warehouse_path: str,
    archive_path: str | None = None,
) -> dict[str, int]:
    """One full producer→consumer cycle against the warehouse.

    cities JSON → filter RU (A1/A2) → topic assignment (A3/A4) →
    parallel fetch (A7, vs the reference's sequential loop) → archive
    copy (A9, optional) → parse/flatten (A14-A18) → partitioned
    sorted append (A19/B3-B5). Returns counters (A21 parity).
    """
    cities = load_cities(spark, cities_path)
    routed = assign_topics(cities)
    fetched = fetch_weather(cities, fetcher)
    fetched = route_topic(fetched, routed.select("name", "topic"))

    # the fetch is a non-idempotent external call: materialize its
    # result to scratch storage ONCE, eagerly, so the archive write,
    # the fact append, and the counters all read the same sweep.
    # A persist() would be best-effort only — cache eviction or
    # executor loss silently re-executes the HTTP fetch for later
    # actions; the storage checkpoint is a hard once-only guarantee.
    # SCOPED: all consumers finish inside this cycle, and the polling
    # loop runs forever — an unscoped checkpoint would leak one full
    # sweep of scratch files per cycle until the volume fills.
    with scoped_checkpoint(fetched, "fetch_cycle") as sweep:
        ok = sweep.filter(F.col("value").isNotNull())
        if archive_path is not None:
            # A9: raw-payload archive (one JSON file tree per cycle)
            ok.select("name", "topic", "value").write.mode("append").json(archive_path)

        fact = flatten_weather(parse_raw(ok, "value").filter(F.col("raw").isNotNull()))
        write_fact(fact, warehouse_path)

        n_cities = cities.count()
        n_ok = ok.count()
    return {
        "n_cities": n_cities,
        "n_fetched": n_ok,
        "n_failed": n_cities - n_ok,
    }


def run_polling_loop(
    spark: SparkSession,
    cities_path: str,
    fetcher: FetchFn,
    warehouse_path: str,
    archive_path: str | None = None,
    interval_seconds: float = 300.0,
    error_backoff_seconds: float = 60.0,
    max_cycles: int | None = None,
    sleep: Callable[[float], None] = time.sleep,
    reclaim_scratch: bool = True,
) -> list[dict[str, int]]:
    """The reference producer's self-scheduling loop (A11,
    Producer_clickhouse.py:100-142): run one batch cycle, sleep 300 s,
    repeat; on a cycle error sleep 60 s and retry. `sleep` and
    `max_cycles` are injectable so tests drive the loop hermetically;
    production runs with the defaults (`max_cycles=None` = forever).

    Between cycles the loop reclaims checkpoint scratch dirs CREATED
    DURING THE CYCLE IT JUST RAN (a safe point: the cycle's frames are
    fully consumed — run_batch_cycle returns only counters). The
    created-set is the before/after difference of the tracked dirs
    around each `run_batch_cycle` call: a snapshot taken once at loop
    entry (the round-5 shape) could not tell the loop's own dirs from
    dirs other code in a shared session registered BETWEEN cycles, and
    reclaimed those callers' live checkpoints out from under their
    DataFrames (round-5 review finding). A dir someone else registers
    concurrently DURING a cycle is still indistinguishable from the
    cycle's own — run the loop in its own session/process if other
    code checkpoints concurrently with a sweep. Without the reclaim, a
    run-forever loop under SPARK_GRAFT_SCRATCH_DIR accumulates one
    result-checkpoint per operator call until the scratch volume
    fills. `reclaim_scratch=False` disables it entirely.

    Returns the per-cycle counter dicts (A21 parity); failed cycles
    record `{"error": 1}`.
    """
    reports: list[dict[str, int]] = []
    cycles = 0
    while max_cycles is None or cycles < max_cycles:
        cycles += 1
        before_cycle = set(live_checkpoint_dirs())
        try:
            reports.append(
                run_batch_cycle(spark, cities_path, fetcher, warehouse_path, archive_path)
            )
            delay = interval_seconds
        except Exception:  # noqa: BLE001 — reference retries any cycle error
            reports.append({"error": 1})
            delay = error_backoff_seconds
        if reclaim_scratch:
            # reclaim ONLY what this cycle created: everything tracked
            # now that was already tracked before the cycle is excluded
            keep = tuple(d for d in live_checkpoint_dirs() if d in before_cycle)
            reclaim_checkpoints(spark, exclude=keep)
        if max_cycles is None or cycles < max_cycles:
            sleep(delay)
    return reports


def warehouse_summary(spark: SparkSession, warehouse_path: str) -> DataFrame:
    """The §2-C query layer over the weather fact table itself:
    per city/month aggregates with partition pruning on event_month."""
    fact = read_fact(spark, warehouse_path)
    return fact.groupBy("event_month", "city_name").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.min("temperature").alias("t_min"),
        F.max("temperature").alias("t_max"),
        (
            F.sum(F.col("temperature").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("t_avg"),
    )
