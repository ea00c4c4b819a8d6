"""warehouse_queries: one client in a closed loop over a fixed query mix.

The mix is (a) weather dashboard reads over a fact warehouse laid down
in setup, micro-batch by micro-batch, with
``sources.sink.write_fact_batch`` — a date/city range read through
``read_fact_between``, ``app.warehouse_summary`` and the latest
observation per city — and (b) one registry query per operator family
over generated TPC-H-ish tables. Each cycle runs every query of the
mix once, in a seeded order (the weather reads with seeded date and
city ranges); every query is materialized into a ``noop`` sink. A run
is a whole number of cycles sized from ``--seconds``, so every query
weighs the same in every run.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import gen
from common import in_child, job_tasks, tree_files
from stats import median, percentile

TABLES_SF = 0.02
HIST_BATCHES = 4
HIST_CITIES = 2_000
HIST_STEP_S = 32 * 86_400  # one sweep every 32 days: June to September
FIRST_DT = 1_717_200_000  # 2024-06-01T00:00:00Z
REGISTRY = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_asof",
    "agg_rollup",
    "window_topk_per_group",
    "sessionize",
    "sim_topk_bruteforce",
    "text_tfidf_topk",
    "dedup_minhash_lsh",
    "geo_radius_join",
    "graph_pagerank",
)
WEATHER = ("read_fact_between", "warehouse_summary", "latest_per_city")
# a run is a fixed number of cycles, one per CYCLE_S of --seconds (at
# least one), so every run does the same work
CYCLE_S = 5.0


class _Collected:
    """A result already collected to pandas, in the shape
    ``oracle.compare`` expects of a Spark DataFrame."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — the DataFrame method name
        return self._pdf


def _day(ts: int) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).date().isoformat()


class WarehouseQueries:
    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []
        self.errors: list[str] = []

    # --- setup ---------------------------------------------------------

    def generate(self) -> None:
        ctx = self.ctx
        self.tables = ctx.path("tables")
        self.warehouse = ctx.path("warehouse")
        self.city_names, self.input_bytes = in_child(self._write_inputs)
        self.params0 = self._weather_params(random.Random(ctx.seed))

    def _write_inputs(self) -> tuple[list[str], int]:
        ctx = self.ctx
        gen.write_tables(self.tables, TABLES_SF, ctx.seed)
        os.makedirs(ctx.path("history"))
        cities = gen.city_catalog(HIST_CITIES, ctx.seed)
        size = 0
        for b in range(HIST_BATCHES):
            lines, _ = gen.burst_lines(cities, b, FIRST_DT + b * HIST_STEP_S, ctx.seed)
            size += gen.write_burst(ctx.path("history", f"b{b:04d}.jsonl"), lines)
        return sorted(c.name for c in cities), size

    def stage(self) -> None:
        """Lay the history down, one ``write_fact_batch`` per
        micro-batch."""
        from api_weather_kafka_clickhouse_spark import registry
        from api_weather_kafka_clickhouse_spark.sources.flatten import (
            flatten_weather_event_time,
            parse_raw,
        )
        from api_weather_kafka_clickhouse_spark.sources.sink import write_fact_batch

        spark = self.ctx.spark
        self.queries = registry.queries()
        for b in range(HIST_BATCHES):
            raw = parse_raw(spark.read.text(self.ctx.path("history", f"b{b:04d}.jsonl")))
            fact = flatten_weather_event_time(raw.filter(raw["raw"].isNotNull()))
            write_fact_batch(fact, self.warehouse, b)

    def _weather_params(self, rng: random.Random) -> dict:
        """A seeded date and city range; the date range is longer than
        the step between sweeps, so it always holds one or two."""
        step_days = HIST_STEP_S // 86_400
        span_days = HIST_BATCHES * step_days
        start = FIRST_DT + rng.randrange(span_days - 2 * step_days) * 86_400
        lo = rng.randrange(len(self.city_names) - 100)
        return {
            "start": _day(start),
            "end": _day(start + rng.randrange(step_days + 3, 2 * step_days) * 86_400),
            "city_lo": self.city_names[lo],
            "city_hi": self.city_names[lo + rng.randrange(20, 100)],
        }

    def _build(self, name: str, params: dict):
        """The DataFrame for one query of the mix."""
        from pyspark.sql import functions as F

        from api_weather_kafka_clickhouse_spark import app
        from api_weather_kafka_clickhouse_spark.sources import sink

        spark = self.ctx.spark
        if name == "read_fact_between":
            df = sink.read_fact_between(spark, self.warehouse, params["start"], params["end"])
            return df.filter(F.col("city_name").between(params["city_lo"], params["city_hi"]))
        if name == "warehouse_summary":
            return app.warehouse_summary(spark, self.warehouse)
        if name == "latest_per_city":
            latest = F.max(F.struct("event_time", "temperature")).alias("latest")
            return (
                sink.read_fact(spark, self.warehouse)
                .groupBy("city_name")
                .agg(latest)
                .select("city_name", "latest.event_time", "latest.temperature")
            )
        return self.queries[name](spark, self.tables)

    def warmup(self) -> None:
        """Run every query of the mix once (JVM codegen, the Arrow
        worker pool, each plan's first execution), collecting the
        results the output check compares afterwards."""
        self.first, self.warm_s = {}, {}
        for name in WEATHER + REGISTRY:
            t0 = time.perf_counter()
            self.first[name] = self._build(name, self.params0).toPandas()
            self.warm_s[name] = time.perf_counter() - t0

    # --- timed region --------------------------------------------------

    def measure(self) -> None:
        ctx = self.ctx
        spark = ctx.spark
        rng = random.Random(ctx.seed)
        self.cycles = max(1, round(ctx.seconds / CYCLE_S))
        for cycle in range(self.cycles):
            order = [(n, self._weather_params(rng)) for n in WEATHER] + [(n, None) for n in REGISTRY]
            rng.shuffle(order)
            for name, params in order:
                op = f"c{cycle}.{self.attempted}.{name}"
                if ctx.traced:
                    spark.sparkContext.setJobGroup(op, name)
                self.attempted += 1
                try:
                    with ctx.tracer.span("query", op):
                        t0 = time.perf_counter()
                        with ctx.tracer.span("query.plan", op):
                            df = self._build(name, params)
                        t1 = time.perf_counter()
                        with ctx.tracer.span("query.exec", op):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 — a failed query is counted, the loop goes on
                    self.failed += 1
                    self.errors.append(f"{op}: {exc!r}"[:300])
                    continue
                self.ops.append({"op": op, "name": name, "plan": t1 - t0, "exec": t2 - t1})
        self.elapsed = sum(o["plan"] + o["exec"] for o in self.ops)
        if ctx.traced:
            spark.sparkContext.setJobGroup("perfbench-after", "after the timed region")

    # --- output check (not timed) --------------------------------------

    def check(self) -> list[str]:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from api_weather_kafka_clickhouse_spark.oracle import compare, duckdb_connection
        from api_weather_kafka_clickhouse_spark.registry import oracle_sql

        bad = list(self.errors)
        sql = oracle_sql()
        con = duckdb_connection(self.tables)
        try:
            for name in REGISTRY:
                r = compare(_Collected(self.first[name]), con, sql[name])
                if not (r["rows_match"] and r["schema_match"] and r["hash_match"]):
                    bad.append(f"{name} differs from its DuckDB oracle: {r}")
        finally:
            con.close()

        fact = ds.dataset(self.warehouse, format="parquet", partitioning="hive").to_table(
            columns=["event_month", "event_date", "event_time", "city_name", "temperature"]
        )
        p = self.params0
        date = fact["event_date"]
        city = fact["city_name"]
        ranged = fact.filter(
            pc.and_(
                pc.and_(pc.greater_equal(date, dt.date.fromisoformat(p["start"])),
                        pc.less_equal(date, dt.date.fromisoformat(p["end"]))),
                pc.and_(pc.greater_equal(city, p["city_lo"]), pc.less_equal(city, p["city_hi"])),
            )
        )
        got = self.first["read_fact_between"]
        want_keys = sorted(zip(ranged["city_name"].to_pylist(), ranged["event_time"].to_pylist()))
        got_keys = sorted(zip(got["city_name"], (t.to_pydatetime() for t in got["event_time"])))
        if [(c, t.replace(tzinfo=None)) for c, t in want_keys] != [(c, t.replace(tzinfo=None)) for c, t in got_keys]:
            bad.append(f"read_fact_between returned {len(got)} rows; recount finds {ranged.num_rows}")

        summary = fact.group_by(["event_month", "city_name"]).aggregate(
            [("temperature", "count"), ("temperature", "min"), ("temperature", "max")]
        )
        want = {
            (m, c): (n, lo, hi)
            for m, c, n, lo, hi in zip(*(summary[k].to_pylist() for k in (
                "event_month", "city_name", "temperature_count", "temperature_min", "temperature_max")))
        }
        s = self.first["warehouse_summary"]
        have = {
            (int(m), c): (int(n), lo, hi)
            for m, c, n, lo, hi in zip(s["event_month"], s["city_name"], s["n_obs"], s["t_min"], s["t_max"])
        }
        if have != want:
            bad.append(f"warehouse_summary differs from the recount in {len(set(have.items()) ^ set(want.items()))} groups")

        last = fact.group_by("city_name").aggregate([("event_time", "max")])
        want_t = dict(zip(last["city_name"].to_pylist(), last["event_time_max"].to_pylist()))
        g = self.first["latest_per_city"]
        have_t = dict(zip(g["city_name"], (t.to_pydatetime() for t in g["event_time"])))
        if {c: t.replace(tzinfo=None) for c, t in have_t.items()} != {
            c: t.replace(tzinfo=None) for c, t in want_t.items()
        }:
            bad.append("latest_per_city differs from the recount")
        return bad

    # --- metrics -------------------------------------------------------

    def end_to_end(self) -> dict:
        lat = [o["plan"] + o["exec"] for o in self.ops]
        return {
            "latency_p50_s": (percentile(lat, 50), "s"),
            "throughput_per_s": (len(lat) / self.elapsed, "1/s"),
        }

    def layers(self) -> dict:
        from api_weather_kafka_clickhouse_spark.registry import all_specs
        from api_weather_kafka_clickhouse_spark.sources import sink

        spark = self.ctx.spark
        specs = all_specs()
        by: dict[str, list[float]] = {}
        for o in self.ops:
            if o["name"] in specs:
                module = specs[o["name"]].fn.__module__.rsplit(".", 1)[-1]
                key = f"operators.{module}_s"
            elif o["name"] == "read_fact_between":
                key = "sources.sink.read_fact_between_s"
            elif o["name"] == "warehouse_summary":
                key = "app.warehouse_summary_s"
            else:
                key = "sources.sink.read_fact_latest_s"
            by.setdefault(key, []).append(o["plan"] + o["exec"])
        out = {k: (median(v), "s") for k, v in by.items()}
        tasks = [job_tasks(spark, o["op"])[1] for o in self.ops]
        p = self.params0
        scanned = sink.read_fact_between(spark, self.warehouse, p["start"], p["end"]).inputFiles()
        leaves = {os.path.dirname(f) for f in (os.path.join(d, x) for d, _, fs in os.walk(self.warehouse)
                                               for x in fs if x.endswith(".parquet"))}
        per_batch = [tree_files(os.path.join(self.warehouse, f"batch_id={b}"), ".parquet")[0]
                     for b in range(HIST_BATCHES)]
        out.update({
            "query.plan_s": (median([o["plan"] for o in self.ops]), "s"),
            "query.exec_s": (median([o["exec"] for o in self.ops]), "s"),
            "sources.sink.files_scanned": (len(scanned), "count"),
            "sources.sink.leaf_partitions": (len(leaves), "count"),
            "sources.sink.files_per_batch": (median(per_batch), "count"),
            "sources.sink.bytes_per_input_byte": (tree_files(self.warehouse, ".parquet")[1] / self.input_bytes, "ratio"),
            "spark.tasks_per_query": (median(tasks), "count"),
        })
        return out

    def detail(self) -> dict:
        return {
            "cycles": getattr(self, "cycles", 0),
            "tables_sf": TABLES_SF,
            "history_batches": HIST_BATCHES,
            "warmup_s": {k: round(v, 4) for k, v in getattr(self, "warm_s", {}).items()},
            "ops": [{k: (round(v, 4) if isinstance(v, float) else v) for k, v in o.items()} for o in self.ops],
        }
