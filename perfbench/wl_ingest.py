"""weather_ingest: the reference's poll cycle replayed as an open loop.

Every ``PERIOD`` seconds the generator releases one burst — one
observation per simulated city — by atomically renaming a pre-staged
JSON-lines file into the directory the file source (the repo's Kafka
twin) watches. ``streaming.pipeline.start_pipeline`` commits the
bursts to a fresh warehouse on a 1 s trigger. A burst's lag runs from
its due time, not from when the generator got round to it, so a stall
anywhere counts against every event it delays. Bursts are released
half-way between trigger ticks, so no release races a tick.
"""

from __future__ import annotations

import json
import math
import os
import time

import gen
from common import in_child, job_tasks, sleep_until, tree_files
from stats import median, percentile

CITIES = 20_000
PERIOD = 2.0  # 10k events/s offered
TRIGGER_S = 1
RELEASE_PHASE_S = 0.5  # every release, seconds after a trigger tick
DRAIN_S = 30.0  # how long the run waits for the last burst to commit
FIRST_DT = 1_717_200_000  # 2024-06-01T00:00:00Z; bursts are 300 s poll cycles apart
WARM_BURST = 1_000_000  # generator stream of the warm-up bursts, apart from the measured ones
WARM_BURSTS = 1


def due_times(start: float, n: int, period: float) -> list[float]:
    return [start + i * period for i in range(n)]


def lateness(due: list[float], released: list[float]) -> list[float]:
    """How late the generator released each burst (>= 0)."""
    return [max(0.0, r - d) for d, r in zip(due, released)]


def event_lags(due: list[float], committed: list[float | None], sizes: list[int]) -> list[float]:
    """One lag per event: its burst's commit time minus its due time.
    Bursts not committed contribute nothing (they count as failed)."""
    out: list[float] = []
    for d, c, n in zip(due, committed, sizes):
        if c is not None:
            out.extend([c - d] * n)
    return out


def file_batches(source_log: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's checkpoint
    log (one JSON entry per file after a version line; compacted files
    carry every earlier entry)."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_log):
        return out
    for f in os.listdir(source_log):
        if f.startswith(".") or f.endswith(".crc"):
            continue
        with open(os.path.join(source_log, f)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(commits: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit log entry was written."""
    out: dict[int, float] = {}
    if os.path.isdir(commits):
        for f in os.listdir(commits):
            if f.isdigit():
                out[int(f)] = os.stat(os.path.join(commits, f)).st_mtime
    return out


class WeatherIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n_bursts = max(1, int(ctx.seconds / PERIOD))
        self.attempted = 0
        self.failed = 0
        self.lags: list[float] = []
        self.eps = 0.0
        self.progress: list[dict] = []

    # --- setup ---------------------------------------------------------

    def generate(self) -> None:
        self.__dict__.update(in_child(self._write_bursts))
        self.truth = gen.merge_stats(self.stats)
        # the warehouse also holds the warm-up bursts
        self.stored = gen.merge_stats(self.stats + self.warm_stats)
        self.attempted = self.truth.n_lines

    def _write_bursts(self) -> dict:
        ctx = self.ctx
        for d in ("staging", "inbox"):
            os.makedirs(ctx.path(d))
        cities = gen.city_catalog(CITIES, ctx.seed)
        out: dict[str, list] = {k: [] for k in ("names", "stats", "bytes", "warm_names", "warm_stats")}
        for b in range(self.n_bursts):
            lines, st = gen.burst_lines(cities, b, FIRST_DT + 300 * b, ctx.seed)
            name = f"burst-{b:05d}.jsonl"
            out["bytes"].append(gen.write_burst(ctx.path("staging", name), lines))
            out["names"].append(name)
            out["stats"].append(st)
        for w in range(WARM_BURSTS):
            lines, st = gen.burst_lines(cities, WARM_BURST + w, FIRST_DT - 300 * (w + 1), ctx.seed)
            name = f"burst-warm-{w}.jsonl"
            gen.write_burst(ctx.path("staging", name), lines)
            out["warm_names"].append(name)
            out["warm_stats"].append(st)
        return out

    def stage(self) -> None:
        """Nothing to stage inside the program: the bursts are files."""

    def warmup(self) -> None:
        """Start the measured query on the empty inbox, then push the
        warm-up bursts through it at the measured period (JVM codegen,
        the first micro-batches and parquet writes) and wait for their
        commits."""
        from api_weather_kafka_clickhouse_spark.streaming.pipeline import (
            read_stream_json_files,
            start_pipeline,
        )

        ctx = self.ctx
        self.query = start_pipeline(
            read_stream_json_files(ctx.spark, ctx.path("inbox")),
            ctx.path("warehouse"),
            ctx.path("checkpoint"),
            trigger_seconds=TRIGGER_S,
        )
        for i, name in enumerate(self.warm_names):
            if i:
                time.sleep(PERIOD)
            os.rename(ctx.path("staging", name), ctx.path("inbox", name))
        if self._wait_committed(self.warm_names, time.time() + 120) is None:
            raise RuntimeError(f"warm-up bursts not committed: {self.query.status}")

    def _wait_committed(self, names: list[str], deadline: float) -> tuple[dict, dict] | None:
        """Poll the checkpoint until every file in ``names`` sits in a
        committed micro-batch; returns (file -> batch, batch -> commit
        time), or None at the deadline or if the query died."""
        ckpt = self.ctx.path("checkpoint")
        while True:
            batches = file_batches(os.path.join(ckpt, "sources", "0"))
            commits = commit_times(os.path.join(ckpt, "commits"))
            if all(batches.get(n) in commits for n in names):
                return batches, commits
            if time.time() > deadline or self.query.exception() is not None:
                return None
            time.sleep(0.05)

    # --- timed region --------------------------------------------------

    def measure(self) -> None:
        ctx = self.ctx
        # processing-time triggers fire on whole multiples of the
        # interval; anchoring the schedule there gives every run the
        # same burst-to-trigger phases
        start = math.ceil(time.time() / TRIGGER_S) * TRIGGER_S + RELEASE_PHASE_S
        self.due = due_times(start, self.n_bursts, PERIOD)
        self.released = []
        for name, due in zip(self.names, self.due):
            sleep_until(due)
            with ctx.tracer.span("generator.release", name):
                os.rename(ctx.path("staging", name), ctx.path("inbox", name))
            self.released.append(time.time())
        self._wait_committed(self.names, self.due[-1] + DRAIN_S)
        ckpt = ctx.path("checkpoint")
        batches = file_batches(os.path.join(ckpt, "sources", "0"))
        commits = commit_times(os.path.join(ckpt, "commits"))
        measured = {batches.get(n) for n in self.names}
        # a batch's progress event is posted just after its commit
        wanted = {batches[n] for n in self.names + self.warm_names if batches.get(n) in commits}
        deadline = time.time() + 10
        while not wanted <= {p["batchId"] for p in self.query.recentProgress} and time.time() < deadline:
            time.sleep(0.05)
        self.all_progress = [p for p in self.query.recentProgress if p.get("numInputRows", 0) > 0]
        self.progress = [p for p in self.all_progress if p["batchId"] in measured]
        self.query.stop()
        self.committed = [commits.get(batches.get(n, -1)) for n in self.names]
        self.batch_of = [batches.get(n) for n in self.names]
        sizes = [s.n_lines - s.n_corrupt for s in self.stats]
        self.lags = event_lags(self.due, self.committed, sizes)
        done = [c for c in self.committed if c is not None]
        n_ok = sum(n for n, c in zip(sizes, self.committed) if c is not None)
        self.failed = sum(s.n_lines for s, c in zip(self.stats, self.committed) if c is None)
        self.eps = n_ok / (max(done) - self.due[0]) if done else 0.0

    # --- output check (not timed) --------------------------------------

    def check(self) -> list[str]:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        bad: list[str] = []
        if self.query.exception() is not None:
            bad.append(f"ingest query failed: {self.query.exception()}")
        if any(c is None for c in self.committed):
            bad.append(f"{self.committed.count(None)} of {self.n_bursts} bursts not committed")
            return bad
        table = ds.dataset(self.ctx.path("warehouse"), format="parquet", partitioning="hive").to_table(
            columns=["city_name", "temperature"]
        )
        cents = pc.cast(pc.round(pc.multiply(pc.cast(table["temperature"], "float64"), 100.0)), "int64")
        agg = (
            table.set_column(1, "temperature", cents)
            .group_by("city_name")
            .aggregate([("temperature", "count"), ("temperature", "sum")])
        )
        observed = {
            c: [n, s]
            for c, n, s in zip(
                agg["city_name"].to_pylist(), agg["temperature_count"].to_pylist(), agg["temperature_sum"].to_pylist()
            )
        }
        want_rows = self.stored.n_lines - self.stored.n_corrupt
        if table.num_rows != want_rows:
            bad.append(f"warehouse holds {table.num_rows} rows; {want_rows} valid events were generated")
        if observed != self.stored.per_city:
            diff = sum(1 for c in self.stored.per_city if observed.get(c) != self.stored.per_city[c])
            bad.append(f"per-city count/temperature checksum differs for {diff} cities")
        seen_corrupt = sum(p["observedMetrics"]["ingest"]["n_corrupt"] for p in self.all_progress)
        if seen_corrupt != self.stored.n_corrupt:
            bad.append(f"pipeline counted {seen_corrupt} corrupt messages; {self.stored.n_corrupt} were injected")
        return bad

    # --- metrics -------------------------------------------------------

    def end_to_end(self) -> dict:
        return {
            "latency_p50_s": (percentile(self.lags, 50), "s"),
            "throughput_per_s": (self.eps, "1/s"),
        }

    def layers(self) -> dict:
        from api_weather_kafka_clickhouse_spark.sources.sink import write_fact_batch
        from api_weather_kafka_clickhouse_spark.streaming.pipeline import transform

        ctx = self.ctx
        spark = ctx.spark
        dur = [p["durationMs"] for p in self.progress]

        def med_ms(*keys: str) -> float:
            return median([sum(d.get(k, 0) for k in keys) for d in dur])

        jobs, tasks = job_tasks(spark, str(self.query.runId))
        files = [tree_files(os.path.join(ctx.path("warehouse"), f"batch_id={p['batchId']}"), ".parquet")
                 for p in self.progress]
        wh_files, wh_bytes = tree_files(ctx.path("warehouse"), ".parquet")
        per_burst = {}
        for b in self.batch_of:
            per_burst[b] = per_burst.get(b, 0) + 1
        # replay the same bursts as static frames: the flatten layer
        # alone into noop, then the sink write of the same rows already
        # flattened and cached, so the write is timed without the
        # transform it would otherwise re-run
        t_flat, t_write, rows = [], [], []
        for i, name in enumerate(self.names):
            path = ctx.path("inbox", name)
            df = transform(spark.read.schema("value string").text(path))
            with ctx.tracer.span("sources.flatten.transform", name):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t_flat.append(time.perf_counter() - t)
            flat_rows = df.persist()
            flat_rows.count()
            with ctx.tracer.span("sources.sink.write_fact_batch", name):
                t = time.perf_counter()
                write_fact_batch(flat_rows, ctx.path("replay_wh"), i)
                t_write.append(time.perf_counter() - t)
            flat_rows.unpersist(blocking=True)
            rows.append(self.stats[i].n_lines - self.stats[i].n_corrupt)
        flat = median(t_flat)
        burst_lags = [c - d for d, c in zip(self.due, self.committed)]
        return {
            "streaming.pipeline.trigger_ms": (med_ms("triggerExecution"), "ms"),
            "streaming.pipeline.add_batch_ms": (med_ms("addBatch"), "ms"),
            "streaming.pipeline.plan_ms": (med_ms("queryPlanning"), "ms"),
            "streaming.pipeline.offsets_ms": (med_ms("latestOffset", "getBatch", "walCommit"), "ms"),
            "streaming.pipeline.commit_ms": (med_ms("commitOffsets"), "ms"),
            "streaming.pipeline.rows_per_batch": (median([p["numInputRows"] for p in self.progress]), "count"),
            "streaming.pipeline.backlog_files_max": (max(per_burst.values()), "count"),
            "streaming.pipeline.lag_max_s": (max(burst_lags), "s"),
            "generator.lateness_max_s": (max(lateness(self.due, self.released)), "s"),
            "sources.flatten.transform_s": (flat, "s"),
            "sources.flatten.rows_per_s": (median(rows) / flat, "1/s"),
            "sources.sink.write_self_s": (median(t_write), "s"),
            "sources.sink.files_per_batch": (median([f[0] for f in files]), "count"),
            "sources.sink.bytes_per_input_byte": (wh_bytes / sum(self.bytes), "ratio"),
            "spark.jobs_per_batch": (jobs / len(self.progress), "count"),
            "spark.tasks_per_batch": (tasks / len(self.progress), "count"),
        }

    def detail(self) -> dict:
        return {
            "bursts": self.n_bursts,
            "cities": CITIES,
            "period_s": PERIOD,
            "burst_lag_s": [None if c is None else round(c - d, 4) for d, c in zip(self.due, self.committed)],
            "lateness_s": [round(x, 4) for x in lateness(self.due, self.released)],
            "batch_of_burst": self.batch_of,
            "corrupt": self.truth.n_corrupt,
            "missing_fields": self.truth.n_missing,
        }
