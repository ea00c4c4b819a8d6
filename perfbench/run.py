"""Workload benchmark for the weather ingest pipeline, the warehouse
read side and the curation stores.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Every run gets a fresh temp root under
``.perfbench_run/`` (warehouse, checkpoints, stores, Spark local dirs,
working directory), removed at exit. Details that do not fit the
result line (host noise, raw samples, spans) go to ``.perfbench_out/``.
The last line of standard output is the result object; see
perfbench/README.md for the metrics and what each layer metric should
move.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from host import HostNoise, RssSampler, heap_after_gc_peak_mb  # noqa: E402
from spans import Tracer  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)


@dataclass
class Context:
    seed: int
    seconds: float
    tracer: Tracer
    root: str
    spark: object = None
    setup: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


def _hermetic_root(workload: str) -> str:
    root = os.path.join(REPO, ".perfbench_run", f"{workload}-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"))
    os.makedirs(os.path.join(root, "spark-local"))
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(root, "stage")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    os.chdir(root)
    return root


def start_spark(root: str):
    from api_weather_kafka_clickhouse_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    return get_spark(
        "perfbench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xlog:gc:file={root}/gc.log"
            ),
        },
    )


def _driver_pids() -> list[int]:
    """This Python process and, once started, the driver JVM."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return [os.getpid()] + ([proc.pid] if proc is not None else [])


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


WORKLOADS = {
    "weather_ingest": ("wl_ingest", "WeatherIngest"),
    "warehouse_queries": ("wl_queries", "WarehouseQueries"),
    "curation_backfill": ("wl_curation", "CurationBackfill"),
}


def _all_layers(workload: str, measured: dict) -> dict:
    """For a workload BENCHMARK.json lists, every per-layer metric it
    lists, in its order: a traced run reports each of them, and a layer
    this workload does not call reads 0. A workload run only by name
    reports what it measured."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if workload not in {w["name"] for w in bench["workloads"]}:
        return measured
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    unknown = set(measured) - set(listed)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {name: measured.get(name, (0.0, unit)) for name, unit in listed.items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import api_weather_kafka_clickhouse_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout ({exc})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(importlib.import_module(module), cls)

    # a terminated run still stops the JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    noise = HostNoise()
    root = _hermetic_root(args.workload)
    ctx = Context(args.seed, args.seconds, Tracer(bool(args.trace)), root)
    wl = workload_cls(ctx)
    failures: list[str] = []
    jvm_uptime_s = 0.0
    try:
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.data"):
            wl.generate()  # in a forked child, before the JVM exists
        t1 = time.perf_counter()
        # memory is sampled over the program's work only: the session,
        # its part of staging, warm-up and the timed region
        with RssSampler(_driver_pids) as rss:
            with ctx.tracer.span("session.get_spark"):
                ctx.spark = start_spark(root)
            t2 = time.perf_counter()
            with ctx.tracer.span("setup.data"):
                wl.stage()
            t3 = time.perf_counter()
            with ctx.tracer.span("setup.warmup"):
                wl.warmup()
            t4 = time.perf_counter()
            wl.measure()
            jvm_uptime_s = ctx.spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1000
        ctx.setup = {
            "session.get_spark_s": t2 - t1,
            "setup.data_s": (t1 - t0) + (t3 - t2),
            "setup.warmup_s": t4 - t3,
        }
        failures = wl.check()
        layers = wl.layers() if ctx.traced else {}
        e2e = {"setup_s": (t4 - t0, "s"), **wl.end_to_end()}
    finally:
        try:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
                # the log is complete once the JVM has exited
                memory = {
                    "process.peak_rss_mb": (rss.peak / 2**20, "MB"),
                    "jvm.heap_after_gc_peak_mb": (
                        heap_after_gc_peak_mb(os.path.join(root, "gc.log"), jvm_uptime_s), "MB"),
                }
        finally:
            os.chdir(REPO)
            shutil.rmtree(root, ignore_errors=True)
            parent = os.path.dirname(root)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    host = noise.finish()
    attempted, failed = wl.attempted, wl.failed + len(failures)
    if ctx.traced:
        layers["trace.spans"] = (len(ctx.tracer.spans), "count")
        layers["trace.cost_s"] = (ctx.tracer.cost_s, "s")
        layers["trace.latency_p50_s"] = e2e["latency_p50_s"]
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"]
        layers.update({k: (v, "s") for k, v in ctx.setup.items()})
        layers.update(memory)
        metrics = _all_layers(args.workload, layers)
    else:
        metrics = e2e
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "host": host, "failures": failures, "setup": ctx.setup,
        "end_to_end": {k: v[0] for k, v in e2e.items()}, "memory": {k: v[0] for k, v in memory.items()}, "detail": wl.detail(),
    }
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    if ctx.traced:
        ctx.tracer.write(os.path.join(out_dir, f"spans-{tag}.json"))
    print(f"perfbench host: {json.dumps(host)}", file=sys.stderr)
    for f in failures:
        print(f"perfbench check failed: {f}", file=sys.stderr)
    result = {
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
