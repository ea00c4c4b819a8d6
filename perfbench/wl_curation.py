"""curation_backfill: a closed loop of ``streaming.curation.curate_batch``.

The generated documents are cut into equal slices in seeded-hash
order. The first ``WARM_SLICES`` are the warm-up batch; then each batch of
``BATCH_SLICES`` slices is fed, one after the other, into the same
fresh store. Each batch
joins against what the earlier batches wrote to the signature and label
stores. The decontamination gate gets real Bloom bits from
``operators.bloom.eval_bloom_bits``.
"""

from __future__ import annotations

import time

import gen
from common import in_child, job_tasks, tree_files
from stats import median

DOCS_SF = 0.1  # 5,000 documents
SLICES = 100  # of 50 documents
# the warm-up and every timed batch are 100 documents: enough for dup
# pairs (and so a label fold) in each, while fixed job cost dominates
BATCH_SLICES = 2
WARM_SLICES = 2
# a run times one batch per BATCH_S of --seconds (at least one), the
# same count in every run
BATCH_S = 10.0


class CurationBackfill:
    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.batches: list[dict] = []
        self.errors: list[str] = []

    # --- setup ---------------------------------------------------------

    def generate(self) -> None:
        self.tables = self.ctx.path("tables")
        in_child(lambda: gen.write_tables(self.tables, DOCS_SF, self.ctx.seed, ("documents",)))

    def stage(self) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from api_weather_kafka_clickhouse_spark.operators.bloom import eval_bloom_bits
        from api_weather_kafka_clickhouse_spark.streaming.curation import curation_dirs
        from api_weather_kafka_clickhouse_spark.tables import load

        ctx = self.ctx
        spark = ctx.spark
        self.bits = eval_bloom_bits(spark, self.tables)
        docs = load(spark, "documents", self.tables).select("doc_id", "text")
        # equal slices in seeded-hash order (slice 0 .. SLICES-1)
        order = Window.orderBy(F.xxhash64("doc_id", F.lit(ctx.seed)), "doc_id")
        self.docs = docs.withColumn("_s", F.ntile(SLICES).over(order) - 1).persist()
        sizes = {r["_s"]: r["n"] for r in self.docs.groupBy("_s").agg(F.count("*").alias("n")).collect()}
        self.slice_sizes = [sizes.get(s, 0) for s in range(SLICES)]
        self.dirs = curation_dirs(ctx.path("store"))

    def _slices(self, b: int) -> list[int]:
        """The slices of batch ``b``; batch 0 is the warm-up."""
        if b == 0:
            return list(range(WARM_SLICES))
        return list(range(WARM_SLICES + (b - 1) * BATCH_SLICES, WARM_SLICES + b * BATCH_SLICES))

    def _batch(self, b: int):
        from pyspark.sql import functions as F

        return self.docs.filter(F.col("_s").isin(self._slices(b))).drop("_s")

    def warmup(self) -> None:
        """The warm-up slices into the measured store, untimed: JVM
        codegen and the first store writes, so every timed batch joins
        against a non-empty store."""
        from api_weather_kafka_clickhouse_spark.streaming.curation import curate_batch

        curate_batch(self._batch(0), 0, self.dirs, self.bits)
        self.done = self._slices(0)

    # --- timed region --------------------------------------------------

    def measure(self) -> None:
        from api_weather_kafka_clickhouse_spark.streaming.curation import curate_batch

        ctx = self.ctx
        spark = ctx.spark
        n_batches = (SLICES - WARM_SLICES) // BATCH_SLICES
        for b in range(1, 1 + min(n_batches, max(1, round(ctx.seconds / BATCH_S)))):
            if ctx.traced:
                spark.sparkContext.setJobGroup(f"curate-{b}", "curate_batch")
            stages: dict[str, float] = {}
            size = sum(self.slice_sizes[s] for s in self._slices(b))
            self.attempted += size
            batch = self._batch(b)
            try:
                with ctx.tracer.span("streaming.curation.curate_batch", str(b)):
                    t0 = time.perf_counter()
                    curate_batch(batch, b, self.dirs, self.bits, stage_times=stages)
                    t1 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — a failed batch is counted, the loop goes on
                self.failed += size
                self.errors.append(f"batch {b}: {exc!r}"[:300])
                continue
            self.batches.append({"batch": b, "docs": size, "s": t1 - t0, "stages": stages})
            self.done += self._slices(b)
        if ctx.traced:
            spark.sparkContext.setJobGroup("perfbench-after", "after the timed region")

    # --- output check (not timed) --------------------------------------

    def _gated(self):
        """The processed docs that pass both gates."""
        from pyspark.sql import functions as F

        from api_weather_kafka_clickhouse_spark.operators.bloom import decontam_filter
        from api_weather_kafka_clickhouse_spark.operators.corpus_quality import gopher_filter

        seen = self.docs.filter(F.col("_s").isin(self.done)).drop("_s")
        return seen, decontam_filter(gopher_filter(seen), self.bits)

    def check(self) -> list[str]:
        from api_weather_kafka_clickhouse_spark.streaming.curation import read_survivors, resolve_canonical
        from api_weather_kafka_clickhouse_spark.streaming.store import read_store

        bad = list(self.errors)
        if not self.batches:
            return bad + ["no batch completed"]
        spark = self.ctx.spark
        base = self.ctx.path("store")
        _, gated = self._gated()
        gated_ids = {r["doc_id"] for r in gated.select("doc_id").collect()}
        survivors = {r["doc_id"] for r in read_survivors(spark, base).select("doc_id").collect()}
        pairs = read_store(spark, self.dirs["pairs"], "dropped_id bigint, kept_id bigint, kind string")
        pairs = {(r["dropped_id"], r["kept_id"]) for r in pairs.select("dropped_id", "kept_id").collect()}
        dropped = {d for d, _ in pairs}
        if survivors & dropped:
            bad.append(f"{len(survivors & dropped)} docs are both survivors and dropped")
        if survivors | dropped != gated_ids:
            bad.append(
                f"survivors ({len(survivors)}) + dropped ({len(dropped)}) != gated docs ({len(gated_ids)})"
            )
        if pairs:
            # every dropped doc must resolve to the same canonical id as
            # the doc it was dropped against, in a cluster that holds a
            # survivor. (The canonical id itself is the cluster's
            # smallest doc id, which is a dropped doc whenever the kept
            # doc has the larger id, so it is not checked to be one.)
            ids = sorted({i for p in pairs for i in p})
            frame = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
            canon = {r["doc_id"]: r["canonical_id"] for r in resolve_canonical(spark, base, frame).collect()}
            split = sum(1 for d, k in pairs if canon[d] != canon[k])
            if split:
                bad.append(f"{split} dropped docs resolve to another canonical than their kept doc")
            with_survivor = {canon[i] for i in ids if i in survivors}
            orphans = {canon[d] for d in dropped} - with_survivor
            if orphans:
                bad.append(f"{len(orphans)} clusters of dropped docs hold no survivor")
        self.counts = {"gated": len(gated_ids), "survivors": len(survivors), "dropped": len(dropped)}
        return bad

    # --- metrics -------------------------------------------------------

    def end_to_end(self) -> dict:
        docs = sum(b["docs"] for b in self.batches)
        return {
            "latency_p50_s": (median([b["s"] for b in self.batches]), "s"),
            "throughput_per_s": (docs / sum(b["s"] for b in self.batches), "1/s"),
        }

    def layers(self) -> dict:
        spark = self.ctx.spark
        seen, gated = self._gated()
        n_seen, n_gated = seen.count(), gated.count()

        def stage(key: str) -> float:
            return median([b["stages"].get(key, 0.0) for b in self.batches])

        jobs = [job_tasks(spark, f"curate-{b['batch']}") for b in self.batches]
        files, size = tree_files(self.ctx.path("store"), ".parquet")
        return {
            "streaming.dedup_ingest.sign_join_s": (stage("sign_join_survivors"), "s"),
            "streaming.dedup_ingest.index_write_s": (stage("index_write"), "s"),
            "streaming.dedup_ingest.pairs_write_s": (stage("pairs_write"), "s"),
            "streaming.cluster_store.label_fold_s": (stage("label_fold"), "s"),
            "operators.corpus_quality.gate_pass_ratio": (n_gated / n_seen, "ratio"),
            "streaming.dedup_ingest.survivor_ratio": (self.counts["survivors"] / max(1, n_gated), "ratio"),
            "streaming.store.bytes": (size, "B"),
            "streaming.store.files": (files, "count"),
            "spark.jobs_per_batch": (median([j[0] for j in jobs]), "count"),
            "spark.tasks_per_batch": (median([j[1] for j in jobs]), "count"),
        }

    def detail(self) -> dict:
        return {
            "batches": [{k: v for k, v in b.items()} for b in self.batches],
            "slice_sizes": self.slice_sizes,
            "counts": getattr(self, "counts", {}),
        }
