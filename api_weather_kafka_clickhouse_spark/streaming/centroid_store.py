"""Streaming mini-batch k-means: a persistent centroid store updated
per micro-batch — the incremental twin of the batch Lloyd trainer
(``operators.similarity.kmeans_fit_assign``), after the web-scale
mini-batch k-means update rule (Sculley 2010): each cluster's centroid
moves toward its batch mean with step m_c / (n_c + m_c), where n_c is
the lifetime count the store carries. A 100 TB embedding stream is
clustered in ONE pass, no corpus rescan ever; the operational partner
of SemDeDup-style curation at ingest (assign -> cell -> per-cell dedup
downstream).

Per batch: one vectorized assignment scan (numpy matmul pandas UDF) +
one map-side-combined aggregate carrying k x dim sums and counts —
only that matrix reaches the driver. The centroid table (k rows:
cluster, centroid, n, batch_id) is rewritten via the crash-safe
tmp-marker swap shared with the cluster-label store; assignments land
as replay-idempotent per-batch partitions
(``store.append_partition``). Mini-batch updates are NOT idempotent,
so the table carries the last applied batch_id and a replayed batch
(same id after a foreachBatch retry) is a no-op once the swap has
committed — its assignment partition is already complete, and
recomputing it against the advanced centroids would relabel boundary
vectors; a crash BEFORE the swap replays from unchanged state and
rewrites an identical partition.

Determinism: cold-start centroids are the k lowest-id vectors of the
first batch (the batch trainer's convention); assignment ties break to
the lowest cluster index. For a fixed batch sequence the store state
is reproducible; replay convergence is pinned in
tests/test_centroid_store.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import _assign_udf
from .cluster_store import _recover, _swap_in
from .store import (
    RUN_FILE,  # noqa: F401  (re-exported: tests and callers reference it here)
    append_partition,
    checkpoint_run_id,  # noqa: F401  (re-exported, like RUN_FILE)
    fs_exists,
    start_foreach_batch,
    verify_stream_run,
)

KM_K = 8
KM_DIM = 64

_CENTROID_SCHEMA = "cluster int, centroid array<double>, n bigint, batch_id bigint"
ASSIGN_SCHEMA = "vec_id bigint, cluster int"


def _centroids_path(store_dir: str) -> str:
    return os.path.join(store_dir, "centroids")


def read_centroid_state(
    spark: SparkSession, store_dir: str
) -> tuple[list[list[float]], list[int], int] | None:
    """(centroids, lifetime counts, last applied batch_id), or None
    for a cold store. k x dim doubles — the sanctioned driver-side
    convergence traffic, same as the batch trainer's per-iteration
    collect."""
    path = _centroids_path(store_dir)
    _recover(spark, path)
    if not fs_exists(spark, path):
        return None
    rows = spark.read.parquet(path).collect()
    if not rows:
        return None
    by_cluster = {r["cluster"]: r for r in rows}
    k = len(by_cluster)
    cents = [list(by_cluster[c]["centroid"]) for c in range(k)]
    counts = [by_cluster[c]["n"] for c in range(k)]
    return cents, counts, rows[0]["batch_id"]


def centroid_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    k: int = KM_K,
    dim: int = KM_DIM,
    run_id: str | None = None,
) -> None:
    """Assign ``batch`` (vec_id, vec) to the stored centroids, append
    the assignments as this batch's partition, and advance the
    centroids by the mini-batch rule. An already-applied ``batch_id``
    (foreachBatch replay after the swap committed) is a complete
    no-op: its assignment partition is already on disk and was
    computed with the pre-update centroids. ``run_id`` (the streaming
    query id, passed by start_centroid_ingest) makes that guard safe:
    a batch id that regressed because the CHECKPOINT was recreated —
    not because of a replay — raises instead of silently dropping
    data (see RUN_FILE)."""
    spark = batch.sparkSession
    state = read_centroid_state(spark, store_dir)
    verify_stream_run(spark, store_dir, run_id, has_state=state is not None)
    if state is not None and batch_id <= state[2]:
        # foreachBatch replay of an already-applied batch. The
        # assignment partition from the first attempt is complete
        # (append always finishes before the swap that advanced
        # applied), and recomputing it here would use the
        # POST-update centroids — rewriting boundary vectors' labels
        # and desyncing them from the lifetime counts. Nothing to do.
        return
    if state is None:
        init = batch.orderBy("vec_id").limit(k).select("vec").collect()
        if not init:
            return  # empty cold batch: nothing to initialize from
        cents = [list(r["vec"]) for r in init]
        while len(cents) < k:  # degenerate first batch (< k rows)
            cents.append(list(cents[-1]))
        counts = [0] * k
    else:
        cents, counts, _ = state

    assigned = batch.withColumn("cluster", _assign_udf(cents)(F.col("vec")))
    append_partition(
        assigned.select("vec_id", "cluster"), os.path.join(store_dir, "assign"), batch_id
    )
    # a crash between the append above and the swap below leaves
    # applied < batch_id, so the replay re-runs from here with the
    # UNCHANGED centroids and rewrites an identical partition

    v = F.col("vec")
    stats = (
        assigned.select("cluster", *[v[i].alias(f"x{i}") for i in range(dim)])
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("m"), *[F.avg(f"x{i}").alias(f"m{i}") for i in range(dim)])
        .collect()
    )
    new_cents = [list(c) for c in cents]
    new_counts = list(counts)
    for r in stats:
        c = r["cluster"]
        m = r["m"]
        step = m / (counts[c] + m)
        mean = [r[f"m{i}"] for i in range(dim)]
        new_cents[c] = [
            cents[c][i] + step * (mean[i] - cents[c][i]) for i in range(dim)
        ]
        new_counts[c] = counts[c] + m
    table = spark.createDataFrame(
        [(c, new_cents[c], new_counts[c], batch_id) for c in range(k)],
        _CENTROID_SCHEMA,
    )
    _swap_in(spark, _centroids_path(store_dir), table)


def start_centroid_ingest(
    vecs_stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    k: int = KM_K,
    dim: int = KM_DIM,
) -> StreamingQuery:
    """Wire the mini-batch trainer into a streaming query. The stream
    must provide (vec_id, vec array<double>). Each batch carries the
    checkpoint's query id as its run identity so a recreated
    checkpoint over a kept store fails loud instead of silently
    no-opping (see RUN_FILE)."""
    return start_foreach_batch(
        vecs_stream,
        checkpoint,
        lambda df, bid, run_id: centroid_ingest_batch(df, bid, store_dir, k, dim, run_id=run_id),
    )
