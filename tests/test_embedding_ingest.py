"""Incremental streaming embedding dedup: new vectors are admitted
only if no near-dup (exact cosine >= threshold on LSH-band
candidates) exists in the persistent store or earlier in their own
batch; admitted vectors extend the band index."""

from __future__ import annotations

import random

from api_weather_kafka_clickhouse_spark.streaming import embedding_ingest
import pytest

# minutes-scale streaming/crash-window suite -> slow lane; the fast
# per-commit gate is `pytest -m "not slow"` (see pytest.ini)
pytestmark = pytest.mark.slow

_rng = random.Random(7)
DIM = 64


def _vec():
    return [_rng.gauss(0.0, 1.0) for _ in range(DIM)]


def _near(v, eps=1e-3):
    return [x + _rng.gauss(0.0, eps) for x in v]


V1, V2, V3 = _vec(), _vec(), _vec()


def _mk(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, vec array<double>")


def test_embedding_ingest_across_and_within_batches(spark, tmp_path):
    store = str(tmp_path / "estore")
    out = str(tmp_path / "esurv")
    embedding_ingest.embedding_ingest_batch(_mk(spark, [(1, V1), (2, V2)]), 0, store, out)
    # near-dup of stored 1, a new distinct vector, and a within-batch
    # near-dup of that new vector (keep-lowest id)
    embedding_ingest.embedding_ingest_batch(
        _mk(spark, [(3, _near(V1)), (4, V3), (5, _near(V3))]), 1, store, out
    )
    survivors = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert survivors == {1, 2, 4}, survivors
    # the store indexes exactly the survivors
    assert {r.vec_id for r in spark.read.parquet(store + "/vecs").collect()} == {1, 2, 4}
    n_bands = spark.read.parquet(store + "/bands").count()
    from api_weather_kafka_clickhouse_spark.operators.similarity import LSH_BANDS

    assert n_bands == 3 * LSH_BANDS


def test_embedding_ingest_replay_idempotent_and_edge_batches(spark, tmp_path):
    """Replaying a batch id rewrites its own partitions (no
    double-admission); empty batches are safe no-ops; duplicate
    vec_id rows collapse; an all-zero vector (null cosine) is
    admitted, never similarity-dropped, and doesn't poison later
    batches."""
    store = str(tmp_path / "estore_r")
    out = str(tmp_path / "esurv_r")
    zero = [0.0] * DIM
    b0 = _mk(spark, [(1, V1), (2, zero), (2, zero), (3, V2)])
    for _ in range(2):  # replay
        embedding_ingest.embedding_ingest_batch(b0, 5, store, out)
    rows = spark.read.parquet(out).collect()
    assert {r.vec_id for r in rows} == {1, 2, 3}
    assert len(rows) == 3, "replay + duplicate ids must not double-admit"

    embedding_ingest.embedding_ingest_batch(
        _mk(spark, []), 6, store, out
    )
    # zero vector in a later batch: cosine vs stored zero is null ->
    # not similarity-dropped (ids differ, so it is admitted)
    embedding_ingest.embedding_ingest_batch(_mk(spark, [(9, zero)]), 7, store, out)
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == {1, 2, 3, 9}


def test_embedding_ingest_streaming_wiring(spark, tmp_path):
    """End-to-end through real Structured Streaming queries (file
    source, availableNow trigger — each start drains what is
    available, then stops, the production cadence for incremental
    ingest): the second start resumes from the checkpoint, processes
    only the new file, and dedups against the persistent store."""
    import json

    d = tmp_path / "ein"
    d.mkdir()
    store = str(tmp_path / "estore_s")
    out = str(tmp_path / "esurv_s")
    ckpt = str(tmp_path / "eckpt")

    def run_once():
        stream = spark.readStream.schema("vec_id long, vec array<double>").json(str(d))
        q = embedding_ingest.start_embedding_ingest(stream, store, out, ckpt)
        q.awaitTermination()  # availableNow: terminates when drained

    (d / "b0.json").write_text(json.dumps({"vec_id": 1, "vec": V1}))
    run_once()
    (d / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in (
                {"vec_id": 2, "vec": _near(V1)},  # near-dup of stored 1
                {"vec_id": 3, "vec": V2},
            )
        )
    )
    run_once()
    assert {r.vec_id for r in spark.read.parquet(out).collect()} == {1, 3}


def test_embedding_ingest_survivor_invariant_under_random_splits(spark, tmp_path):
    """Property: however a corpus is split into ingest batches, (a)
    the same split replays to the same survivor set (determinism),
    and (b) no two SURVIVORS are band-matched near-dups (cosine >=
    threshold) — the store plus in-batch keep-lowest must never admit
    both ends of a detectable near-dup pair, regardless of which
    batch each end arrived in."""
    from pyspark.sql import functions as F

    from api_weather_kafka_clickhouse_spark.streaming.embedding_ingest import (
        EMB_SIM_THRESHOLD,
        _bands_of,
        _safe_cosine,
    )

    rng = random.Random(31)
    base = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(8)]
    # 24 vectors: 8 bases, each with 2 near-dups (3 per cluster)
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):
            rows.append((vid, [x + rng.gauss(0.0, 1e-3) for x in b]))
            vid += 1

    for seed in (0, 1):
        r2 = random.Random(seed)
        shuffled = rows[:]
        r2.shuffle(shuffled)
        cuts = sorted(r2.sample(range(1, len(rows)), 2))
        batches = [
            shuffled[: cuts[0]],
            shuffled[cuts[0] : cuts[1]],
            shuffled[cuts[1] :],
        ]
        store = str(tmp_path / f"pstore_{seed}")
        out = str(tmp_path / f"psurv_{seed}")
        for bid, batch in enumerate(batches):
            embedding_ingest.embedding_ingest_batch(_mk(spark, batch), bid, store, out)
        ids1 = {r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()}
        # determinism: replay every batch, same result (re-read after —
        # the replay rewrites partitions, staling any earlier frame)
        for bid, batch in enumerate(batches):
            embedding_ingest.embedding_ingest_batch(_mk(spark, batch), bid, store, out)
        surv = spark.read.parquet(out).select("vec_id", "vec")
        ids2 = {r.vec_id for r in surv.select("vec_id").collect()}
        assert ids1 == ids2, f"seed {seed}: replay changed the survivor set"

        # invariant: no band-matched surviving pair above threshold
        bands = _bands_of(surv)
        pa = bands.select(F.col("vec_id").alias("a"), "band_idx", "band_key")
        pb = bands.select(F.col("vec_id").alias("b"), "band_idx", "band_key")
        cand = (
            pa.join(pb, ["band_idx", "band_key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
            .join(surv.select(F.col("vec_id").alias("a"), F.col("vec").alias("va")), "a")
            .join(surv.select(F.col("vec_id").alias("b"), F.col("vec").alias("vb")), "b")
        )
        offenders = cand.filter(
            _safe_cosine(F.col("va"), F.col("vb")) >= EMB_SIM_THRESHOLD
        ).collect()
        assert not offenders, f"seed {seed}: near-dup survivors {offenders}"


def test_embedding_compact_store_and_crash_recovery(spark, tmp_path):
    """Compaction folds the per-batch partitions and — via the shared
    crash-safe swap — a rerun after the tmp-only crash state (the
    round-5 window) recovers the index instead of silently emptying
    it: the recovered store still drops a near-dup."""
    import os as _os
    import shutil

    store = str(tmp_path / "estore_c")
    out = str(tmp_path / "esurv_c")
    embedding_ingest.embedding_ingest_batch(_mk(spark, [(1, V1)]), 0, store, out)
    embedding_ingest.embedding_ingest_batch(_mk(spark, [(2, V2)]), 1, store, out)
    assert embedding_ingest.compact_store(spark, store) == 2
    for sub in ("vecs", "bands"):
        parts = [
            p
            for p in _os.listdir(_os.path.join(store, sub))
            if p.startswith("ingest_batch=")
        ]
        assert parts == ["ingest_batch=-1"], (sub, parts)
    # simulate the tmp-only crash state, then recover
    for sub in ("vecs", "bands"):
        p = _os.path.join(store, sub)
        shutil.move(p, p + "__compact_tmp")
    assert embedding_ingest.compact_store(spark, store) == 2
    embedding_ingest.embedding_ingest_batch(
        _mk(spark, [(8, _near(V1)), (9, V3)]), 2, store, out
    )
    ids = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert 8 not in ids and 9 in ids, ids


def test_embedding_pairs_log_and_incremental_clusters(spark, tmp_path):
    """pairs_dir logs (dropped_id, kept_id, kind) per drop decision,
    replay-idempotently, and merge_components folds the logged edges
    into an incremental clustering — the vector twin of the text
    ingest's provenance contract."""
    from pyspark.sql import functions as F

    from api_weather_kafka_clickhouse_spark.operators import dedup as dedup_ops

    store = str(tmp_path / "estore_p")
    out = str(tmp_path / "esurv_p")
    pairs = str(tmp_path / "epairs")
    embedding_ingest.embedding_ingest_batch(
        _mk(spark, [(1, V1), (2, V2)]), 0, store, out, pairs_dir=pairs
    )
    b1 = _mk(spark, [(3, _near(V1)), (4, V3), (5, _near(V3))])
    embedding_ingest.embedding_ingest_batch(b1, 1, store, out, pairs_dir=pairs)

    def read_pairs():
        return {
            (r.dropped_id, r.kept_id, r.kind)
            for r in spark.read.parquet(pairs).collect()
        }

    expected = {(3, 1, "cos_store"), (5, 4, "cos_batch")}
    assert read_pairs() == expected
    # replay rewrites the same rows
    embedding_ingest.embedding_ingest_batch(b1, 1, store, out, pairs_dir=pairs)
    assert read_pairs() == expected

    empty = spark.createDataFrame([], "doc_id bigint, canonical_id bigint")
    edges = spark.read.parquet(pairs).select(
        F.col("dropped_id").alias("doc_a"), F.col("kept_id").alias("doc_b")
    )
    labels = {
        (r.doc_id, r.canonical_id)
        for r in dedup_ops.merge_components(empty, edges).collect()
    }
    assert labels == {(1, 1), (3, 1), (4, 4), (5, 4)}


# (rows of one bad id) — each used to raise inside the band matmul,
# and every replay raised again, so the one row wedged the stream
_BAD_VECS = {
    "null_vec": lambda i: [(i, None)],
    "wrong_dim_vec": lambda i: [(i, [1.0] * 10)],
    "dup_id_null_copy_wins": lambda i: [(i, V3), (i, None)],
}


@pytest.mark.parametrize("case", list(_BAD_VECS))
def test_bad_vector_is_admitted_unindexed(spark, tmp_path, case):
    """A vector that is NULL or not of the plane dimension gets no band
    keys: it is admitted, never similarity-dropped, and the batch's
    good rows are still deduped."""
    store = str(tmp_path / "estore_bad")
    out = str(tmp_path / "esurv_bad")
    bad = _BAD_VECS[case]
    embedding_ingest.embedding_ingest_batch(_mk(spark, [(1, V1), *bad(2)]), 0, store, out)
    embedding_ingest.embedding_ingest_batch(_mk(spark, [(3, _near(V1)), *bad(4)]), 1, store, out)
    survivors = {r.vec_id: r.vec for r in spark.read.parquet(out).collect()}
    assert set(survivors) == {1, 2, 4}
    assert survivors[2] == survivors[4] == bad(0)[-1][1]
    assert {r.vec_id for r in spark.read.parquet(store + "/bands").collect()} == {1}
