"""Shared persistent-store machinery for every store-backed ingest
module (dedup, embedding, segment, ER, SCD2, rollup, agg-state,
centroid and cluster stores) and every streaming wiring, the weather
warehouse and rollup included: batch-partitioned parquet tables with
replay-aware reads, the duplicate-id collapse (``collapse_ids``),
crash-safe compaction and the fold record; plus the query start
(``start_foreach_batch``), run check and stage timer.

Layout contract (per table): plain parquet, Hive-partitioned by the
ingest batch id (``ingest_batch=<n>``), so a replayed micro-batch
overwrites its own partition — the idempotent-foreachBatch pattern of
sources/sink.py. A long-running deployment accumulates one (tiny)
partition dir per micro-batch; ``fold_batches`` folds the history
into a single ``ingest_batch=-1`` partition.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

COMPACTED_BATCH_ID = -1

# Written inside a compaction's __compact_tmp dir AFTER the parquet
# job completes; its presence is what recovery trusts to distinguish
# a complete tmp copy from a partial one. Underscore-prefixed, so
# parquet scans of the table ignore it once tmp is renamed live.
COMPACT_MARKER = "_COMPACT_DONE"

# crash_safe_rewrite's staging and moved-aside siblings of the path
SWAP_TMP = "__compact_tmp"
SWAP_OLD = "__compact_old"

# One scheme-identifier file per store ("_scheme"): stored artifacts
# (signatures, band keys) are only comparable to new ones computed by
# the SAME code parameters. A silent parameter change (e.g. the
# round-5 capped->uncapped signing fix) would otherwise depress every
# cross-boundary similarity estimate and re-admit near-dups with no
# error; opening a store whose scheme differs must fail LOUD instead.
SCHEME_FILE = "_scheme"


# Filesystem schemes whose directory "rename" is client-side
# copy+delete, not an atomic metadata operation. compact_tables'
# crash-safety proof depends on steps 3-4 being atomic, so it refuses
# these outright (see _require_atomic_rename).
NONATOMIC_RENAME_SCHEMES = frozenset({"s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs"})


def _fs_scheme(fs, path) -> str:  # noqa: ANN001 (JVM objects)
    """The filesystem scheme ('file', 'hdfs', 's3a', ...) a path
    resolves to. Separated out so tests can simulate an object store
    without one."""
    scheme = fs.getUri().getScheme()
    return (scheme or "file").lower()


def _require_atomic_rename(fs, path: str) -> None:  # noqa: ANN001
    """Refuse to compact on a filesystem whose rename is copy+delete.

    The swap protocol keeps one complete table copy at every instant
    ONLY under atomic directory rename (POSIX, HDFS, ABFS): on S3A-
    style stores a crash mid-rename interleaves two partial copies
    file-by-file, which recovery cannot distinguish after the fact.
    A silent best-effort here would risk the exact empty-store/
    re-admit-history failure the protocol exists to prevent, so the
    guard is in code, not prose. Object-store deployments should skip
    in-place compaction and rebuild from replay instead.
    """
    scheme = _fs_scheme(fs, path)
    if scheme in NONATOMIC_RENAME_SCHEMES:
        raise RuntimeError(
            f"compact_tables refused: {path} resolves to scheme {scheme!r}, "
            "whose directory rename is copy+delete (non-atomic); a crash "
            "mid-swap could leave two interleaved partial copies that "
            "recovery cannot tell apart. Run compaction on an atomic-rename "
            "filesystem (POSIX/HDFS/ABFS), or skip in-place compaction and "
            "rebuild the store from replay for object-store deployments."
        )


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop FS API,
    so hdfs://, s3a:// and file: paths resolve the way Spark's own
    readers resolve them. Every store, sink and rollup helper opens
    its filesystem here."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FS API, so hdfs:///s3a://
    stores work identically to local paths (an os.path.isdir gate
    would silently treat every remote store as empty — no dedup, no
    error)."""
    fs, p = hadoop_fs(spark, path)
    return fs.exists(p)


def read_small_text(spark: SparkSession, path: str) -> str | None:
    """Driver-side read of a SMALL text file (or a directory of text
    part files) through the Hadoop FS API — no Spark job. For
    marker/metadata files only: launching a full job per micro-batch
    to re-read ~50 bytes is measurable scheduling overhead. Returns
    None when the path does not exist; concatenates part files in
    name order (the layout spark.write.text produces)."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    if fs.getFileStatus(p).isDirectory():
        statuses = sorted(
            (s for s in fs.listStatus(p) if s.isFile()),
            key=lambda s: s.getPath().getName(),
        )
        files = [
            s.getPath()
            for s in statuses
            if not s.getPath().getName().startswith(("_", "."))
        ]
    else:
        files = [p]
    out = []
    for f in files:
        stream = fs.open(f)
        try:
            out.append(spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
        finally:
            stream.close()
    return "".join(out)


def write_small_text(spark: SparkSession, path: str, content: str) -> None:
    """Driver-side write of a SMALL text file through the Hadoop FS
    API — no Spark job. The write-side twin of ``read_small_text``,
    for the marker/metadata files (scheme and run id on a store's
    first batch, the fold record per compaction): a
    ``createDataFrame().coalesce(1).write.text`` of ~50 bytes costs a
    full job submission per call. Writes a plain file (overwriting),
    which ``read_small_text`` reads via its single-file branch; stores
    written by the old directory-style writer remain readable.

    Crash atomicity: the content is written to a ``<path>.__tmp``
    sibling, then ``FileContext.rename(..., OVERWRITE)`` replaces the
    target in one step — atomic on the POSIX/HDFS/ABFS filesystems the
    store layer's compaction protocol already requires. A crash leaves
    either the old marker or the new one, never an empty or missing
    one. The one exception is the legacy layout, where the marker is a
    DIRECTORY of part files: rename cannot replace a non-empty
    directory, so it is deleted first and a crash in that window loses
    the old value once.

    Assumes ONE writer per marker path (one Spark driver per store,
    as RUN_FILE requires): the tmp name is fixed, so two concurrent
    writers of the same marker would clobber each other's tmp file."""
    jvm = spark._jvm
    fs, p = hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".__tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(p) and fs.getFileStatus(p).isDirectory():
        fs.delete(p, True)
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri(), spark._jsc.hadoopConfiguration()
    )
    fc.rename(tmp, p, opts)


def read_store(
    spark: SparkSession,
    path: str,
    schema: str,
    exclude_batch: int | None = None,
    only_batch: int | None = None,
) -> DataFrame:
    """Read one store table; missing/empty dirs are an empty store,
    not an error. ``exclude_batch`` hides a replayed batch's own
    partial first-attempt writes; ``only_batch`` selects exactly one
    partition (re-reading what a batch just wrote)."""
    if fs_exists(spark, path):
        from pyspark.errors import AnalysisException

        try:
            df = spark.read.option("basePath", path).parquet(path)
            df.schema  # force schema inference now, inside the try
        except AnalysisException:
            # the dir exists but holds no data files (a crash between
            # partition deletes/writes, or an all-empty history) — an
            # empty store, not an error
            return spark.createDataFrame([], schema)
        if exclude_batch is not None:
            # a REPLAYED micro-batch must not see its own first
            # attempt's partial store writes: every doc would
            # self-match and the whole batch would be dropped
            df = df.filter(F.col("ingest_batch") != exclude_batch)
        if only_batch is not None:
            df = df.filter(F.col("ingest_batch") == only_batch)
        # drop the partition column — consumers key on the id only
        return df.select(*[f.split(" ")[0] for f in schema.split(", ")])
    return spark.createDataFrame([], schema)


def append_partition(df: DataFrame, path: str, batch_id: int, batch_col: str = "ingest_batch") -> None:
    """Write ``df`` as the partition ``<batch_col>=<batch_id>`` (stores:
    ``ingest_batch``, weather rollup: ``batch_id``) — dynamic partition
    overwrite, so a replayed batch rewrites its own partition."""
    (
        df.withColumn(batch_col, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(batch_col)
        .parquet(path)
    )


def collapse_ids(df: DataFrame, id_col: str, *cols: str) -> DataFrame:
    """One row per ``id_col`` — the smallest ``cols`` tuple — so
    producer-retry copies of an id (at-least-once delivery) collapse
    deterministically before admission. ``min(struct)`` orders NULL
    fields first, so a copy with a NULL payload wins. A hash aggregate,
    not a row_number window: its map-side partial phase pre-reduces the
    copies before the exchange instead of shuffling and sorting each."""
    return (
        df.groupBy(id_col)
        .agg(F.min(F.struct(*cols)).alias("_t"))
        .select(id_col, *[F.col(f"_t.{c}").alias(c) for c in cols])
    )


def compact_tables(
    spark: SparkSession,
    store_dir: str,
    tables: tuple[tuple[str, str], ...],
    transform=None,
) -> int:
    """Fold each table's one-partition-per-batch history into a single
    ``ingest_batch=-1`` partition through ``fold_batches``; returns how
    many tables were rewritten. ``transform`` (df -> df,
    schema-preserving) is the fold's merge, which summing stores use
    to MERGE rows instead of carrying them verbatim.

    The stores fold EVERY listed batch, so this MUST run at a QUIESCENT
    point: no in-flight batch, no pending replay (the swap below
    briefly moves the table aside, and a concurrent batch reading a
    missing store would dedup against nothing). A replay at or below
    the table's FOLD_RECORD (``folded_upto``) is inside the fold, so
    the summing and head-delta stores refuse it
    (``guard_replay_after_compaction``) and the dedup, embedding and
    segment stores return before any write. The weather rollup's fold
    (``rollup.compact_rollup``) stops at its checkpoint's last
    COMMITTED batch instead, so a replay overwrites its own partition.

    Crash safety protocol (per table):

    1. write the compacted copy and its FOLD_RECORD to ``__compact_tmp``
    2. create the ``_COMPACT_DONE`` marker INSIDE tmp — recovery
       trusts a tmp copy only when the marker proves the parquet job
       finished
    3. rename live → ``__compact_old`` (aside)
    4. rename tmp → live
    5. delete aside (and the marker that travelled into live)

    so at every instant at least one COMPLETE copy of the table
    exists, and on entry any dangling state from a previous crash is
    recovered first: a marker-trusted tmp is renamed into place, an
    untrusted tmp remnant is discarded in favor of the live/aside
    copy (or renamed in as a last resort when it is the only remnant
    — the legacy pre-marker layout), and a leftover aside is deleted
    once live is complete or restored when live is missing.
    Rerunning compaction after a crash at ANY step therefore
    converges with the index intact. A delete-old-then-rename
    ordering instead has a window where the table exists only in
    ``__compact_tmp`` and a rerun's existence check skips it — every
    later batch then reads an EMPTY store and silently re-admits
    near-dups of the entire history (the round-5 review finding this
    protocol exists to prevent).

    Filesystem requirements: steps 3-4 assume ATOMIC directory rename
    (POSIX, HDFS, ABFS). On an object store whose rename is
    copy+delete (S3A), a crash mid-step-3 leaves partial copies under
    BOTH live and aside — the marker lets recovery prefer the
    complete tmp copy there, but a crash mid-step-4 interleaves tmp
    and live file-by-file and is NOT distinguishable after the fact.
    The requirement is ENFORCED, not advisory: _require_atomic_rename
    raises on known copy+delete schemes before any table is touched;
    object-store deployments should rebuild from replay instead.
    """
    return sum(
        fold_batches(spark, os.path.join(store_dir, sub), schema, merge=transform)
        for sub, schema in tables
    )


def fold_batches(
    spark: SparkSession,
    path: str,
    schema: str,
    upto: int | None = None,
    merge=None,
    batch_col: str = "ingest_batch",
) -> bool:
    """The one fold of a batch-partitioned table, through
    ``crash_safe_rewrite`` (False when ``path`` does not exist): the
    earlier fold and the ``<batch_col>=N`` partitions with N <= ``upto``
    (all when None) go into ``<batch_col>=-1`` through ``merge`` (df ->
    df, schema-preserving), later ones are copied, and the FOLD_RECORD
    goes into the staging copy. An empty table folds to an empty one."""
    path = path.rstrip("/")  # the swap's siblings are named after it

    def _write_folded(tmp: str) -> None:
        fs, p = hadoop_fs(spark, path)
        names = [st.getPath().getName() for st in fs.listStatus(p)]
        ids = [int(n.split("=", 1)[1]) for n in names if n.startswith(f"{batch_col}=")]
        bound = max(ids, default=COMPACTED_BATCH_ID) if upto is None else upto
        rows = read_store(spark, path, f"{schema}, {batch_col} int")  # keeps batch_col
        folded = rows.filter(F.col(batch_col) <= bound).drop(batch_col)
        if merge is not None:
            folded = merge(folded)
        (
            folded.withColumn(batch_col, F.lit(COMPACTED_BATCH_ID))
            .unionByName(rows.filter(F.col(batch_col) > bound))
            .write.mode("overwrite")
            .partitionBy(batch_col)
            .parquet(tmp)
        )
        prior = folded_upto(spark, os.path.dirname(path), os.path.basename(path))
        write_small_text(spark, os.path.join(tmp, FOLD_RECORD), str(max(bound, prior)))

    return crash_safe_rewrite(spark, path, _write_folded)


def crash_safe_rewrite(spark: SparkSession, path: str, write_tmp) -> bool:
    """Rewrite the directory at ``path`` in place via the
    tmp → marker → aside → swap protocol whose steps, recovery cases,
    and filesystem requirements are documented (and proven) in the
    compact_tables docstring above. Callers:

    - ``fold_batches``, the one fold of a batch-partitioned table:
      every ``compact_tables`` table (the dedup, embedding, segment,
      scd2, agg_store and rollup_store compactions) and the weather
      rollup (``streaming/rollup.compact_rollup``);
    - ``sources/sink.optimize_fact`` and the per-leaf rewrite loop
      behind ``sink.delete_fact``, ``sink.upsert_fact`` and the
      boundary month of ``sink.ttl_expire``, one call per rewritten
      warehouse leaf partition.

    ``write_tmp(tmp_path)`` must produce the COMPLETE rewritten copy
    at ``tmp_path`` before returning; it runs after recovery, so it
    must read ``path`` itself rather than a frame resolved earlier.
    A stream-run marker (RUN_FILE) in ``path`` is carried into the new
    copy, so a stream restarted after compact_rollup passes its check.
    Returns True when a rewrite happened, False when ``path`` does
    not exist (after recovery of any previous interrupted rewrite of
    the same path, so re-invocation always converges)."""
    recover_swap(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp, aside = path + SWAP_TMP, path + SWAP_OLD
    fs, p_live = hadoop_fs(spark, path)
    p_tmp, p_aside = Path(tmp), Path(aside)
    if not fs.exists(p_live):
        return False
    write_tmp(tmp)
    run = read_small_text(spark, os.path.join(path, RUN_FILE))
    if run is not None:
        write_small_text(spark, os.path.join(tmp, RUN_FILE), run)
    fs.create(Path(os.path.join(tmp, COMPACT_MARKER)), True).close()  # step 2: tmp is complete
    # -- the swap; rename returns FALSE on failure (no throw) --
    if not fs.rename(p_live, p_aside):
        raise IOError(f"compact: rename {path} -> {aside} failed")
    if not fs.rename(p_tmp, p_live):
        # put the old table back so the store is never left missing
        fs.rename(p_aside, p_live)
        raise IOError(f"compact: rename {tmp} -> {path} failed")
    fs.delete(p_aside, True)
    fs.delete(Path(os.path.join(path, COMPACT_MARKER)), False)  # the marker travelled in
    return True


def recover_swap(spark: SparkSession, path: str) -> None:
    """Finish or undo an interrupted ``crash_safe_rewrite`` of ``path``
    (the recovery cases of the compact_tables protocol): afterwards no
    SWAP_TMP/SWAP_OLD sibling is left. Every rewrite runs it on entry;
    ``sources/sink._leaves`` runs it on the leftovers its walk meets."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp, aside = path + SWAP_TMP, path + SWAP_OLD
    fs, p_live = hadoop_fs(spark, path)
    p_tmp, p_aside = Path(tmp), Path(aside)
    _require_atomic_rename(fs, path)

    if fs.exists(p_tmp):
        if fs.exists(Path(os.path.join(tmp, COMPACT_MARKER))):  # tmp provably complete
            if fs.exists(p_live) and fs.exists(p_aside):
                # only reachable when rename is non-atomic and the
                # crash hit mid-step-3: live and aside are both
                # partial remnants; tmp is the one complete copy
                fs.delete(p_live, True)
                if not fs.rename(p_tmp, p_live):
                    raise IOError(f"compact recovery: rename {tmp} -> {path} failed")
                fs.delete(p_aside, True)
            elif not fs.exists(p_live):
                # crash between steps 3 and 4
                if not fs.rename(p_tmp, p_live):
                    raise IOError(f"compact recovery: rename {tmp} -> {path} failed")
                if fs.exists(p_aside):
                    fs.delete(p_aside, True)
            else:
                # live complete, crash between steps 2 and 3 —
                # discard tmp and recompact freshly
                fs.delete(p_tmp, True)
        else:  # tmp without marker: a partial write, UNLESS it is
            # the only remnant (legacy pre-marker writer)
            if fs.exists(p_live):
                fs.delete(p_tmp, True)
            elif fs.exists(p_aside):
                fs.delete(p_tmp, True)
                if not fs.rename(p_aside, p_live):
                    raise IOError(f"compact recovery: rename {aside} -> {path} failed")
            else:
                if not fs.rename(p_tmp, p_live):
                    raise IOError(f"compact recovery: rename {tmp} -> {path} failed")
    elif fs.exists(p_aside):
        if fs.exists(p_live):
            # crash between steps 4 and 5
            fs.delete(p_aside, True)
        else:
            # defensive: a failed step-4 rename-back window
            if not fs.rename(p_aside, p_live):
                raise IOError(f"compact recovery: rename {aside} -> {path} failed")


# Stream-run identity marker ("_stream_run"): foreachBatch batch ids
# are only monotone WITHIN one checkpoint lineage. If the checkpoint
# is deleted/recreated while a store directory is kept, ids restart at
# 0 — replay guards silently no-op new batches (the centroid store's
# round-6 finding) and per-batch dynamic partition overwrites silently
# REPLACE the old run's early partitions (the ingest stores' version
# of the same bug). Every streaming wiring therefore records the
# query id (stable across restarts of one checkpoint, fresh on a
# recreated one) and refuses LOUD when a different run drives an
# existing store: the weather warehouse (pipeline.start_pipeline),
# the weather rollup (rollup.start_rollup), and the centroid, dedup,
# embedding, segment, er, scd2, agg, rollup_store and curation
# ingests. store_dir and checkpoint must live and die together.
RUN_FILE = "_stream_run"


def checkpoint_run_id(spark: SparkSession, checkpoint: str) -> str | None:
    """The streaming query id from ``<checkpoint>/metadata`` — written
    by Spark at stream start, stable across restarts of the SAME
    checkpoint, fresh when the checkpoint is recreated. One
    driver-side Hadoop FS read, no Spark job (and deliberately no
    process-level cache — a cache would mask a checkpoint recreated
    mid-process)."""
    import json

    text = read_small_text(spark, os.path.join(checkpoint, "metadata"))
    if text is None:
        return None
    return str(json.loads(text)["id"])


def start_foreach_batch(
    stream: DataFrame, checkpoint: str, body, trigger_seconds: int | None = None
) -> StreamingQuery:
    """Start the checkpointed ``foreachBatch`` query of every streaming
    wiring. ``body(df, batch_id, run_id)`` gets the checkpoint's query
    id (resolved once per batch) for its run check (RUN_FILE).
    ``trigger_seconds=None`` means availableNow; N means processingTime
    every N seconds, and 0 is Spark's default back-to-back trigger."""

    def _batch(df: DataFrame, batch_id: int) -> None:
        body(df, batch_id, checkpoint_run_id(df.sparkSession, checkpoint))

    writer = stream.writeStream.foreachBatch(_batch).option("checkpointLocation", checkpoint)
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


class StageTimer:
    """The batch bodies' ``stage_times`` instrumentation: ``mark(key)``
    adds the wall seconds since the previous mark (or construction)
    to ``stage_times[key]``; ``None`` records nothing."""

    def __init__(self, stage_times: dict[str, float] | None) -> None:
        self.stage_times = stage_times
        self.t = time.perf_counter()

    def mark(self, key: str) -> None:
        now = time.perf_counter()
        if self.stage_times is not None:
            self.stage_times[key] = self.stage_times.get(key, 0.0) + (now - self.t)
        self.t = now


def verify_stream_run(
    spark: SparkSession, store_dir: str, run_id: str | None, has_state: bool
) -> None:
    """Distinguish foreachBatch REPLAY (same run) from checkpoint
    RESET (different run) before any batch-id/partition logic runs.
    ``None`` (direct batch-API callers, no stream identity) keeps
    legacy behavior. See RUN_FILE."""
    if run_id is None:
        return
    path = os.path.join(store_dir, RUN_FILE)
    found = read_small_text(spark, path)
    found = found.strip() if found is not None else None
    if found == run_id:
        return
    if found:
        # a non-empty marker from a DIFFERENT run; an EMPTY marker
        # (crash during the cold-start marker write, before any state
        # existed) is indistinguishable from absent and falls through
        # to the rewrite below instead of wedging the stream forever
        raise RuntimeError(
            f"store {store_dir} was written by stream run {found!r} but this "
            f"batch comes from run {run_id!r}: the checkpoint was "
            "reset/recreated while the store was kept, so restarted batch ids "
            "would silently no-op replay guards and overwrite the old run's "
            "partitions. store_dir and checkpoint must live and die together "
            "— restore the original checkpoint or rebuild the store in a "
            "fresh directory."
        )
    if has_state:
        raise RuntimeError(
            f"store {store_dir} holds state but no {RUN_FILE} record; it was "
            "not written by this stream (direct batch calls or a "
            "pre-run-marker writer), so its batch ids cannot be compared to "
            "this run's — rebuild the store in a fresh directory or drive it "
            "with the batch API."
        )
    write_small_text(spark, path, run_id)


def open_scheme_store(
    spark: SparkSession,
    store_dir: str,
    scheme: str,
    tables: tuple[str, ...],
    run_id: str | None,
) -> None:
    """Open a scheme-versioned ingest store (dedup, embedding,
    segment, er, scd2, agg, rollup_store) for one batch: the
    stream-run check, then the algorithm-scheme check.

    Run check (verify_stream_run): ``has_state`` is the presence of
    the SCHEME_FILE record, which every such store writes on first
    touch — so a store built by direct batch calls (no run marker,
    scheme present) driven later by a stream refuses. It must see the
    record as it was BEFORE this call writes it for a cold store.

    Scheme check: ``scheme`` identifies every parameter that makes
    stored artifacts comparable to freshly-computed ones (permutation
    count, banding shape, shingle policy, similarity kind...). A new
    store records it in ``<store>/_scheme``; a mismatch — or a store
    holding data from before scheme versioning — raises instead of
    silently admitting near-dups across the parameter boundary
    (estimates between differently-computed artifacts are biased
    low). Recovery is a rebuild: re-ingest the corpus into a fresh
    store directory.

    Both records are ~50-byte driver-side reads (read_small_text),
    not Spark jobs: this runs on EVERY micro-batch of every store.
    """
    path = os.path.join(store_dir, SCHEME_FILE)
    found = read_small_text(spark, path)
    verify_stream_run(spark, store_dir, run_id, has_state=found is not None)
    if found is not None:
        found = found.strip()
        if found != scheme:
            raise RuntimeError(
                f"store {store_dir} was written with scheme {found!r} but the "
                f"current code computes {scheme!r}; similarity estimates across "
                "the boundary are invalid — rebuild the store by re-ingesting "
                "into a fresh directory"
            )
        return
    if any(fs_exists(spark, os.path.join(store_dir, t)) for t in tables):
        raise RuntimeError(
            f"store {store_dir} holds data but no {SCHEME_FILE} record (written "
            "before scheme versioning); its artifacts cannot be assumed "
            f"compatible with the current scheme {scheme!r} — rebuild the store "
            "by re-ingesting into a fresh directory"
        )
    write_small_text(spark, path, scheme)


# --- replay after a fold --------------------------------------------

# The highest ingest batch id a fold holds (a MergeTree part name's
# block range): fold_batches writes it into the staging copy, so it
# goes live with the fold; "_" keeps it out of every scan and walk.
FOLD_RECORD = "_FOLDED_UPTO"


def folded_upto(spark: SparkSession, store_dir: str, table: str) -> int:
    """Highest batch id folded into ``table`` (COMPACTED_BATCH_ID before
    its first fold); for a store compacted before FOLD_RECORD existed,
    its legacy ``_MAX_BATCH`` high-water marker (read, never written)."""
    txt = read_small_text(spark, os.path.join(store_dir, table, FOLD_RECORD))
    if txt is None:
        txt = read_small_text(spark, os.path.join(store_dir, "_MAX_BATCH"))
    return int(txt) if txt and txt.strip() else COMPACTED_BATCH_ID


def guard_replay_after_compaction(
    spark: SparkSession, store_dir: str, table: str, batch_id: int, store_kind: str
) -> None:
    """Refuse the one replay case delta stores cannot make idempotent:
    a batch id at or below the fold record (``folded_upto``) whose own
    partition no longer exists was folded into a compacted part, so
    rewriting it would double-count rows already inside the fold.
    (A replay whose partition still exists is safe — the dynamic
    partition overwrite replaces it.) Shared by the rollup, agg-state
    and scd2 stores so the refusal logic exists once."""
    high = folded_upto(spark, store_dir, table)
    if batch_id <= high:
        own = os.path.join(store_dir, table, f"ingest_batch={batch_id}")
        if not fs_exists(spark, own):
            raise RuntimeError(
                f"{store_kind} store {store_dir}: batch {batch_id} replayed after "
                f"its partition was compacted away (folded up to {high}); rewriting "
                "it would double-count rows already folded into the compacted "
                "part. Compaction must only run at a quiescent point with the "
                "checkpoint intact — rebuild the store or restore the checkpoint."
            )
