"""Warehouse sink: partitioned, sort-ordered columnar table
(reference ClickHouse MergeTree layer — SURVEY.md §2-B3/B4/B5, §3.3).

The reference's `PARTITION BY toYYYYMM(event_date)` + `ORDER BY
(event_date, city_name, event_time)` (app/clickhouse_ddl.sql:30-32)
maps to:

- Hive-style `partitionBy(event_month)` → Catalyst partition pruning
  on event_month predicates (monthly pruning parity; date-ranged
  readers derive the month bound explicitly — `read_fact_between` —
  because Spark cannot infer month bounds from an event_date filter);
- `sortWithinPartitions(event_date, city_name, event_time)` before
  write → parquet min/max row-group stats ≈ MergeTree granule
  skipping for the sort-key prefix;
- parquet dictionary encoding ≈ LowCardinality(String) (free).

At 100 TB: the month partition bounds file counts, AQE coalescing
keeps file sizes sane, and `repartition(month, city_bucket)` before
the sort gives clustering without tiny files. A ClickHouse-compatible
JDBC write path is sketched for parity with A19 but the engine's
native warehouse is parquet.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.clickhouse import toYYYYMM
from .schemas import WEATHER_FACT_SCHEMA

MONTH_COL = "event_month"
SORT_KEY = ("event_date", "city_name", "event_time")


def with_month(df: DataFrame) -> DataFrame:
    """Derive the partition column (toYYYYMM parity, ddl:31).

    Written as an INT yyyyMM, matching ClickHouse's toYYYYMM(Date) ->
    UInt32: with a string partition value, readers depended on Hive
    partition type inference + implicit ANSI casts to compare against
    int/date-derived bounds — pruning silently stopped if
    ``spark.sql.sources.partitionColumnTypeInference.enabled`` was
    false (round-4 advice). An int value round-trips identically with
    inference on or off."""
    return df.withColumn(MONTH_COL, toYYYYMM("event_date"))


def write_fact(df: DataFrame, path: str, mode: str = "append") -> None:
    """Partitioned + sorted columnar append (B3/B4/B5)."""
    (
        with_month(df)
        .sortWithinPartitions(*SORT_KEY)
        .write.mode(mode)
        .partitionBy(MONTH_COL)
        .parquet(path)
    )


def write_fact_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Replay-idempotent micro-batch write: the batch lands in its own
    ``batch_id=<n>`` partition (then month) with DYNAMIC partition
    overwrite, so a micro-batch replayed after a crash-between-sink-
    and-commit OVERWRITES its own partitions instead of double-
    appending — the same idempotent-foreachBatch pattern as
    streaming/rollup.py, upgrading the reference's at-least-once
    commit-after-insert (Consumer:160-165) to effectively-exactly-once
    for deterministic batches."""
    (
        with_month(df)
        .withColumn("batch_id", F.lit(batch_id))
        .sortWithinPartitions(*SORT_KEY)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", MONTH_COL)
        .parquet(path)
    )


def read_fact(spark: SparkSession, path: str) -> DataFrame:
    """Read back. NOTE: pruning happens on the PARTITION column
    ``event_month`` — Spark does not derive a month predicate from an
    `event_date` filter (the functional relationship is unknown to
    Catalyst), so date-ranged readers must constrain event_month too;
    use read_fact_between.

    A warehouse that exists but holds no data files yet (its stream has
    seen only corrupt messages) reads as an empty frame of the fact
    schema plus ``event_month``; an absent path (PATH_NOT_FOUND) and
    every other read error still raise."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        month = T.StructField(MONTH_COL, T.IntegerType())
        return spark.createDataFrame([], T.StructType(WEATHER_FACT_SCHEMA.fields + [month]))


def read_fact_between(spark: SparkSession, path: str, start_date: str, end_date: str) -> DataFrame:
    """Date-range read with EXPLICIT month-partition pruning: the
    event_month predicate (derived driver-side from the date bounds)
    prunes directories, the event_date predicate then row-filters via
    parquet min/max stats on the sorted files — together, MergeTree
    partition + granule skipping parity."""
    months = (toYYYYMM(F.lit(start_date)), toYYYYMM(F.lit(end_date)))
    return (
        read_fact(spark, path)
        .filter(F.col(MONTH_COL).between(*months))
        .filter(F.col("event_date").between(F.lit(start_date), F.lit(end_date)))
    )


def jdbc_insert(df: DataFrame, url: str, table: str, properties: dict | None = None) -> None:
    """Batched warehouse INSERT parity (A19: clickhouse_db.py:87-96)
    via Spark's JDBC sink. Needs a ClickHouse JDBC driver jar on the
    classpath — absent in this image, so this path is exercised only
    when the driver is present."""
    writer = df.write.mode("append").format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


TTL_TRASH_SUFFIX = "__ttl_trash"


class _Leaf(NamedTuple):
    path: str  # scheme-qualified leaf directory
    rel: str  # directory relative to the table root
    parts: list[tuple[str, str]]  # Hive (name, value) pairs, outermost first
    files: list  # data-file FileStatus objects (JVM)


def _leaves(spark: SparkSession, path: str) -> Iterator[_Leaf]:
    """The Hive leaf partitions of the table at ``path``: directories
    that directly hold data files, at any nesting depth (event_month=M
    from write_fact, batch_id=N/event_month=M from write_fact_batch).
    Yields nothing for an absent table. The one walk every maintenance
    verb below shares.

    The walk recovers the ``__compact_tmp``/``__compact_old`` siblings
    of an interrupted rewrite (store.recover_swap) and deletes the
    ``__ttl_trash`` of an interrupted TTL drop, so it never yields a
    leftover as a leaf. Readers (read_fact, Spark partition discovery)
    still see leftovers until the next maintenance verb runs."""
    from ..streaming.store import SWAP_OLD, SWAP_TMP, hadoop_fs, recover_swap

    suffixes = (SWAP_TMP, SWAP_OLD, TTL_TRASH_SUFFIX)
    fs, base = hadoop_fs(spark, path)
    if not fs.exists(base):
        return
    # listStatus returns scheme-qualified paths ("file:/..."); qualify
    # the base the same way so relative names slice correctly
    base = fs.makeQualified(base)
    prefix = len(base.toString())
    stack = [base]
    while stack:
        d = stack.pop()
        listing = fs.listStatus(d)
        leftovers = [p for p in (st.getPath() for st in listing) if p.getName().endswith(suffixes)]
        for p in leftovers:
            if p.getName().endswith(TTL_TRASH_SUFFIX):
                fs.delete(p, True)
            else:  # both swap suffixes have the same length
                recover_swap(spark, p.toString()[: -len(SWAP_TMP)])
        if leftovers:
            listing = fs.listStatus(d)
        files = []
        for st in listing:
            if st.getPath().getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                files.append(st)
        if files:
            leaf = d.toString()
            rel = leaf[prefix:].lstrip("/")
            parts = [tuple(seg.split("=", 1)) for seg in rel.split("/") if "=" in seg]
            yield _Leaf(leaf, rel, parts, files)


def _rewrite_leaves(spark: SparkSession, leaves: Iterable[_Leaf], match, keep) -> dict[str, int]:
    """The per-leaf mutation loop behind delete_fact and upsert_fact.

    Each leaf is read directly, which loses the Hive partition
    columns, so they are re-derived from the dir path as constants
    (predicates like event_month = N then resolve). ``match(stored)``
    selects the rows the verb removes; only a leaf where it selects
    at least one row is rewritten, to ``keep(stored)`` with the
    partition columns dropped again (the layout carries them) and
    re-sorted on the table sort key, through the shared crash-safe
    tmp/marker/aside swap. Returns {relative partition dir: rows
    matched} for the rewritten leaves."""
    from ..streaming.store import crash_safe_rewrite

    rewritten: dict[str, int] = {}
    for leaf in leaves:
        consts = {
            name: F.lit(int(value)) if value.lstrip("-").isdigit() else F.lit(value)
            for name, value in leaf.parts
        }

        # write_tmp runs inside this iteration, after crash recovery,
        # so it re-reads the leaf rather than reuse the counted frame
        def stored() -> DataFrame:
            return spark.read.parquet(leaf.path).withColumns(consts)

        n = match(stored()).count()
        if n == 0:
            continue

        def _write_kept(tmp: str) -> None:
            (
                keep(stored())
                .drop(*consts)
                .sortWithinPartitions(*SORT_KEY)
                .write.mode("overwrite")
                .parquet(tmp)
            )

        if crash_safe_rewrite(spark, leaf.path, _write_kept):
            rewritten[leaf.rel] = n
    return rewritten


def optimize_fact(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict[str, int]:
    """Background-merge parity (ClickHouse merges small MergeTree
    parts into bigger sorted parts — SURVEY.md §3.3, delegated there;
    owned HERE for the parquet warehouse): bin-pack each leaf
    partition's files into ceil(bytes/target) files, re-sorted on the
    table sort key so parquet min/max granule skipping (B5) holds in
    the merged files. Returns {relative partition dir: files merged}
    for every rewritten partition; partitions already at or under
    their target file count are untouched (so a second call is a
    no-op — merge idempotence).

    This merges small files WITHIN a leaf (``write_fact`` appends,
    task-retry fragments). It does not bound a streaming warehouse:
    ``write_fact_batch`` puts every micro-batch in its own
    ``batch_id=N/event_month=M`` leaf, so the leaf count grows with
    the batch count and merging inside a leaf cannot bound it.
    Per-partition cost is one read+sort+write of that partition only.

    Crash-safe via the shared tmp/marker/aside swap
    (streaming/store.crash_safe_rewrite) — at every instant a
    complete copy of the partition exists, interrupted runs converge
    on re-invocation, and copy+delete-rename object stores are
    refused. QUIESCENT POINT ONLY, like every in-place rewrite here:
    no concurrent writer to the partition being merged.
    """
    import math

    from ..streaming.store import crash_safe_rewrite

    merged: dict[str, int] = {}
    for leaf in _leaves(spark, path):
        target_n = max(1, math.ceil(sum(st.getLen() for st in leaf.files) / target_file_bytes))
        if len(leaf.files) <= target_n:
            continue

        def _write_merged(tmp: str) -> None:
            (
                spark.read.parquet(leaf.path)
                .coalesce(target_n)
                .sortWithinPartitions(*SORT_KEY)
                .write.mode("overwrite")
                .parquet(tmp)
            )

        if crash_safe_rewrite(spark, leaf.path, _write_merged):
            merged[leaf.rel] = len(leaf.files)
    return merged


def delete_fact(spark: SparkSession, path: str, predicate) -> dict[str, int]:
    """Targeted delete — ClickHouse ``ALTER TABLE ... DELETE`` /
    MergeTree-mutation parity (the reference warehouse's retention and
    GDPR-erasure path) for the parquet warehouse: rows matching
    ``predicate`` (a Column, or SQL string) are removed by rewriting
    ONLY the leaf partitions that contain matches. Returns
    {relative partition dir: rows deleted}.

    Two-phase per leaf (_rewrite_leaves): count the matches (the
    predicate reaches the parquet footers, so row groups the min/max
    stats exclude are never read), then rewrite just the matching
    leaves — read, anti-filter, re-sort on the table sort key, write —
    through the shared crash-safe tmp/marker/aside swap
    (streaming/store.crash_safe_rewrite), so at every instant a
    complete copy of each partition exists and interrupted runs
    converge on re-invocation. Untouched partitions keep their files
    byte-identical — at 100 TB a delete of one user's rows costs the
    partitions that user touched, not a table rewrite. QUIESCENT
    POINT ONLY, like every in-place rewrite here.

    Deleting every row of a partition leaves an empty partition dir
    (a valid zero-row parquet table), mirroring ClickHouse's empty
    part rather than surprising readers with a vanished directory.
    """
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    # SQL DELETE semantics: a predicate evaluating NULL means NOT
    # matched — the row is KEPT. A bare filter(~cond) would silently
    # drop NULL-evaluating rows (NULL negated is still NULL, and
    # filter discards non-TRUE), so pin three-valued logic to two
    # here: NULL -> FALSE before both the match count and the keep
    # side use it.
    cond = F.coalesce(cond, F.lit(False))
    return _rewrite_leaves(
        spark,
        _leaves(spark, path),
        match=lambda stored: stored.filter(cond),
        keep=lambda stored: stored.filter(~cond),
    )


# batch_id of the rows upsert_fact appends to a write_fact_batch
# warehouse: stream batch ids start at 0, so no write_fact_batch
# dynamic overwrite ever replaces this partition.
UPSERT_BATCH_ID = -1


def upsert_fact(spark: SparkSession, path: str, updates: DataFrame, keys: tuple[str, ...]) -> dict[str, int]:
    """MERGE INTO (upsert) for the parquet warehouse — the
    ReplacingMergeTree write path: rows in ``updates`` REPLACE any
    stored rows sharing their ``keys``, and new keys append. Returns
    {relative partition dir: rows replaced} for the rewritten
    partitions (the append itself is not counted).

    Deterministic two-step composition, COLLECT-FREE on the key set
    (the update batch never materializes on the driver, so a caller
    passing a huge batch cannot blow the driver heap):

    1. DELETE the old versions. The update keys compile into a
       fixed-size Bloom bitset (operators/bloom — the collect there
       is bounded by the 2^20-bit sketch, NOT the batch), and each
       leaf partition is probed with the O(1) codegen membership
       expression. Bloom has no false negatives, so rows the probe
       rejects are definite keeps and never reach a shuffle; the
       (tiny) probe-positive slice gets an EXACT left-anti join
       against the distributed key set to rescue false positives.
       Only partitions with >=1 exact match rewrite, through the
       shared crash-safe tmp/marker/aside swap (_rewrite_leaves).
    2. APPEND the update rows sort-keyed, in the table's own layout:
       month-partitioned (write_fact) for a write_fact table, and
       under ``batch_id=UPSERT_BATCH_ID`` then month for a
       write_fact_batch (micro-batch) warehouse — at most one file set
       per touched month, which optimize_fact folds in at the next
       maintenance point.

    Rows whose stored key columns contain NULL are never replaced
    (SQL MERGE equality semantics: NULL matches nothing).

    Crash between the steps leaves keys deleted-but-not-yet-written:
    re-running the SAME upsert converges (step 1 finds nothing, step
    2 appends) — callers should re-run on failure, the standard
    mutation-retry contract. For continuous high-volume upserts,
    land updates in their own partition and let readers do
    argmax-per-key instead (events_latest_per_key is the query-side
    twin; streaming/scd2_ingest the incremental one).
    """
    from ..operators.bloom import _bits_literal, bloom_member, build_bloom_bits

    # canonical join-key fingerprint: unit-separator-joined string
    # forms; concat_ws never yields NULL, so the probe is always a
    # definite boolean (no three-valued logic in ~probe)
    gram = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])

    key_df = updates.select(*keys).distinct().persist()
    try:
        leaves = list(_leaves(spark, path))
        replaced: dict[str, int] = {}
        if not key_df.isEmpty():
            probe = bloom_member(gram, _bits_literal(build_bloom_bits(key_df.select(gram.alias("gram")))))
            replaced = _rewrite_leaves(
                spark,
                leaves,
                match=lambda stored: stored.filter(probe).join(key_df, list(keys), "left_semi"),
                keep=lambda stored: stored.filter(~probe).unionByName(
                    stored.filter(probe).join(key_df, list(keys), "left_anti")
                ),
            )
        if any(name == "batch_id" for leaf in leaves for name, _ in leaf.parts):
            (
                with_month(updates)
                .withColumn("batch_id", F.lit(UPSERT_BATCH_ID))
                .sortWithinPartitions(*SORT_KEY)
                .write.mode("append")
                .partitionBy("batch_id", MONTH_COL)
                .parquet(path)
            )
        else:
            write_fact(updates, path)
        return replaced
    finally:
        key_df.unpersist()


def ttl_expire(spark: SparkSession, path: str, older_than: str) -> dict[str, object]:
    """Retention TTL — ClickHouse ``TTL event_date + INTERVAL n DAY
    DELETE`` parity (the reference warehouse ages out raw weather
    events; MergeTree applies TTL by dropping whole parts when every
    row qualifies and mutating only the boundary parts). Same split
    here, because at 100 TB the difference is the whole cost model:

    - month partitions STRICTLY older than the cutoff's month are
      dropped wholesale — an atomic rename to a ``__ttl_trash`` aside
      then a recursive delete, so a reader never lists a half-deleted
      partition (DROP PARTITION parity; rename atomicity enforced by
      the shared store guard, copy+delete object stores refused). No
      data is read: retiring a year costs twelve directory renames.
    - the single BOUNDARY month (cutoff falls inside it) gets a
      row-level ``delete_fact`` with the month pinned in the
      predicate, so only that month's partitions are scanned and
      rewritten through the crash-safe swap.

    Idempotent: re-running after any crash converges (the leaf walk
    sweeps leftover trash asides, already-dropped months are gone, the
    boundary delete is delete_fact's no-op on zero matches). Returns
    ``{"dropped": [rel dirs], "boundary": {rel dir: rows deleted}}``.
    QUIESCENT POINT ONLY, like every in-place rewrite here.
    """
    from ..streaming.store import _require_atomic_rename, hadoop_fs

    cutoff_month = int(older_than[:7].replace("-", ""))
    fs, _ = hadoop_fs(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    dropped: list[str] = []
    for leaf in _leaves(spark, path):
        month = dict(leaf.parts).get(MONTH_COL)
        if month is None or int(month) >= cutoff_month:
            continue
        _require_atomic_rename(fs, leaf.path)
        aside = Path(leaf.path + TTL_TRASH_SUFFIX)
        if not fs.rename(Path(leaf.path), aside):
            raise OSError(f"ttl_expire: rename failed for {leaf.path}")
        fs.delete(aside, True)
        dropped.append(leaf.rel)

    boundary = delete_fact(
        spark,
        path,
        (F.col(MONTH_COL) == cutoff_month) & (F.col("event_date") < F.lit(older_than)),
    )
    return {"dropped": sorted(dropped), "boundary": boundary}


def table_parts(spark: SparkSession, path: str) -> DataFrame:
    """``system.parts`` introspection parity: one row per leaf
    partition with file count, bytes, rows, and last-modified time —
    what an operator consults before OPTIMIZE/TTL decisions (ClickHouse
    exposes the same via system.parts; the reference stack monitors
    its warehouse through it).

    Metadata only: directory listings via the Hadoop FS API plus
    parquet FOOTER reads for row counts (pyarrow, driver-side) — no
    Spark job touches data pages, so the cost is O(files), not
    O(rows). Footer row counts need a locally-readable path; on a
    non-``file:`` filesystem ``rows`` is NULL rather than paying a
    cluster scan (the listing columns still fill). At 100 TB the
    equivalent runs against the catalog/manifest layer; the contract
    (partition -> files/bytes/rows) is the same.
    """
    rows: list[tuple] = []
    for leaf in _leaves(spark, path):
        n_rows: int | None = None
        if leaf.path.startswith("file:"):
            import pyarrow.parquet as pq

            n_rows = sum(
                pq.ParquetFile(st.getPath().toUri().getPath()).metadata.num_rows
                for st in leaf.files
            )
        rows.append(
            (
                leaf.rel,
                len(leaf.files),
                sum(st.getLen() for st in leaf.files),
                n_rows,
                max(st.getModificationTime() for st in leaf.files) // 1000,
            )
        )
    return spark.createDataFrame(
        rows,
        "partition string, n_files bigint, bytes bigint, rows bigint, "
        "modified_epoch bigint",
    )
