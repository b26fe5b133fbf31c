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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    return df.withColumn(MONTH_COL, F.date_format("event_date", "yyyyMM").cast("int"))


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
    use read_fact_between."""
    return spark.read.parquet(path)


def read_fact_between(spark: SparkSession, path: str, start_date: str, end_date: str) -> DataFrame:
    """Date-range read with EXPLICIT month-partition pruning: the
    event_month predicate (derived driver-side from the date bounds)
    prunes directories, the event_date predicate then row-filters via
    parquet min/max stats on the sorted files — together, MergeTree
    partition + granule skipping parity."""
    months = (
        F.date_format(F.lit(start_date), "yyyyMM").cast("int"),
        F.date_format(F.lit(end_date), "yyyyMM").cast("int"),
    )
    return (
        spark.read.parquet(path)
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


def _leaf_partitions(spark: SparkSession, path: str):
    """Yield ``(leaf, rel, data_files)`` for every directory under
    ``path`` that directly holds data files — the Hive leaf
    partitions, at any nesting depth (event_month=N, or
    batch_id=N/event_month=M from write_fact_batch). ``leaf`` is the
    scheme-qualified path string, ``rel`` its path relative to the
    table (``""`` for an unpartitioned table), ``data_files`` its
    FileStatus list minus ``_``/``.`` metadata files. A missing table
    yields nothing.

    Every directory is listed before any leaf under it is yielded,
    so a caller may rewrite, rename or drop the leaf it was handed;
    the transient siblings a rewrite creates are never walked."""
    # function-level: streaming/ imports this module at package init
    from ..streaming.store import hadoop_fs

    fs, base = hadoop_fs(spark, path)
    if not fs.exists(base):
        return
    # listStatus returns scheme-qualified paths ("file:/..."); qualify
    # the base the same way so relative names slice correctly
    base_q = fs.makeQualified(base).toString()
    stack = [base]
    while stack:
        p = stack.pop()
        subdirs, files = [], []
        for s in fs.listStatus(p):
            if s.getPath().getName().startswith(("_", ".")):
                continue
            (subdirs if s.isDirectory() else files).append(s)
        stack.extend(s.getPath() for s in subdirs)
        if files:
            leaf = fs.makeQualified(p).toString()
            yield leaf, leaf[len(base_q) :].lstrip("/"), files


def _rewrite_matching(spark: SparkSession, path: str, matched, kept) -> dict[str, int]:
    """The match-then-rewrite loop behind delete_fact and upsert_fact:
    per leaf partition, count the rows ``matched(df)`` selects and,
    when there are any, rewrite the partition to ``kept(df)``
    re-sorted on the table sort key, through the shared crash-safe
    tmp/marker/aside swap (streaming/store.crash_safe_rewrite). Both
    filters see the leaf's rows WITH its Hive partition columns
    re-derived from the dir path (a direct leaf read loses them), so
    predicates like ``event_month = N`` resolve; they are dropped
    again before the write — the layout carries them. Returns
    {relative partition dir: matched rows} for rewritten partitions."""
    from ..streaming.store import crash_safe_rewrite

    out: dict[str, int] = {}
    for leaf, rel, _ in _leaf_partitions(spark, path):
        part_cols = [seg.split("=", 1) for seg in rel.split("/") if "=" in seg]

        def read_leaf() -> DataFrame:
            df = spark.read.parquet(leaf)
            for name, value in part_cols:
                lit = F.lit(int(value)) if value.lstrip("-").isdigit() else F.lit(value)
                df = df.withColumn(name, lit)
            return df

        n = matched(read_leaf()).count()
        if n == 0:
            continue

        def write_kept(tmp: str) -> None:
            (
                kept(read_leaf())
                .drop(*[name for name, _ in part_cols])
                .sortWithinPartitions(*SORT_KEY)
                .write.mode("overwrite")
                .parquet(tmp)
            )

        if crash_safe_rewrite(spark, leaf, write_kept):
            out[rel] = n
    return out


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

    Streaming appends land one file set per micro-batch (plus
    speculative/task-retry fragments); without merging, a year of
    5-minute batches is ~100k files per partition and scan planning
    chokes on footers long before data volume matters. Per-partition
    cost is one read+sort+write of that partition only.

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
    for leaf, rel, files in _leaf_partitions(spark, path):
        total = sum(s.getLen() for s in files)
        target_n = max(1, math.ceil(total / target_file_bytes))
        if len(files) <= target_n:
            continue

        def write_merged(tmp: str) -> None:
            (
                spark.read.parquet(leaf)
                .coalesce(target_n)
                .sortWithinPartitions(*SORT_KEY)
                .write.mode("overwrite")
                .parquet(tmp)
            )

        if crash_safe_rewrite(spark, leaf, write_merged):
            merged[rel] = len(files)
    return merged


def delete_fact(spark: SparkSession, path: str, predicate) -> dict[str, int]:
    """Targeted delete — ClickHouse ``ALTER TABLE ... DELETE`` /
    MergeTree-mutation parity (the reference warehouse's retention and
    GDPR-erasure path) for the parquet warehouse: rows matching
    ``predicate`` (a Column, or SQL string) are removed by rewriting
    ONLY the leaf partitions that contain matches. Returns
    {relative partition dir: rows deleted}.

    Two-phase, scan-bounded: phase 1 counts matches per partition in
    one pruned scan (the predicate reaches the parquet footers, so
    partitions the min/max stats exclude are never read); phase 2
    rewrites just the matching partitions — read, anti-filter,
    re-sort on the table sort key, write — through the shared
    crash-safe tmp/marker/aside swap (streaming/store.
    crash_safe_rewrite), so at every instant a complete copy of each
    partition exists and interrupted runs converge on re-invocation.
    Untouched partitions keep their files byte-identical — at 100 TB
    a delete of one user's rows costs the partitions that user
    touched, not a table rewrite. QUIESCENT POINT ONLY, like every
    in-place rewrite here.

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
    return _rewrite_matching(
        spark, path, lambda df: df.filter(cond), lambda df: df.filter(~cond)
    )


def upsert_fact(spark: SparkSession, path: str, updates: DataFrame, keys: tuple[str, ...]) -> dict[str, int]:
    """MERGE INTO (upsert) for the parquet warehouse — the
    ReplacingMergeTree write path: rows in ``updates`` REPLACE any
    stored rows sharing their ``keys``, and new keys append. Returns
    {relative partition dir: rows replaced} for the rewritten
    partitions (the append itself lands via write_fact).

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
       shared crash-safe tmp/marker/aside swap.
    2. APPEND the update rows month-partitioned and sort-keyed
       (write_fact) — at most one file set per touched month, which
       optimize_fact folds in at the next maintenance point.

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
        if key_df.isEmpty():
            replaced: dict[str, int] = {}
        else:
            bits = _bits_literal(build_bloom_bits(key_df.select(gram.alias("gram"))))
            probe = bloom_member(gram, bits)
            replaced = _rewrite_matching(
                spark,
                path,
                lambda st: st.filter(probe).join(key_df, list(keys), "left_semi"),
                lambda st: st.filter(~probe).unionByName(
                    st.filter(probe).join(key_df, list(keys), "left_anti")
                ),
            )
        write_fact(updates, path)
        return replaced
    finally:
        key_df.unpersist()


TTL_TRASH_SUFFIX = "__ttl_trash"


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
    sweeps leftover trash asides before the boundary delete runs,
    already-dropped months are gone, the boundary delete is
    delete_fact's no-op on zero matches). A trash remnant left with
    only ``_``/``.`` metadata files is not a leaf and stays; readers
    ignore it like any directory without data files. Returns
    ``{"dropped": [rel dirs], "boundary": {rel dir: rows deleted}}``.
    QUIESCENT POINT ONLY, like every in-place rewrite here.
    """
    from ..streaming.store import _require_atomic_rename, hadoop_fs

    cutoff_month = int(older_than[:7].replace("-", ""))
    fs, _ = hadoop_fs(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    dropped: list[str] = []
    for leaf, rel, _ in _leaf_partitions(spark, path):
        if leaf.endswith(TTL_TRASH_SUFFIX):
            # recovery: finish an interrupted drop (the rename
            # committed the drop; the delete just reclaims space)
            fs.delete(Path(leaf), True)
            continue
        month = None
        for seg in rel.split("/"):
            if seg.startswith(f"{MONTH_COL}="):
                month = int(seg.split("=", 1)[1])
        if month is None or month >= cutoff_month:
            continue
        _require_atomic_rename(fs, leaf)
        aside = Path(leaf + TTL_TRASH_SUFFIX)
        if not fs.rename(Path(leaf), aside):
            raise OSError(f"ttl_expire: rename failed for {leaf}")
        fs.delete(aside, True)
        dropped.append(rel)

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
    for leaf, rel, files in _leaf_partitions(spark, path):
        n_rows: int | None = None
        if leaf.startswith("file:"):
            import pyarrow.parquet as pq

            n_rows = sum(
                pq.ParquetFile(s.getPath().toUri().getPath()).metadata.num_rows
                for s in files
            )
        rows.append(
            (
                rel,
                len(files),
                sum(s.getLen() for s in files),
                n_rows,
                max((s.getModificationTime() for s in files), default=0) // 1000,
            )
        )
    return spark.createDataFrame(
        rows,
        "partition string, n_files bigint, bytes bigint, rows bigint, "
        "modified_epoch bigint",
    )
