"""Batch IO: partitioned and bucketed writes (SURVEY.md §2.1 S3/S11
batch analogs, scaled).

The reference writes unpartitioned parquet to HDFS (reference:
spark_apps/pubg_streaming.py:236-244; layout docker-compose.yml:
137-148). At 100 TB two storage decisions dominate query cost:

- **date partitioning** -> partition pruning: time-range scans touch
  only matching directories (`PartitionFilters` in the plan);
- **bucketing on the join/dedup key** -> co-located joins: two tables
  bucketed on the same key by the same bucket count join with ZERO
  shuffle (no Exchange in the plan), and bucket-key aggregations skip
  the exchange too.

Both are exercised by tests/test_io.py, which asserts the plan shape,
not just the results.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned_by_date(
    df: DataFrame, path: str, ts_col: str, mode: str = "overwrite"
) -> None:
    """Parquet partitioned by the date of ``ts_col`` (adds a ``p_date``
    partition column)."""
    (
        df.withColumn("p_date", F.to_date(F.col(ts_col)))
        .write.mode(mode)
        .partitionBy("p_date")
        .parquet(path)
    )


def overwrite_partitions(df: DataFrame, path: str, col: str) -> None:
    """Replace exactly the ``col=value`` partitions of ``path`` that
    ``df`` has rows for (dynamic partition overwrite); every other
    partition stays as it was, and an empty ``df`` touches nothing.

    This is the epoch-write protocol of the state tables in
    ``streaming/app.py``: an epoch writes its rows with
    ``__epoch = F.lit(epoch_id)``, so an at-least-once replay of epoch
    N rewrites only ``__epoch=N`` with the same rows instead of
    appending duplicates, and a replay that recomputes no rows leaves
    the committed partition alone. Spark stages the write under
    ``path/.spark-staging-*`` (invisible to readers) and moves the
    partition directories into place when the job commits."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )


def hidden_name(name: str) -> bool:
    """Whether Spark's file index skips a path component called
    ``name``: names starting with ``.``, and names starting with ``_``
    unless they hold ``=`` (``__epoch=3`` is a partition, ``_SUCCESS``
    is not data). Every driver-side listing of data files here uses
    this one rule, so it sees what a Spark reader sees."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def has_data_files(path: str) -> bool:
    """Whether a Spark parquet reader of ``path`` would list a data
    file, the test a sink makes before reading its stored state (schema
    inference fails on a directory without one). A dynamic overwrite
    that dies mid-job leaves its files under ``path/.spark-staging-*``;
    counted, they would send every later epoch into schema inference
    over a directory Spark sees as empty."""
    import os

    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden_name(d)]
        if any(f.endswith(".parquet") and not hidden_name(f) for f in files):
            return True
    return False


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (optionally sorted) parquet table in the
    session catalog. Joins between tables bucketed on the same key and
    count need no shuffle; sorting within buckets additionally removes
    the sort from sort-merge joins."""
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def _spread_bits16(x: Column) -> Column:
    """Spread the low 16 bits of ``x`` to even positions (classic
    Morton magic-mask sequence) — pure JVM bit ops, codegen-friendly."""
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: min-max-normalize two numeric
    columns to 16 bits each, interleave into a Morton key, range-
    partition + sort the data by it, write one sorted file per range.

    Why: parquet keeps per-file/row-group min-max stats; a file sorted
    on ONE column gives perfect skipping on that column and none on
    the other. Z-ordering makes files into tiles of the (a, b) plane,
    so range predicates on EITHER column (or both) prune files — the
    multi-dimensional data-skipping layout (Delta OPTIMIZE ZORDER BY
    semantics, built from plain Spark ops). The min/max bounds come
    from one cheap aggregate, joined back lazily via broadcast — no
    driver collect in the plan."""
    bounds = df.agg(
        F.min(col_a).alias("__amin"),
        F.max(col_a).alias("__amax"),
        F.min(col_b).alias("__bmin"),
        F.max(col_b).alias("__bmax"),
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    norm_a = F.round(
        (F.col(col_a) - F.col("__amin"))
        / F.greatest(F.col("__amax") - F.col("__amin"), F.lit(1))
        * 65535,
        0,
    ).cast("long")
    norm_b = F.round(
        (F.col(col_b) - F.col("__bmin"))
        / F.greatest(F.col("__bmax") - F.col("__bmin"), F.lit(1))
        * 65535,
        0,
    ).cast("long")
    zkey = F.shiftleft(_spread_bits16(norm_a), 1).bitwiseOR(_spread_bits16(norm_b))
    (
        with_bounds.withColumn("__z", zkey)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__amin", "__amax", "__bmin", "__bmax", "__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_within_by: Sequence[str] | None = None,
) -> None:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files (optionally re-sorted within files to
    restore clustering for min-max skipping).

    Streaming parquet sinks write one file per partition per
    micro-batch — a 60 s trigger produces ~50k files/partition/month,
    and at 100 TB file-listing + footer reads start to dominate scan
    setup. Compaction is the standing maintenance job (OPTIMIZE in
    lake formats). Write-to-temp-then-swap keeps readers consistent on
    a filesystem; on a lake table the same plan commits as one
    transaction. The swap is :func:`sources.commitproto.swap_dir`: a
    crash between its renames leaves the previous table aside, where
    ``commitproto.recover(path)`` restores it."""
    from pubg_data_pipeline_spark.sources import commitproto

    df = spark.read.parquet(path)
    out = df.repartition(target_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    tmp = commitproto.tmp_dir(path, "compact")
    out.write.mode("overwrite").parquet(tmp)
    commitproto.swap_dir(tmp, path)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV batch source. Schema-on-read like every other source in the
    engine: pass an explicit DDL schema in production (inference scans
    the data twice and locks in whatever the sample implied); PERMISSIVE
    mode degrades malformed rows to nulls, matching the JSON path."""
    reader = spark.read.option("header", str(header).lower()).option("mode", mode)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: str | None = None, multiline: bool = False
) -> DataFrame:
    """JSON-lines batch source (set multiline for one-document files)."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Opaque-binary batch source (images/audio/video payloads):
    one row per file with (path, modificationTime, length, content).
    This is the ingestion edge of the multimodal pipeline — pair it
    with functions/multimodal.py's Arrow-batched decode/resize/
    frame-sample operators, which expect exactly this
    (binary content + metadata) shape.

    ``glob`` filters filenames (e.g. ``*.png``); ``max_bytes`` drops
    oversized payloads AT THE SOURCE via a pushed filter on the
    ``length`` metadata column — the file is never read, which is the
    scale property that matters when a crawl directory mixes 10 KB
    thumbnails with 10 GB videos.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def write_jsonl(
    df: DataFrame,
    path: str,
    shard_col: str | None = None,
    compression: str = "gzip",
    mode: str = "overwrite",
) -> None:
    """JSONL training-export sink — the delivery format most LLM
    training stacks consume (one JSON object per line, gzip by
    default). ``shard_col`` partitions the layout by the shard id a
    packing/shuffle step assigned (training_shuffle_shards /
    token_shard_packing), so each shard is an independently
    downloadable directory and a loader can stream shards in parallel
    without a manifest scan.

    The write is one job, no driver-side iteration: Spark's JSON sink
    serializes rows executor-side. Consumers verify delivery with
    `shard_output_manifest`'s order-independent checksums."""
    writer = df.write.mode(mode).option("compression", compression)
    if shard_col is not None:
        writer = writer.partitionBy(shard_col)
    writer.json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Read back a `write_jsonl` export (compression is codec-sniffed
    from file extensions). Pass the DDL schema in production — same
    schema-on-read contract as read_json; partition columns written by
    ``shard_col`` come back via directory discovery."""
    return read_json(spark, path, schema=schema)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the engine is format-agnostic at the storage edge
    (parquet is the default everywhere else; ORC interops with
    Hive-ecosystem consumers). Same columnar pushdown/pruning
    properties as the parquet path."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def _maintenance_log(table_path: str):
    """The table's maintenance journal — the shared transactional-log
    backend (commitproto.TxnLog) at ``<table>/_maintenance_log/``. Each
    destructive operation (delete propagation, retention expiry)
    journals its doom-set BEFORE touching a directory: the log commit
    is the commit point, the physical sweep is vacuum-like and
    idempotently replayable after a crash
    (:func:`complete_pending_maintenance`) — the same
    metadata-first discipline a lake format's DELETE uses. Retention:
    each journaling caller vacuums past the newest
    ``_MAINTENANCE_LOG_KEEP`` entries after publishing — crash replay
    only ever reads the newest entry per partition column, so the rest
    is audit horizon, and a nightly retention job must not accrete
    metadata forever."""
    import os

    from pubg_data_pipeline_spark.sources.commitproto import TxnLog

    return TxnLog(os.path.join(table_path, "_maintenance_log"))


#: Audit horizon for the maintenance journal (see _maintenance_log).
_MAINTENANCE_LOG_KEEP = 1000


def _require_backend(backend: str, allowed: tuple[str, ...], op: str) -> None:
    if backend not in allowed:
        raise ValueError(f"{op}: backend must be one of {allowed}, got {backend!r}")


def complete_pending_maintenance(table_path: str, partition_col: str) -> list[str]:
    """Re-apply every journaled doom-set for ``partition_col`` whose
    sweep never recorded completion (log-backend crash recovery): a
    maintenance run that committed its journal entry but died mid-sweep
    leaves doomed directories a direct reader still serves; the sweep
    is idempotent, so re-running it converges.

    Completion is tracked PER ENTRY: every successful sweep (the
    journaling callers' own, and this recovery's) publishes a
    ``sweep_complete`` marker citing the doom entry's version. Replaying
    only unmarked entries closes the burial hazard where a crashed
    sweep followed by a LATER successful run (newer journal entry)
    would hide the older incomplete doom-set forever — while marked
    entries are never re-swept, so an old doom-set can't delete a
    legitimately re-created partition value. Entries replay oldest
    first; each replay publishes its own marker, so recovery itself is
    crash-safe and convergent. Recovery must run within the journal's
    retention horizon (_MAINTENANCE_LOG_KEEP) — vacuuming past an
    unswept entry abandons it, same contract as any log retention.

    Back-compat: a journal whose entries FOR THIS COLUMN carry no
    markers at all predates the marker protocol; those entries were all
    swept by the marker-less code except possibly the newest, so only
    the newest replays (the old semantics) — replaying every legacy
    entry would re-doom partitions that were legitimately re-created
    after their (completed) sweeps. The older legacy entries are then
    marked ``legacy: true`` complete, so the exemption is durable (a
    later recovery must not suddenly treat them as pending once the
    first marker exists)."""
    from pubg_data_pipeline_spark.sources.commitproto import sweep_partition_dirs

    log = _maintenance_log(table_path)
    pending: list[tuple[int, set[str]]] = []
    completed: set[int] = set()
    any_marker = False  # per column: each migrates independently
    for v in log.versions():
        doc = log.read(v)
        if doc.get("partition_col") != partition_col:
            continue
        if doc.get("op") == "sweep_complete":
            completed.add(doc.get("for_version"))
            any_marker = True
        else:
            pending.append((v, set(doc.get("doomed", []))))
    if not any_marker and pending:
        # legacy journal: assume all but the newest completed, and say
        # so in the log so the exemption survives future recoveries
        for v, _ in pending[:-1]:
            log.publish(
                {
                    "op": "sweep_complete",
                    "partition_col": partition_col,
                    "for_version": v,
                    "legacy": True,
                }
            )
        pending = pending[-1:]
    removed: list[str] = []
    for v, doomed in pending:
        if v in completed:
            continue
        removed.extend(sweep_partition_dirs(table_path, partition_col, doomed))
        log.publish(
            {"op": "sweep_complete", "partition_col": partition_col, "for_version": v}
        )
    return removed


def _journal_swept(mlog, partition_col: str, doom_version: int) -> None:
    """Record that the sweep for journal entry ``doom_version``
    finished — the completion half of the journal-first protocol (see
    complete_pending_maintenance). Published AFTER the physical sweep,
    then the journal is vacuumed to its audit horizon."""
    mlog.publish(
        {
            "op": "sweep_complete",
            "partition_col": partition_col,
            "for_version": doom_version,
        }
    )
    mlog.vacuum(_MAINTENANCE_LOG_KEEP)


def propagate_deletes(
    spark: SparkSession,
    table_path: str,
    delete_keys: DataFrame,
    key_col: str,
    partition_col: str,
    max_affected_partitions: int = 100_000,
    backend: str = "direct",
) -> dict:
    """Right-to-be-forgotten propagation into a partitioned parquet
    table: remove every row whose ``key_col`` appears in
    ``delete_keys``, rewriting ONLY the partitions that contain such
    rows — the surgical form of the delete a 100 TB corpus needs
    (a naive anti-join-and-rewrite touches every byte of the table;
    this touches O(affected partitions)).

    Protocol:
    1. locate affected partitions with a column-pruned scan of
       (key, partition) + a broadcast semi-join on the delete keys;
    2. rewrite those partitions via dynamic partition overwrite with
       the deletes anti-joined out;
    3. partitions whose every row died produce no output under dynamic
       overwrite, so their directories are removed explicitly.

    Untouched partitions are never read (partition pruning on the
    rewrite scan) and never written. Returns
    ``{"affected_partitions", "deleted_rows"}``. Local filesystem for
    step 3's directory removal; on a lake format this whole function
    is ``DELETE WHERE`` and the table format does the same pruning.

    (Reference contrast: its HDFS tables are append-only with no
    delete story at all — spark_apps/pubg_streaming.py:252-262.)

    ``backend="log"`` additionally journals the operation (op, doomed
    partitions, row counts) to the table's ``_maintenance_log/`` via
    the shared transactional-log backend BEFORE the directory sweep:
    an auditable history of every destructive pass, and crash recovery
    via :func:`complete_pending_maintenance` instead of "hope the
    sweep finished". ``backend="direct"`` (default) keeps the bare
    protocol.
    """
    from pubg_data_pipeline_spark.sources.commitproto import (
        require_local_path,
        sweep_partition_dirs,
    )

    _require_backend(backend, ("direct", "log"), "propagate_deletes")
    require_local_path(
        table_path,
        "propagate_deletes",
        "use a table format's DELETE on object stores.",
    )
    table = spark.read.parquet(table_path)
    keys = delete_keys.select(F.col(key_col)).distinct()
    # limit(cap+1) bounds BOTH the driver memory of this collect and
    # the later `kept` collect (kept ⊆ affected): a delete sweep over a
    # high-cardinality partition column (e.g. partitioned by user_id)
    # must fail loudly instead of OOMing the driver with millions of
    # partition values.
    affected = [
        r[0]
        for r in table.select(key_col, partition_col)
        .join(F.broadcast(keys), key_col, "left_semi")
        .select(partition_col)
        .distinct()
        .limit(max_affected_partitions + 1)
        .collect()
    ]
    if len(affected) > max_affected_partitions:
        raise ValueError(
            f"propagate_deletes: more than {max_affected_partitions} partitions of "
            f"{table_path!r} contain delete keys — the per-partition rewrite plan "
            "degenerates to a full-table rewrite and the partition list would be "
            "collected to the driver. Rewrite the whole table with a plain "
            "anti-join instead, or raise max_affected_partitions explicitly."
        )
    if not affected:
        return {"affected_partitions": 0, "deleted_rows": 0}
    sub = table.filter(F.col(partition_col).isin(affected))
    pre = sub.count()
    survivors = sub.join(F.broadcast(keys), key_col, "left_anti")
    # localCheckpoint: the rewrite must not recompute its input from
    # the directories being overwritten mid-write
    survivors = survivors.localCheckpoint()
    post = survivors.count()
    overwrite_partitions(survivors, table_path, partition_col)
    kept = {str(r[0]) for r in survivors.select(partition_col).distinct().collect()}
    doomed = {str(p) for p in affected} - kept
    if backend == "log":
        mlog = _maintenance_log(table_path)
        jv = mlog.publish(
            {
                "op": "propagate_deletes",
                "partition_col": partition_col,
                "doomed": sorted(doomed),
                "affected_partitions": len(affected),
                "deleted_rows": pre - post,
            }
        )
        sweep_partition_dirs(table_path, partition_col, doomed)
        _journal_swept(mlog, partition_col, jv)
    else:
        sweep_partition_dirs(table_path, partition_col, doomed)
    return {"affected_partitions": len(affected), "deleted_rows": pre - post}


def expire_partitions(
    table_path: str,
    partition_col: str,
    keep: Callable[[str], bool],
    backend: str = "direct",
) -> list[str]:
    """Retention sweep: drop every partition of a partitioned parquet
    table whose VALUE fails ``keep`` (e.g. ``lambda d: d >=
    "2024-01-15"`` for a date-partitioned table; the value is passed
    Hive-UNESCAPED). Pure directory-level metadata operation — no
    partition is ever read and no SparkSession is needed, which is the
    whole point of time-partitioned layout at 100 TB (the reference's
    append-only HDFS tables grow forever; this is the missing expiry
    half). Returns the dropped partition values."""
    from pubg_data_pipeline_spark.sources.commitproto import (
        partition_dirs,
        require_local_path,
        sweep_partition_dirs,
    )

    _require_backend(backend, ("direct", "log"), "expire_partitions")
    require_local_path(
        table_path,
        "expire_partitions",
        "use the table format's retention/expire-snapshots on object stores.",
    )
    doomed = {v for v in partition_dirs(table_path, partition_col) if not keep(v)}
    if backend == "log":
        # journal-first, same contract as propagate_deletes' log mode
        mlog = _maintenance_log(table_path)
        jv = mlog.publish(
            {
                "op": "expire_partitions",
                "partition_col": partition_col,
                "doomed": sorted(doomed),
            }
        )
        swept = sweep_partition_dirs(table_path, partition_col, doomed)
        _journal_swept(mlog, partition_col, jv)
        return swept
    return sweep_partition_dirs(table_path, partition_col, doomed)


def vacuum_state_artifacts(state_path: str) -> list[str]:
    """Remove the tmp and aside directories a crashed
    :func:`sources.commitproto.swap_dir` may have stranded beside
    ``state_path`` (``commitproto.tmp_dir`` / ``aside_dir`` names).
    Safe any time the owning writer is stopped: the aside is only
    meaningful when the main path is MISSING (``commitproto.recover``
    restores it), and tmp dirs are always replaceable. Returns removed
    paths."""
    import glob
    import os
    import shutil

    from pubg_data_pipeline_spark.sources import commitproto

    removed = []
    for d in glob.glob(glob.escape(commitproto.tmp_dir(state_path, "")) + "*"):
        if os.path.isdir(d):
            shutil.rmtree(d)
            removed.append(d)
    old = commitproto.aside_dir(state_path)
    if os.path.isdir(state_path) and os.path.isdir(old):
        shutil.rmtree(old)
        removed.append(old)
    return removed


def read_parquet_resilient(
    spark: SparkSession,
    path: str,
    schema: str,
    ignore_corrupt: bool = True,
    ignore_missing: bool = True,
) -> DataFrame:
    """Parquet read that survives partially-written/corrupt files
    (crashed writers, truncated uploads): corrupt FILES are skipped
    with a warning instead of failing the whole 100 TB scan. The
    schema is REQUIRED: a truncated footer breaks schema inference
    before ignoreCorruptFiles can apply, and a production reader at
    this scale declares its schema anyway (schema-on-read, like every
    other source in this module). Options are scoped to this read —
    never set globally, so correctness-critical reads elsewhere still
    fail loudly on corruption. Missing files (compaction races) are
    tolerated under their own flag."""
    return (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", str(ignore_corrupt).lower())
        .option("ignoreMissingFiles", str(ignore_missing).lower())
        .parquet(path)
    )


def read_evolving_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table whose schema has EVOLVED across appends
    (new nullable columns added by later batches — the normal life of
    a long-lived ingest directory). Plain reads take the schema of an
    arbitrary footer and silently DROP newer columns for every file;
    ``mergeSchema`` unions all footers so old files surface the new
    columns as nulls. Merge cost is one footer read per file at plan
    time — at warehouse scale, prefer compacting old partitions or a
    table format with tracked schema; this is the raw-directory
    escape hatch."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def backfill_stale_partitions(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    partition_col: str,
    compute,
    fingerprint_cols: Sequence[str] | None = None,
    max_partitions: int = 100_000,
    logic_version: str = "1",
    backend: str = "replace",
    log_keep_versions: int = 100,
) -> dict:
    """Incremental backfill: recompute a derived partitioned table for
    ONLY the source partitions whose content changed — the standard
    answer to "yesterday's file landed late, which rollup days must be
    rebuilt?". A naive scheduled job recomputes the full table
    (100 TB reread for a one-day correction); this touches
    O(changed partitions).

    Mechanics:
    1. Fingerprint every source partition in one aggregate:
       ``(count, bit_xor(xxhash64(cols)), sum(hash as decimal))``.
       xor is order-independent and overflow-free but blind to
       duplicate-pair insertions (they cancel); the decimal hash-sum
       is exact, order-independent, and catches what xor misses — the
       pair detects any row-level change with hash-collision
       probability only.
    2. Diff against the manifest published by the previous run
       (``<target>/_backfill_manifest.json``): new or changed
       fingerprints are stale; manifest entries whose partition left
       the source are pruned from the target.
    3. Recompute stale partitions in ONE job — ``compute`` receives
       the source filtered to the stale partitions and must return
       rows still carrying ``partition_col`` — and publish them via
       dynamic partition overwrite (untouched partitions are never
       read or written).
    4. Publish the new manifest LAST via tmp-then-rename (the house
       commit protocol): a crash mid-write leaves the old manifest, so
       the next run simply redoes the same stale partitions —
       overwrite is idempotent, the target never serves a
       half-backfilled day as current.

    ``fingerprint_cols`` defaults to all source columns. Driver memory
    is bounded by ``max_partitions`` manifest entries (same guard as
    propagate_deletes). Partition keys are normalized through Spark's
    own ``cast(string)`` (so the filter and the manifest agree on
    'true'/'2024-01-01' spellings); a NULL partition value fails fast —
    map NULLs to an explicit bucket upstream, a NULL directory can
    neither be written nor diffed. ``logic_version`` is recorded in the
    manifest: bump it when ``compute``'s logic changes and every
    partition goes stale instead of serving results from the old code.
    Self-repair: manifest entries whose target directory has vanished
    (a /tmp sweeper, a partial delete) are treated as stale, never as
    done. Local filesystem for manifest + pruning; on a lake format
    steps 2-4 are MERGE + snapshot metadata.

    ``backend`` picks the manifest's commit protocol: ``"replace"``
    (default) is the single last-writer-wins JSON at
    ``<target>/_backfill_manifest.json``; ``"log"`` versions the same
    document through the shared transactional-log backend
    (``<target>/_backfill_log/v{N}.json``, commitproto.TxnLog) — every
    backfill run becomes an immutable, auditable version with snapshot
    isolation for concurrent readers of the manifest, and the
    lake-format swap point stays one module. ``log_keep_versions``
    bounds the log's metadata growth (a daily backfill would otherwise
    accrete one manifest per day forever — the Delta
    logRetentionDuration problem): after each publish, versions older
    than the newest N are vacuumed. Only the LATEST version is ever
    read by the diff, so retention is purely an audit-horizon choice.

    Returns ``{"stale", "pruned", "unchanged"}`` partition-value lists.
    """
    import json
    import os

    from pubg_data_pipeline_spark.sources.commitproto import (
        TxnLog,
        partition_dirs,
        publish_json,
        require_local_path,
        sweep_partition_dirs,
    )

    _require_backend(backend, ("replace", "log"), "backfill_stale_partitions")
    require_local_path(
        target_path,
        "backfill_stale_partitions (manifest publish)",
        "use a table format's MERGE/snapshots on object stores.",
    )
    cols = list(fingerprint_cols) if fingerprint_cols else source.columns
    pkey = F.col(partition_col).cast("string")
    fp = (
        source.groupBy(pkey.alias("__p"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("x"),
            F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(28,0)")).alias("s"),
        )
        .limit(max_partitions + 1)
        .collect()
    )
    if len(fp) > max_partitions:
        raise ValueError(
            f"backfill_stale_partitions: source has more than {max_partitions} "
            f"partitions of {partition_col!r} — the manifest would not be "
            "driver-safe. Partition the backfill itself, or raise "
            "max_partitions explicitly."
        )
    if any(r["__p"] is None for r in fp):
        raise ValueError(
            f"backfill_stale_partitions: source contains NULL {partition_col!r} "
            "values — map them to an explicit bucket (e.g. '__null__') upstream; "
            "a NULL partition can neither be routed by dynamic overwrite nor "
            "diffed by the manifest."
        )
    current = {r["__p"]: [r["n"], str(r["x"]), str(r["s"])] for r in fp}
    manifest_path = os.path.join(target_path, "_backfill_manifest.json")
    mlog = TxnLog(os.path.join(target_path, "_backfill_log"))
    doc = None
    if backend == "log":
        doc = mlog.read()  # latest committed version, torn reads impossible
    elif os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            doc = json.load(f)
    previous: dict = {}
    if doc is not None:
        # nested layout: version and partition entries never share a
        # namespace (a partition literally VALUED '__logic_version__'
        # must not collide with metadata)
        if doc.get("version") == logic_version:
            previous = doc.get("partitions", {})
        # else: compute changed (or pre-nesting manifest): rebuild all

    # self-repair: a manifest entry with no surviving directory is NOT
    # done — unless the entry itself says its output was legitimately
    # empty (no directory is its correct on-disk form)
    on_disk = partition_dirs(target_path, partition_col)
    previous = {
        p: v for p, v in previous.items() if v.get("empty") or p in on_disk
    }

    stale = sorted(
        p for p, v in current.items() if previous.get(p, {}).get("fp") != v
    )
    stale_set = set(stale)
    pruned = sorted(p for p in previous if p not in current)
    unchanged = sorted(p for p in current if p not in stale_set)

    if stale:
        todo = source.filter(pkey.isin(stale))
        out = compute(todo)
        if partition_col not in out.columns:
            raise ValueError(
                f"backfill compute() must keep {partition_col!r} in its output "
                "so dynamic partition overwrite can route rows"
            )
        out = out.localCheckpoint()  # rewrite must not re-read dirs mid-write
        written = {
            str(r[0])
            for r in out.select(F.col(partition_col).cast("string")).distinct().collect()
        }
        # spelling-drift guard, checked BEFORE publishing: compute()
        # must emit partition values in the SAME string spelling the
        # source fingerprints use (e.g. a re-derived day formatted
        # differently would mark every stale partition 'empty' and
        # silently disable its self-repair). Raising after the write
        # would already have published drifted `col=value` directories
        # that are in no manifest — untracked data the prune path can
        # never remove but a direct reader can see. The checkpoint above
        # makes this pre-write collect a cheap scan of materialized
        # output, not a recompute.
        drifted = written - stale_set
        if drifted:
            raise ValueError(
                "backfill compute() emitted partition values outside the stale "
                f"set — spelling drift between source and output for "
                f"{partition_col!r}: {sorted(drifted)[:5]} not in the stale "
                "keys. Emit the partition column verbatim from the source."
            )
        overwrite_partitions(out, target_path, partition_col)
        # a stale partition whose recompute yielded ZERO rows writes
        # nothing under dynamic overwrite — its old directory must go,
        # or the target serves pre-correction data forever (same sweep
        # as propagate_deletes)
        doomed = stale_set - written
    else:
        written = set()
        doomed = set()
    doomed |= set(pruned)
    if doomed:
        sweep_partition_dirs(target_path, partition_col, doomed)
    # manifest last: tmp -> rename. Each entry carries the source
    # fingerprint plus whether the partition's correct output is empty
    # (so self-repair can tell "legitimately no directory" from
    # "directory lost").
    entries = {}
    for p, v in current.items():
        if p in stale_set:
            empty = p not in written
        else:
            empty = bool(previous.get(p, {}).get("empty"))
        entries[p] = {"fp": v, "empty": empty}
    os.makedirs(target_path, exist_ok=True)
    new_doc = {"version": logic_version, "partitions": entries}
    if backend == "log":
        mlog.publish(new_doc)
        mlog.vacuum(log_keep_versions)
    else:
        publish_json(new_doc, manifest_path)
    return {"stale": stale, "pruned": pruned, "unchanged": unchanged}


def warehouse_fsck(root: str, max_findings: int = 10_000) -> list[dict]:
    """Filesystem health sweep over a warehouse/state directory tree —
    the fsck for every tmp-then-rename protocol in this engine. A
    crashed job leaves a characteristic residue; each kind is detected
    and classified so an operator (or a scheduled cleanliness check)
    can alert BEFORE a reader trips on it:

    - ``tmp_orphan``: ``*.tmp`` / ``.tmp-*`` files or dirs — an
      in-flight publish that never renamed (jsonl sink tasks, manifest
      swaps, state compactions).
    - ``aside_orphan``: ``*.old`` directories — a rename-aside swap
      whose recovery hasn't run (``commitproto.swap_dir``; readers
      self-heal, but residue past a few epochs means no reader ran).
    - ``uncommitted_parquet``: a directory containing parquet part
      files but NO ``_SUCCESS`` marker — a dead Spark write job
      (ensure_index_cache would rebuild it; a direct reader would
      happily serve the partial data).
    - ``empty_partition_dir``: a ``col=value`` directory with no data
      files — residue of a partial sweep; harmless to Spark but a
      signal the last delete crashed mid-pass.

    Pure local-filesystem walk, no Spark session needed: run it from a
    cron or the driver between jobs. Findings are capped (the sweep is
    a diagnostic, not a dump); each is ``{"kind", "path"}``. A flagged
    tmp/aside DIRECTORY is reported once and not descended into — its
    interior residue is covered by the one finding, so nested noise
    can't burn the cap."""
    import os

    findings: list[dict] = []

    def add(kind: str, path: str) -> bool:
        findings.append({"kind": kind, "path": path})
        return len(findings) >= max_findings

    def _is_tmp(name: str) -> bool:
        # every tmp spelling the engine's protocols produce:
        #   *.tmp            (manifest swaps: io.py, plans/base.py)
        #   .<base>.tmp-<tag> (commitproto.swap_dir tmp dirs: epoch
        #                    ids, "compact", "commit")
        #   *-tmp            (compact_parquet's former {path}.compact-tmp)
        #   .tmp-<uuid>.*    (jsonl sink task files)
        return (
            name.endswith(".tmp")
            or name.endswith("-tmp")
            or ".tmp-" in name
        )

    for dirpath, dirnames, filenames in os.walk(root):
        base = os.path.basename(dirpath)
        has_parquet = any(f.endswith(".parquet") for f in filenames)
        if has_parquet and "_SUCCESS" not in filenames and "=" not in base:
            # partition dirs (col=value) legitimately lack per-dir
            # markers; the _SUCCESS lives at the table root
            if add("uncommitted_parquet", dirpath):
                return findings
        if "=" not in base and not has_parquet and "_SUCCESS" not in filenames:
            # PARTITIONED table root of a dead write: parquet lives only
            # inside col=value children, so the root itself holds no
            # data files — check one level down for partition dirs that
            # do contain parquet while the root lacks its marker
            for child in dirnames:
                if "=" not in child:
                    continue
                try:
                    entries = os.listdir(os.path.join(dirpath, child))
                except OSError:
                    continue
                if any(e.endswith(".parquet") for e in entries):
                    if add("uncommitted_parquet", dirpath):
                        return findings
                    break
        if "=" in base and not filenames and not dirnames:
            if add("empty_partition_dir", dirpath):
                return findings
        keep_dirs = []
        for name in dirnames:
            full = os.path.join(dirpath, name)
            if _is_tmp(name):
                if add("tmp_orphan", full):
                    return findings
            elif name.endswith(".old"):
                if add("aside_orphan", full):
                    return findings
            else:
                keep_dirs.append(name)
        dirnames[:] = keep_dirs  # don't descend into flagged residue
        for name in filenames:
            full = os.path.join(dirpath, name)
            if _is_tmp(name):
                if add("tmp_orphan", full):
                    return findings
            elif name.endswith(".old"):
                if add("aside_orphan", full):
                    return findings
    return findings
