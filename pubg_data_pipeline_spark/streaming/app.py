"""End-to-end streaming applications, composed from the streaming
adapters + the batch-first analytics pipelines.

Mirrors the reference's two Spark apps (reference:
spark_apps/pubg_streaming.py — ETL; spark_apps/advanced_analytics.py
— foreachBatch analytics) with the SURVEY.md §4.2 fixes applied:
watermarked dedup (bounded state), a single persist() per analytics
epoch (the reference recomputes its batch ~10×), and no driver-side
collect() in the z-score path.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from pubg_data_pipeline_spark.operators import ckpt
from pubg_data_pipeline_spark.plans import analytics
from pubg_data_pipeline_spark.sources import commitproto, io
from pubg_data_pipeline_spark.streaming import etl, sinks


def _open_roots(what: str, *roots: str) -> None:
    """Open the state roots ``what`` is about to read or rewrite.

    The state-swapping bodies below use driver-side filesystem
    operations (isdir / rename / rmtree), which silently do the wrong
    thing against hdfs://, s3a://, etc. (isdir is always False ->
    history checks skip, renames fail). So every root must first be a
    local path: fail loudly otherwise, before ANY root is touched. On a
    cluster these sinks target a transactional table format
    (Delta/Iceberg MERGE INTO / epoch-partitioned commits) — the Spark
    plan inside each epoch is identical, only the commit mechanism
    changes. Then ``commitproto.recover`` undoes a swap or compaction
    that crashed between its two renames; on a root that is never
    swapped that is one isdir check."""
    for root in roots:
        commitproto.require_local_path(
            root,
            what,
            "deploy against a transactional table format for object-store/HDFS paths.",
        )
    for root in roots:
        commitproto.recover(root)


def _open_epoch(batch_df: DataFrame, what: str, *roots: str) -> bool:
    """The start every epoch body here shares: :func:`_open_roots`,
    then False for an idle trigger (an empty micro-batch), which the
    body skips without writing — no O(state) rewrite, no empty
    partition, no snapshot version per quiet minute. Skipping is
    replay-safe: a replayed empty epoch is still empty."""
    _open_roots(what, *roots)
    return not batch_df.isEmpty()


def _compact(spark, root: str, what: str, fold: Callable[[DataFrame], DataFrame]) -> None:
    """Fold every ``__epoch`` partition of the state table at ``root``
    into one ``__epoch=0`` partition: the one compaction protocol of
    the epoch-partitioned state tables here.

    ``fold`` receives the stored rows without ``__epoch`` and returns
    their merge. Every state here merges by addition, by the
    Misra-Gries offset rule or by a minimum, so answers read after the
    fold equal the answers before it. The merged rows are cut (the
    write must not recompute them from the directory it replaces),
    written to a tmp dir and installed with ``commitproto.swap_dir``;
    a crash at any point leaves the old table or the new one, which
    the next ``commitproto.recover`` restores. Run a compaction only
    over epochs older than the streaming checkpoint's replay window: a
    replayed epoch whose partition was folded away would write it
    again beside epoch 0."""
    from pyspark.sql import functions as F

    _open_roots(what, root)
    tmp = commitproto.tmp_dir(root, "compact")
    with ckpt.Scope(spark) as cuts:
        merged = cuts.cut(
            fold(spark.read.parquet(root).drop("__epoch")).withColumn("__epoch", F.lit(0))
        )
        merged.write.mode("overwrite").partitionBy("__epoch").parquet(tmp)
    commitproto.swap_dir(tmp, root)


def streaming_etl(
    raw_stream: DataFrame,
    players_path: str,
    matches_path: str,
    checkpoint_root: str,
    trigger_seconds: int = 60,
    watermark: str = "1 hour",
) -> list[StreamingQuery]:
    """Kafka/file JSON envelope stream -> parse -> flatten -> dedup ->
    two checkpointed parquet sinks (reference:
    spark_apps/pubg_streaming.py:236-262, dedup :247-250)."""
    parsed = etl.parse_envelope(raw_stream)
    players = etl.watermarked_dedup(
        etl.extract_players(parsed), ["account_id"], "data_collected_at", watermark
    )
    matches = etl.watermarked_dedup(
        etl.extract_matches_table(parsed),
        ["match_id", "account_id"],
        "match_created_at",
        watermark,
    )
    return [
        sinks.parquet_sink(
            players,
            players_path,
            f"{checkpoint_root}/players",
            trigger_seconds,
            query_name="players_sink",
        ),
        sinks.parquet_sink(
            matches,
            matches_path,
            f"{checkpoint_root}/matches",
            trigger_seconds,
            query_name="matches_sink",
        ),
    ]


def analytics_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    publish: Callable[[str, DataFrame], None],
) -> None:
    """One foreachBatch epoch of the advanced-analytics app.

    reference: spark_apps/advanced_analytics.py:91-281, fixed per
    SURVEY.md §4.2: the batch is persisted ONCE (the reference
    recomputes the parse/flatten prefix for each of its ~10 actions)
    and unpersisted at epoch end; empty batches short-circuit with the
    single cached count. ``publish(name, df)`` receives each result
    (the reference writes to Kafka topics / console)."""
    batch_df.persist()
    try:
        if batch_df.count() == 0:
            return
        perf = analytics.prepare_performance(batch_df)
        publish("player_ranking", analytics.player_ranking(perf))
        publish("moving_trends", analytics.moving_average_trends(perf))
        publish("anomaly_alerts", analytics.anomaly_alerts(perf))
        publish("hourly_aggregates", analytics.hourly_aggregates(perf))
        publish("map_difficulty", analytics.map_difficulty(perf))
    finally:
        batch_df.unpersist()


def streaming_analytics(
    flat_match_stream: DataFrame,
    publish: Callable[[str, DataFrame], None],
    trigger_seconds: int = 60,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """The analytics app: flat-match stream -> foreachBatch(epoch).

    Pass ``checkpoint`` in any deployment that must survive restarts:
    with only a temporary checkpoint a restarted query re-reads from
    the source's default offsets — 'latest' silently drops every
    record that arrived while down, 'earliest' re-publishes history.

    reference: spark_apps/advanced_analytics.py:284-288."""
    return sinks.foreach_batch_sink(
        flat_match_stream,
        lambda df, eid: analytics_epoch(df, eid, publish),
        trigger_seconds,
        checkpoint=checkpoint,
    )


def rollup_merge_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """One epoch of incremental materialized-rollup maintenance: reduce
    the micro-batch to mergeable partial state (operators/incremental),
    merge with the stored state table, swap the store.

    This is the cross-run form of streaming aggregation: state lives in
    a TABLE (readable by any engine, survives checkpoint deletion, can
    span years), not in the streaming state store; each refresh costs
    O(micro-batch + state buckets), never O(history). The swap below is
    write-new-then-rename on a filesystem; on an object store / lake
    deployment the same epoch body targets a Delta/Iceberg MERGE INTO,
    which makes the swap transactional — the plan shape is identical.

    Replay idempotence (foreachBatch is at-least-once): the last
    absorbed epoch id rides INSIDE the swapped state directory as a
    ``_last_epoch`` marker (underscore-prefixed -> invisible to parquet
    readers), written into tmp before the swap so marker and state
    commit atomically. A replayed epoch id <= the marker is skipped —
    without this, a crash after the swap but before the streaming
    checkpoint commit re-merged the same micro-batch and permanently
    double-counted it. Corollary: the state table and the streaming
    checkpoint must be retained (or deleted) TOGETHER — a fresh
    checkpoint restarts epoch ids at 0, which the marker would skip
    (the standard Delta txnAppId/txnVersion contract).
    """
    import json

    from pubg_data_pipeline_spark.operators import incremental

    if not _open_epoch(batch_df, "rollup_merge_epoch", state_path):
        return
    marker = os.path.join(state_path, "_last_epoch")
    if os.path.isfile(marker):
        with open(marker) as f:
            if int(json.load(f)["epoch"]) >= int(epoch_id):
                return  # at-least-once replay of an absorbed epoch
    spark = batch_df.sparkSession
    partial = incremental.partial_hourly_state(batch_df, ts_col, value_col)
    if os.path.isdir(state_path):
        # The stored state has the partial's schema; passing it skips
        # the footer-reading schema-inference job on every epoch.
        prev = spark.read.schema(partial.schema).parquet(state_path)
        merged = incremental.merge_hourly_states(prev, partial)
    else:
        merged = partial
    tmp = commitproto.tmp_dir(state_path, epoch_id)
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_last_epoch"), "w") as f:
        json.dump({"epoch": int(epoch_id)}, f)
    commitproto.swap_dir(tmp, state_path)


def incremental_rollup_stream(
    event_stream: DataFrame,
    state_path: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Event stream -> continuously-maintained hourly rollup table.

    The stored state is the PARTIAL form (count + exact scaled sum) —
    finalize with ``incremental.finalize_hourly(spark.read.parquet(
    state_path))`` at read time. With ``available_now=True`` the same
    query definition backfills history and stops."""
    return sinks.foreach_batch_sink(
        event_stream,
        lambda df, eid: rollup_merge_epoch(df, eid, state_path),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def streaming_hourly_aggregates(
    flat_match_stream: DataFrame,
    event_time_col: str = "created_at",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native event-time replacement for the reference's per-batch
    hourly aggregate (reference: spark_apps/advanced_analytics.py:
    236-248, which buckets processing time with date_format inside
    foreachBatch — windows there only ever see one micro-batch).

    This is a true incremental windowed aggregation: tumbling 1-hour
    event-time windows with a watermark bounding state; counts are
    cross-batch correct and late rows beyond the watermark are dropped
    (SURVEY.md §2.7 streaming-gaps scope). approx_count_distinct
    stands in for countDistinct, which streaming aggregation cannot
    maintain incrementally."""
    from pyspark.sql import functions as F

    return (
        flat_match_stream.withWatermark(event_time_col, watermark)
        .groupBy(
            F.window(event_time_col, "1 hour").alias("w"),
            "game_mode",
            "map_name",
        )
        .agg(
            F.count(F.lit(1)).alias("total_matches"),
            F.approx_count_distinct("player_name").alias("unique_players"),
            F.avg("kills").alias("avg_kills"),
            F.avg("damage_dealt").alias("avg_damage"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "game_mode",
            "map_name",
            "total_matches",
            "unique_players",
            "avg_kills",
            "avg_damage",
        )
    )


def ingest_dedup_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One epoch of streaming corpus ingestion with exact dedup against
    the persisted fingerprint index (the streaming twin of
    operators.dedup.incremental_ingest_dedup): micro-batch rows whose
    normalized-text md5 already exists in history are dropped via an
    anti-join on the index, one keeper (min id) survives per
    within-batch duplicate group, and the survivors land in BOTH the
    corpus table and the index — so the next epoch dedups against them
    too. Epoch cost is O(batch + index), never O(historical text);
    at 100 TB the index is 32 bytes + id per distinct doc.

    Exactly-once under foreachBatch's at-least-once retries: both
    outputs are epoch partitions written by ``io.overwrite_partitions``
    (plain append here was the classic duplicate-on-retry window: a
    crash between the two appends left the index missing the batch
    fingerprints, and the retry re-appended the same corpus rows).
    A retry that finds its fingerprints already indexed recomputes an
    empty keeper set and touches no partitions — the committed epoch-N
    data, being deterministic, is already correct. Survivors are cut
    (``ckpt.Scope``, released when the epoch returns) BEFORE either
    write: the second write must never recompute the anti-join against
    the index directory the first write just modified (and best-effort
    ``persist`` could silently do exactly that on block eviction; the
    checkpoint either serves the materialized rows or fails the task,
    and a failed task replays the now-idempotent epoch).

    Assumes one stream per (corpus_path, index_path) pair — epoch ids
    are unique per streaming checkpoint, and continue monotonically
    across restarts of the same checkpoint.
    """
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.functions.text import doc_fingerprint
    from pubg_data_pipeline_spark.operators.dedup import exact_dedup

    if not _open_epoch(batch_df, "ingest_dedup_epoch", index_path, corpus_path):
        return
    spark = batch_df.sparkSession
    batch = batch_df.withColumn("__fp", doc_fingerprint(F.col(text_col)))
    # With nothing indexed there is nothing to anti-join.
    if io.has_data_files(index_path):
        # Explicit schema: no schema-inference job per epoch.
        idx = (
            spark.read.schema("fingerprint string")
            .parquet(index_path)
            .select(F.col("fingerprint").alias("__fp"))
        )
        batch = batch.join(idx, "__fp", "left_anti")
    with ckpt.Scope(spark) as cuts:
        keep = cuts.cut(
            exact_dedup(batch, ["__fp"], id_col).withColumn("__epoch", F.lit(int(epoch_id)))
        )
        io.overwrite_partitions(keep.drop("__fp"), corpus_path, "__epoch")
        io.overwrite_partitions(
            keep.select(
                F.col("__fp").alias("fingerprint"),
                F.col(id_col).alias("keeper_id"),
                "__epoch",
            ),
            index_path,
            "__epoch",
        )


def streaming_ingest_dedup(
    doc_stream: DataFrame,
    index_path: str,
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Document stream -> continuously-deduplicated corpus + fingerprint
    index. With ``available_now=True`` the same query definition
    backfills pending files and stops — rerunning it later ingests
    only new files (the checkpoint tracks progress) and dedups them
    against everything already ingested."""
    return sinks.foreach_batch_sink(
        doc_stream,
        lambda df, eid: ingest_dedup_epoch(
            df, eid, index_path, corpus_path, text_col=text_col, id_col=id_col
        ),
        trigger_seconds,
        output_mode="append",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def ingest_neardup_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """One epoch of streaming corpus ingestion with NEAR-dup dedup
    against the persisted MinHash band index (the streaming twin of
    operators.dedup.incremental_neardup_ingest, and the fuzzy sibling
    of :func:`ingest_dedup_epoch`, which only catches
    byte-identical-after-normalization content): micro-batch docs
    sharing any LSH band key with history are dropped, within-batch
    collisions keep the bucket-minimum id (greedy first-seen policy —
    see the operator's docstring for how it relates to transitive
    closure), and survivors land in BOTH the corpus table and the band
    index — ``bands`` longs + an id per kept doc — so the next epoch
    near-dup-checks against them too. Epoch cost is
    O(batch·bands + index probe), never O(historical text).

    Exactly-once under foreachBatch's at-least-once retries by the
    same protocol as :func:`ingest_dedup_epoch`: both outputs are epoch
    partitions written by ``io.overwrite_partitions``, and survivors
    are cut before either write so the index write can never recompute
    the probe against the directory the corpus write just changed. A
    retry that finds its bands already indexed recomputes an empty
    survivor set and touches no partitions.

    Assumes one stream per (corpus_path, index_path) pair — epoch ids
    are unique per streaming checkpoint."""
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.operators.dedup import band_table, neardup_survivor_bands

    if not _open_epoch(batch_df, "ingest_neardup_epoch", index_path, corpus_path):
        return
    spark = batch_df.sparkSession
    idx = (
        spark.read.parquet(index_path).select("band_idx", "band_key")
        if io.has_data_files(index_path)
        else None
    )
    bt = band_table(batch_df, text_col, id_col, num_hashes, bands, shingle_n)
    with ckpt.Scope(spark) as cuts:
        keep = cuts.cut(
            neardup_survivor_bands(bt, idx).withColumn("__epoch", F.lit(int(epoch_id)))
        )
        keep_ids = keep.select(F.col("doc").alias(id_col), "__epoch").distinct()
        io.overwrite_partitions(batch_df.join(keep_ids, id_col), corpus_path, "__epoch")
        io.overwrite_partitions(
            keep.select("band_idx", "band_key", F.col("doc").alias("keeper_id"), "__epoch"),
            index_path,
            "__epoch",
        )


def streaming_ingest_neardup(
    doc_stream: DataFrame,
    index_path: str,
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Document stream -> continuously NEAR-deduplicated corpus + band
    index. With ``available_now=True`` the same query definition
    backfills pending files and stops — rerunning it later ingests
    only new files (the checkpoint tracks progress) and near-dup
    checks them against everything already ingested."""
    return sinks.foreach_batch_sink(
        doc_stream,
        lambda df, eid: ingest_neardup_epoch(
            df,
            eid,
            index_path,
            corpus_path,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        ),
        trigger_seconds,
        output_mode="append",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def dim_upsert_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    dim_path: str,
    keys: list[str],
    order_key: str,
) -> None:
    """One epoch of streaming dimension maintenance: MERGE the
    micro-batch of change rows into the stored dimension table,
    latest-per-key wins (the streaming twin of
    operators.relational.upsert, and the missing half of the
    reference's snapshot-refresh ingest — reference
    producer/producer.py:73-105 re-emits full player state each poll,
    but the reference only ever APPENDS snapshots,
    spark_apps/pubg_streaming.py:252-262, so its "dimension" grows
    without bound and every reader re-derives latest-per-key).

    Epoch cost is O(batch + dim). Latest-per-key is decided on
    ``order_key`` ACROSS base and batch (update wins ties), so a late
    or replayed change with a lower version than the stored row can
    never regress the dimension — which also makes the epoch
    idempotent under foreachBatch's at-least-once replays. The merged
    state is cut (``ckpt.Scope``) before the tmp write so the swap
    never races a recomputation against the directory being replaced,
    and the swap itself is
    ``commitproto.swap_dir`` (move dim aside, rename tmp onto dim, drop
    the aside) with crash recovery at epoch start — no window in which
    the only copy of the dimension is deleted. Local filesystem only (see
    ``_open_roots``); a cluster deployment targets a
    transactional table format's MERGE INTO with the identical plan.
    An idle trigger writes nothing, so a first epoch never materializes
    a fileless empty table (unreadable by schema inference).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not _open_epoch(batch_df, "dim_upsert_epoch", dim_path):
        return
    spark = batch_df.sparkSession
    upd = batch_df.withColumn("__src", F.lit(1))
    if os.path.isdir(dim_path):
        # the stored dimension has the batch's schema; declaring it
        # skips the footer-reading schema-inference job on every epoch
        base = spark.read.schema(batch_df.schema).parquet(dim_path).withColumn(
            "__src", F.lit(0)
        )
        unioned = base.unionByName(upd)
    else:
        unioned = upd
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_key).desc(), F.col("__src").desc()
    )
    merged = (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    tmp = commitproto.tmp_dir(dim_path, epoch_id)
    with ckpt.Scope(spark) as cuts:
        cuts.cut(merged).write.mode("overwrite").parquet(tmp)
    commitproto.swap_dir(tmp, dim_path)


def streaming_dim_upsert(
    change_stream: DataFrame,
    dim_path: str,
    keys: list[str],
    order_key: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Change stream -> continuously-maintained latest-per-key
    dimension table at ``dim_path`` (SCD1). Readers see a plain
    parquet table; history-preserving SCD2 is the batch compaction
    ``operators.cdc.scd2_from_changelog`` over the raw change log."""
    return sinks.foreach_batch_sink(
        change_stream,
        lambda df, eid: dim_upsert_epoch(df, eid, dim_path, keys, order_key),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def rest_streaming_etl(
    spark,
    url: str,
    players_path: str,
    matches_path: str,
    checkpoint_root: str,
    shards: int = 1,
    trigger_seconds: int = 60,
    watermark: str = "1 hour",
) -> list[StreamingQuery]:
    """The reference's ENTIRE ingest chain (REST-poll daemon -> Kafka
    -> Spark job, reference producer/producer.py + docker-compose
    wiring) as one Spark-managed pipeline: the in-engine
    ``rest_envelope`` source (sources/rest_source.py) polls the API
    with checkpointed offsets, and the same parse -> flatten ->
    watermarked-dedup -> parquet topology as ``streaming_etl`` runs
    downstream. Restart resumes from the committed poll; no daemon, no
    broker hop."""
    from pubg_data_pipeline_spark.sources import rest_source

    rest_source.register(spark)
    raw = (
        spark.readStream.format("rest_envelope")
        .option("url", url)
        .option("shards", shards)
        .load()
    )
    return streaming_etl(
        raw,
        players_path,
        matches_path,
        checkpoint_root,
        trigger_seconds=trigger_seconds,
        watermark=watermark,
    )


def topk_search_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    queries_df: DataFrame,
    state_path: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One epoch of continuous top-k similarity search over a GROWING
    corpus: score only the new micro-batch against the (broadcast)
    query set, then merge with the stored per-query top-k — the
    incremental-maintenance form of ``similarity.brute_force_top_k``.
    Epoch cost is O(batch x queries); history is never re-scored, and
    the stored state is k rows per query regardless of corpus size.
    Same rename-aside swap + recovery as the other state sinks."""
    from pubg_data_pipeline_spark.operators import similarity

    if not _open_epoch(batch_df, "topk_search_epoch", state_path):
        return
    spark = batch_df.sparkSession
    batch_topk = similarity.brute_force_top_k(
        batch_df, queries_df, id_col=id_col, vec_col=vec_col, k=k, round_digits=6
    )
    if os.path.isdir(state_path):
        prev = spark.read.schema(batch_topk.schema).parquet(state_path)
        merged = similarity.merge_topk_states(prev, batch_topk, k=k)
    else:
        merged = batch_topk
    tmp = commitproto.tmp_dir(state_path, epoch_id)
    with ckpt.Scope(spark) as cuts:
        cuts.cut(merged).write.mode("overwrite").parquet(tmp)
    commitproto.swap_dir(tmp, state_path)


def streaming_topk_search(
    vector_stream: DataFrame,
    queries_df: DataFrame,
    state_path: str,
    k: int = 5,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Vector stream -> continuously-maintained exact top-k neighbor
    table for a fixed query set. Readers see plain parquet
    (query_id, neighbor_id, cos_sim, rank)."""
    return sinks.foreach_batch_sink(
        vector_stream,
        lambda df, eid: topk_search_epoch(df, eid, queries_df, state_path, k=k),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def _epoch_table(spark, path: str, before_epoch: int, template: DataFrame) -> DataFrame:
    """Stored epoch-partitioned table restricted to epochs BEFORE the
    one being (re)processed — the replay-safety read: a retried epoch
    must never see its own previous partial output as base state. The
    ``__epoch < N`` predicate prunes on the partition column, so a
    replay reads exactly the directories it would have seen the first
    time. No data file (``io.has_data_files``) -> empty frame with the
    template's schema (parquet schema inference cannot handle a bare
    dir). The caller's ``_open_epoch`` has already recovered ``path``."""
    from pyspark.sql import functions as F

    if not io.has_data_files(path):
        return template.limit(0)
    return (
        spark.read.parquet(path)
        .filter(F.col("__epoch") < F.lit(int(before_epoch)))
        .drop("__epoch")
    )


def join_view_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    left_path: str,
    right_path: str,
    view_path: str,
    on: list[str],
    left_cols: list[str],
    right_cols: list[str],
    side_col: str = "side",
) -> None:
    """One epoch of STREAMING incremental join-view maintenance: the
    micro-batch is a tagged changelog carrying insert rows for either
    side of an inner equi-join (``side_col`` in {'left','right'}), and
    the epoch folds them into a continuously-materialized join view
    using the same delta algebra as the batch operator
    (operators/incremental.py:maintain_join_view):

        Δview = ΔL ⋈ (R_old ∪ ΔR)  ∪  L_old ⋈ ΔR

    Epoch cost is O(Δ x matches + base scan) with both joins
    broadcast-small on the delta side — the view is NEVER rejoined
    from scratch. All three outputs (left base, right base, view
    delta) are epoch partitions written by ``io.overwrite_partitions``,
    and base reads filter ``__epoch < N``, so an at-least-once replay
    of epoch N recomputes exactly the same rows and rewrites exactly
    its own partitions: exactly-once effective semantics without a
    transactional table format. Local filesystem only (see
    ``_open_roots``); on a cluster the same plan targets a
    lakehouse table's dynamic overwrite."""
    from pyspark.sql import functions as F

    if not _open_epoch(batch_df, "join_view_epoch", left_path, right_path, view_path):
        return
    spark = batch_df.sparkSession
    dl = batch_df.filter(F.col(side_col) == "left").select(*left_cols)
    dr = batch_df.filter(F.col(side_col) == "right").select(*right_cols)
    l_old = _epoch_table(spark, left_path, epoch_id, dl)
    r_old = _epoch_table(spark, right_path, epoch_id, dr)
    inc = dl.join(r_old.unionByName(dr), on).unionByName(l_old.join(dr, on))
    # View first, bases after: a crash in between replays the epoch,
    # which re-reads bases `< N` (unchanged) and overwrites the same
    # view partition deterministically.
    for out, path in ((inc, view_path), (dl, left_path), (dr, right_path)):
        io.overwrite_partitions(
            out.withColumn("__epoch", F.lit(int(epoch_id))), path, "__epoch"
        )


def streaming_join_view(
    change_stream: DataFrame,
    left_path: str,
    right_path: str,
    view_path: str,
    on: list[str],
    left_cols: list[str],
    right_cols: list[str],
    side_col: str = "side",
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Tagged two-sided changelog stream -> continuously-maintained
    inner-join materialized view (plus both base tables), the
    streaming twin of operators.incremental.maintain_join_view.
    Readers see plain parquet; ``view = union of all __epoch
    partitions`` is always consistent with the bases ingested so
    far."""
    return sinks.foreach_batch_sink(
        change_stream,
        lambda df, eid: join_view_epoch(
            df, eid, left_path, right_path, view_path, on, left_cols, right_cols, side_col
        ),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def heavy_hitters_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    key_cols: list[str],
    counters: int = 200,
) -> None:
    """One epoch of streaming heavy-hitter tracking: the micro-batch is
    reduced to a bounded Misra-Gries summary
    (operators/incremental.py:partial_mg_state, one native Spark job
    whose result of at most ``counters`` rows lands on the driver) and
    stored as THIS EPOCH's partition of the state table; the batch row
    total lands beside it so readers can report the MG error bound.

    The driver commits both partitions itself with pyarrow: each file
    is written into a dot-prefixed temp dir (invisible to Spark and
    pyarrow readers) and renamed onto ``summary/__epoch=N`` and
    ``totals/__epoch=N``, replacing a previous copy — so a replay
    replaces exactly its own partition, which then holds one data file
    (the same idempotence as ``io.overwrite_partitions``, without two
    Spark write jobs per epoch). Readers merge epoch
    summaries on demand (read_heavy_hitters); states are associative,
    so a maintenance job may compact old epochs into one without
    changing answers."""
    import pyarrow as pa

    from pubg_data_pipeline_spark.operators import incremental

    _open_roots("heavy_hitters_epoch", f"{state_path}/summary", f"{state_path}/totals")
    summary, n_rows = incremental.partial_mg_state(batch_df, key_cols, counters)
    if n_rows == 0:
        return  # idle trigger, told by the summary job itself (no isEmpty job)
    # totals FIRST: a crash between the two commits then leaves the
    # bound transiently too LOOSE (n_rows without weights) instead of
    # invalid/negative (weights without n_rows would make
    # max_undercount = (N - W)/(k+1) underestimate) — the replayed
    # epoch replaces both partitions either way.
    totals = pa.table({"n_rows": pa.array([n_rows], pa.int64())})
    _commit_epoch_partition(totals, f"{state_path}/totals", epoch_id)
    _commit_epoch_partition(summary, f"{state_path}/summary", epoch_id)


def _commit_epoch_partition(table, root: str, epoch_id: int) -> None:
    """Make ``table`` the whole ``root/__epoch=N`` partition: write one
    parquet file into a temp dir and swap it in (commitproto.swap_dir).
    The side dirs' dot prefixes keep them out of every reader's listing
    of ``root``; a leftover from a crash is cleared or restored by the
    next commit of the epoch. An empty ``root/_SUCCESS`` then marks the
    table committed, as a Spark write would (``io.warehouse_fsck``
    flags a partitioned root without one)."""
    import shutil

    import pyarrow.parquet as pq

    part = os.path.join(root, f"__epoch={int(epoch_id)}")
    tmp = commitproto.tmp_dir(part, "commit")
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.snappy.parquet"))
    commitproto.swap_dir(tmp, part)
    open(os.path.join(root, "_SUCCESS"), "a").close()


def read_heavy_hitters(
    spark, state_path: str, key_cols: list[str], counters: int = 200
) -> DataFrame:
    """Merge all stored epoch summaries into the current heavy-hitter
    estimate: (keys..., weight, max_undercount). ``weight`` never
    overestimates; true_count <= weight + max_undercount, with
    max_undercount = (N - sum(weights)) / (counters + 1) from the
    mergeable-summaries guarantee."""
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.operators import incremental

    commitproto.recover(f"{state_path}/summary")
    commitproto.recover(f"{state_path}/totals")
    summary = spark.read.parquet(f"{state_path}/summary").drop("__epoch")
    totals = spark.read.parquet(f"{state_path}/totals")
    merged = incremental.merge_mg_states([summary], counters)
    bound = totals.agg(F.sum("n_rows").alias("__n")).crossJoin(
        F.broadcast(merged.agg(F.sum("weight").alias("__w")))
    )
    return merged.crossJoin(F.broadcast(bound)).select(
        *key_cols,
        "weight",
        ((F.col("__n") - F.col("__w")) / (counters + 1)).alias("max_undercount"),
    )


def streaming_heavy_hitters(
    stream: DataFrame,
    state_path: str,
    key_cols: list[str],
    counters: int = 200,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Stream -> continuously-maintained bounded heavy-hitter summary
    (the streaming twin of operators.incremental.frequent_items; no
    exact recount is possible over an unreplayable stream, so the MG
    estimate + error bound is the honest answer)."""
    return sinks.foreach_batch_sink(
        stream,
        lambda df, eid: heavy_hitters_epoch(df, eid, state_path, key_cols, counters),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def compact_heavy_hitters(spark, state_path: str, key_cols: list[str], counters: int = 200) -> None:
    """Maintenance: fold all stored epoch summaries into a single
    epoch-0 summary and the row totals into one total (``_compact``;
    MG states are associative, so answers are unchanged — test-pinned).
    Keeps read cost O(counters) instead of O(epochs x counters) on
    long-lived stores."""
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.operators import incremental

    _compact(
        spark,
        f"{state_path}/summary",
        "compact_heavy_hitters",
        lambda df: incremental.merge_mg_states([df], counters),
    )
    _compact(
        spark,
        f"{state_path}/totals",
        "compact_heavy_hitters",
        lambda df: df.agg(F.sum("n_rows").alias("n_rows")),
    )


def span_flag_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    spans_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 5,
    min_span_tokens: int = 8,
) -> None:
    """One epoch of STREAMING ExactSubstr span flagging — the ingest
    twin of operators.dedup.duplicate_spans, with the same semantics
    ingest_dedup_epoch has for whole docs: each INCOMING document is
    checked against everything seen so far (all previous epochs plus
    this batch), and its maximal duplicated token spans land in
    ``spans_path`` as this epoch's removal list. The gram-count INDEX
    (gram -> occurrence count per epoch) is the only state — epoch
    cost is O(batch grams + index), never O(historical text). Spans of
    *historical* docs are not retro-flagged when a new duplicate
    arrives (ingest-filter semantics; run the batch operator for a
    full-corpus sweep).

    Exactly-once under foreachBatch replays, same recipe as
    join_view_epoch: the index read filters ``__epoch < N``, both
    writes go through ``io.overwrite_partitions``, and the epoch's
    outputs are deterministic given the pre-N index — so a retried
    epoch rewrites identical data. Span list first, index second: a
    crash between the two replays the epoch against the unchanged
    pre-N index.

    At 100 TB: hash grams to 8 bytes (functions.text.rolling_
    fingerprint's base/modulus) and store the index bucketed on the
    gram key (sources/io.py:write_bucketed_table) so the per-batch
    count join is shuffle-free on the index side; compact epochs with
    compact_gram_index to bound read fan-in.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.functions.text import _ngram_array, word_tokens

    if not _open_epoch(batch_df, "span_flag_epoch", index_path, spans_path):
        return
    spark = batch_df.sparkSession
    toks = word_tokens(F.lower(F.col(text_col)))
    with ckpt.Scope(spark) as cuts:
        # Cut once: the gram table feeds both the count aggregate and
        # the span scan, and must not re-tokenize the batch twice.
        grams = cuts.cut(
            batch_df.select(
                F.col(id_col).alias("__id"),
                F.posexplode(_ngram_array(toks, gram_len)).alias("pos", "gram"),
            )
        )
        bn = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
        hist = _epoch_table(spark, index_path, epoch_id, bn)
        hist_n = hist.groupBy("gram").agg(F.sum("n").alias("hn"))
        dup = (
            bn.join(hist_n, "gram", "left")
            .filter(F.col("n") + F.coalesce(F.col("hn"), F.lit(0)) >= 2)
            .select("gram")
        )
        dp = grams.join(dup, "gram", "left_semi")
        w = Window.partitionBy("__id").orderBy("pos")
        islands = dp.withColumn("__isl", F.col("pos") - F.row_number().over(w))
        spans = (
            islands.groupBy("__id", "__isl")
            .agg(F.min("pos").alias("span_start"), F.max("pos").alias("__lg"))
            .select(
                F.col("__id").alias(id_col),
                "span_start",
                (F.col("__lg") + gram_len - 1).alias("span_end"),
                (F.col("__lg") - F.col("span_start") + gram_len).alias("span_tokens"),
            )
            .filter(F.col("span_tokens") >= min_span_tokens)
        )
        for out, path in ((spans, spans_path), (bn, index_path)):
            io.overwrite_partitions(
                out.withColumn("__epoch", F.lit(int(epoch_id))), path, "__epoch"
            )


def streaming_span_flags(
    doc_stream: DataFrame,
    index_path: str,
    spans_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 5,
    min_span_tokens: int = 8,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Document stream -> continuously-maintained duplicated-span
    removal list + gram-count index (the streaming twin of
    operators.dedup.duplicate_spans)."""
    return sinks.foreach_batch_sink(
        doc_stream,
        lambda df, eid: span_flag_epoch(
            df, eid, index_path, spans_path, text_col, id_col, gram_len, min_span_tokens
        ),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def compact_gram_index(spark, index_path: str) -> None:
    """Maintenance: fold all stored gram-count epoch partitions into a
    single epoch-0 partition (``_compact``; counts are associative
    sums, so flagging decisions are unchanged). A replay of a
    compacted-away epoch would double-count its grams."""
    from pyspark.sql import functions as F

    _compact(
        spark,
        index_path,
        "compact_gram_index",
        lambda df: df.groupBy("gram").agg(F.sum("n").alias("n")),
    )


def compact_ingest_index(spark, index_path: str, key_cols: list[str]) -> None:
    """Maintenance for the streaming ingest-dedup indexes: fold all
    epoch partitions into a single epoch-0 partition, keeping the
    min ``keeper_id`` per key. Set-membership semantics (the only
    thing the ingest anti-join/probe reads) are unchanged, so dedup
    decisions after compaction are identical; what changes is the
    file count — a long-running ingest writes one small partition per
    micro-batch, and at a 100 TB deployment's cadence that is the
    classic small-files decay this job reverses on a schedule.

    ``key_cols``: ["fingerprint"] for the exact index
    (:func:`ingest_dedup_epoch`), ["band_idx", "band_key"] for the
    near-dup band index (:func:`ingest_neardup_epoch`).

    The fold and its retention caveat are ``_compact``'s: a replayed
    epoch whose partition was compacted away would re-write its
    ``__epoch=N`` directory, and its rows would then exist both there
    and in the compacted base (harmless for membership, but the
    keeper_id uniqueness invariant degrades to first-wins-on-read)."""
    from pyspark.sql import functions as F

    _compact(
        spark,
        index_path,
        "compact_ingest_index",
        lambda df: df.groupBy(*key_cols).agg(F.min("keeper_id").alias("keeper_id")),
    )


# ------------------------------------------------------------------
# streaming distribution-drift monitor (PSI per micro-batch)


def save_drift_baseline(df: DataFrame, key, key_name: str, baseline_path: str) -> None:
    """Persist the per-bucket baseline counts a drift monitor compares
    against — built ONCE from trusted history (e.g. last month's
    events), then read-only. ``key`` is any discretization Column
    (width_bucket for numerics, the raw column for categoricals),
    exactly as in operators.profile.distribution_drift."""
    from pyspark.sql import functions as F

    _open_roots("save_drift_baseline", baseline_path)
    df.groupBy(key.alias(key_name)).agg(F.count(F.lit(1)).alias("n_base")).write.mode(
        "overwrite"
    ).parquet(baseline_path)


def drift_epoch(
    batch_df: DataFrame, epoch_id: int, state_path: str, key, key_name: str
) -> None:
    """One epoch of streaming drift monitoring: reduce the micro-batch
    to its per-bucket counts (bucket cardinality, not data size) and
    store them as THIS epoch's partition (``io.overwrite_partitions``,
    so replays are idempotent); PSI itself is computed at READ time, so
    the stored state is raw mergeable counts, never derived scores."""
    from pyspark.sql import functions as F

    if not _open_epoch(batch_df, "drift_epoch", state_path):
        return
    io.overwrite_partitions(
        batch_df.groupBy(key.alias(key_name))
        .agg(F.count(F.lit(1)).alias("n_cur"))
        .withColumn("__epoch", F.lit(int(epoch_id))),
        state_path,
        "__epoch",
    )


def read_drift(
    spark,
    state_path: str,
    baseline_path: str,
    key_name: str = "bucket",
    threshold: float = 0.2,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-epoch PSI report against the stored baseline: (__epoch,
    n_rows, psi, alert). Same smoothing/algebra as
    operators.profile.distribution_drift (test-pinned equal), computed
    over the tiny counts tables only: baseline buckets cross-join the
    epoch list to materialize zero-count rows, everything after the
    stored aggregates is O(epochs × buckets)."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(baseline_path)
    ec = spark.read.parquet(state_path)
    epochs = ec.select("__epoch").distinct()
    grid = epochs.crossJoin(F.broadcast(base.select(key_name)))
    counts = (
        grid.join(ec, ["__epoch", key_name], "full_outer")
        .select(
            "__epoch", key_name, F.coalesce("n_cur", F.lit(0)).alias("n_cur")
        )
        .join(F.broadcast(base), key_name, "left")
        .select(
            "__epoch",
            key_name,
            "n_cur",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
        )
    )
    tot_base = base.agg(F.sum("n_base").alias("t_base"))
    tot_cur = ec.groupBy("__epoch").agg(F.sum("n_cur").alias("t_cur"))
    scored = counts.join(F.broadcast(tot_cur), "__epoch").crossJoin(
        F.broadcast(tot_base)
    )
    p_base = F.col("n_base") / F.col("t_base") + F.lit(eps)
    p_cur = F.col("n_cur") / F.col("t_cur") + F.lit(eps)
    per_epoch = scored.groupBy("__epoch").agg(
        F.max("t_cur").alias("n_rows"),
        F.sum((p_cur - p_base) * F.log(p_cur / p_base)).alias("psi"),
    )
    return per_epoch.select(
        "__epoch", "n_rows", "psi", (F.col("psi") > threshold).alias("alert")
    )


def streaming_drift_monitor(
    stream: DataFrame,
    state_path: str,
    key,
    key_name: str = "bucket",
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Stream -> continuously-maintained per-micro-batch drift state;
    pair with a static save_drift_baseline store and read_drift for
    the PSI/alert report. The model-serving data-quality gate
    (PSI > 0.2 = population shift) as a streaming pipeline component —
    the reference's monitoring layer (monitoring/metrics_collector.py)
    graphs raw gauges and leaves shift detection to a human."""
    return sinks.foreach_batch_sink(
        stream,
        lambda df, eid: drift_epoch(df, eid, state_path, key, key_name),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


# ------------------------------------------------------------------
# ingestion with a dead-letter queue


def dlq_etl_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    good_path: str,
    dlq_path: str,
    value_col: str = "value",
) -> None:
    """One epoch of quarantining ingestion: ONE parse pass splits the
    micro-batch into typed envelope rows and dead letters
    (etl.parse_envelope_with_dlq); both land under their own
    ``__epoch=N`` partition through ``io.overwrite_partitions``, so
    at-least-once replays rewrite exactly their own epoch instead of
    appending duplicates. The batch is persisted
    once for the two writes — the reference's recompute-per-action
    anti-pattern (SURVEY.md §4.2 item 2) would parse the batch twice."""
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.streaming import etl

    if not _open_epoch(batch_df, "dlq_etl_epoch", good_path, dlq_path):
        return
    batch_df.persist()
    try:
        good, dead = etl.parse_envelope_with_dlq(batch_df, value_col)
        for df, path in ((good, good_path), (dead, dlq_path)):
            io.overwrite_partitions(
                df.withColumn("__epoch", F.lit(int(epoch_id))), path, "__epoch"
            )
    finally:
        batch_df.unpersist()


def streaming_etl_with_dlq(
    stream: DataFrame,
    good_path: str,
    dlq_path: str,
    value_col: str = "value",
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Envelope ingestion that never drops OR silently forwards poison
    pills: typed rows to ``good_path``, unparseable payloads (with
    reason) to ``dlq_path`` for post-fix replay. One stream, one parse,
    exactly-once effective output under replays via epoch partitions
    (``io.overwrite_partitions``)."""
    return sinks.foreach_batch_sink(
        stream,
        lambda df, eid: dlq_etl_epoch(df, eid, good_path, dlq_path, value_col),
        trigger_seconds,
        output_mode="append",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def snapshot_sink_epoch(
    batch_df: DataFrame, epoch_id: int, table_path: str, app_id: str
) -> None:
    """foreachBatch body writing micro-batches to a manifest-committed
    snapshot table (sources/snapshots.py) with EXACTLY-ONCE effective
    output: the commit carries ``txn=(app_id, epoch_id)``, so a
    replayed epoch (foreachBatch is at-least-once) is recognized from
    the manifest history and skipped before any data is written —
    the transactional alternative to the epoch-partitioned
    dynamic-overwrite protocol the other sinks here use, with time
    travel and reader isolation for free.

    Empty micro-batches commit nothing: an idle 60 s trigger would
    otherwise mint ~1440 versions/day whose manifests each re-serialize
    the full table file list — manifest history growing with wall-clock
    instead of data (the txn record only matters for epochs that
    wrote)."""
    from pubg_data_pipeline_spark.sources import snapshots

    if not _open_epoch(batch_df, "snapshot_sink_epoch", table_path):
        return
    snapshots.snapshot_commit(
        batch_df, table_path, mode="append", txn=(app_id, int(epoch_id))
    )


def streaming_to_snapshot(
    stream: DataFrame,
    table_path: str,
    app_id: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Stream -> snapshot table: every micro-batch becomes one atomic
    table version; concurrent readers keep a consistent snapshot while
    the stream appends, and replays dedup via the per-epoch txn record.
    Vacuum retention must exceed the source's replay horizon (see
    snapshots.snapshot_vacuum)."""
    _open_roots("streaming_to_snapshot", table_path)
    return sinks.foreach_batch_sink(
        stream,
        lambda df, eid: snapshot_sink_epoch(df, eid, table_path, app_id),
        trigger_seconds,
        output_mode="append",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def cms_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> None:
    """One epoch of streaming count-min-sketch maintenance: the
    micro-batch is reduced to its own depth x width counter grid
    (operators/sketches.py:count_min_build — at most depth*width rows
    however large the batch) stored as the ``__epoch=N`` partition of
    the state table, written by ``io.overwrite_partitions`` (a re-run
    epoch REPLACES its own grid); grids merge by counter addition, so
    readers union epochs on demand and ``compact_cms`` can fold
    history without changing any estimate.

    MG (heavy_hitters_epoch) answers "which keys are frequent";
    the CMS answers point lookups — "how often did THIS key occur" —
    for keys known only at query time, in the same bounded state."""
    if not _open_epoch(batch_df, "cms_epoch", f"{state_path}/grid"):
        return

    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.operators import sketches

    grid = sketches.count_min_build(batch_df, key_col, depth, width).withColumn(
        "__epoch", F.lit(int(epoch_id))
    )
    io.overwrite_partitions(grid, f"{state_path}/grid", "__epoch")


def read_cms_estimates(
    spark,
    state_path: str,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for ``keys`` against the full stored
    stream history: epochs merge by counter addition (one bounded
    groupBy over O(epochs * depth * width) rows), then the probe join
    broadcasts the merged grid. Estimates are one-sided (>= truth),
    exactly as in the batch operator."""
    from pubg_data_pipeline_spark.operators import sketches

    commitproto.recover(f"{state_path}/grid")
    merged = sketches.count_min_merge(
        spark.read.parquet(f"{state_path}/grid").drop("__epoch")
    )
    return sketches.count_min_estimate(merged, keys, key_col, depth, width)


def streaming_cms(
    stream: DataFrame,
    state_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Stream -> continuously-maintained count-min sketch: bounded
    frequency state queryable at any time for ANY key (the streaming
    twin of the batch `event_user_cms_frequency` plan)."""
    return sinks.foreach_batch_sink(
        stream,
        lambda df, eid: cms_epoch(df, eid, state_path, key_col, depth, width),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def compact_cms(spark, state_path: str) -> None:
    """Maintenance: fold all epoch grids into a single epoch-0 grid
    (``_compact``) — counter addition is associative, so every
    subsequent estimate is unchanged while the stored state drops from
    O(epochs * k * w) to O(k * w)."""
    from pubg_data_pipeline_spark.operators import sketches

    _compact(spark, f"{state_path}/grid", "compact_cms", sketches.count_min_merge)


def moments_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    state_path: str,
    vec_col: str,
    dim: int,
) -> None:
    """One epoch of streaming second-moments maintenance: the
    micro-batch's embedding vectors reduce to a single ``(n, s, g)``
    accumulator row (operators/linalg.py:second_moments — dim + dim²
    doubles regardless of batch size) stored as the ``__epoch=N``
    partition (``io.overwrite_partitions``); rows are
    element-wise sums, so the corpus covariance / PCA spectrum is
    always readable from the union of epochs without rescanning any
    vector — the streaming twin of `embedding_covariance` /
    `embedding_pca_diagnostics`, and the mechanism that keeps an ANN
    index's whitening/quantizer statistics fresh as the corpus grows."""
    if not _open_epoch(batch_df, "moments_epoch", f"{state_path}/moments"):
        return

    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.operators import linalg

    state = linalg.second_moments(batch_df, vec_col, dim).withColumn(
        "__epoch", F.lit(int(epoch_id))
    )
    io.overwrite_partitions(state, f"{state_path}/moments", "__epoch")


def read_moments(spark, state_path: str, dim: int) -> DataFrame:
    """Merge all stored epoch accumulators into the current corpus
    moments (1 row) — feed to linalg.covariance_pairs_from /
    pca-style consumers."""
    from pubg_data_pipeline_spark.operators import linalg

    states = spark.read.parquet(f"{state_path}/moments").drop("__epoch")
    return linalg.reduce_moment_states(states, dim)


def streaming_moments(
    stream: DataFrame,
    state_path: str,
    vec_col: str,
    dim: int,
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Stream -> continuously-maintained corpus second moments (the
    covariance/PCA statistics state)."""
    return sinks.foreach_batch_sink(
        stream,
        lambda df, eid: moments_epoch(df, eid, state_path, vec_col, dim),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


#: CDF change types that add rows / remove rows (Delta CDF vocabulary).
_CDF_ADDS = ("insert", "update_postimage")
_CDF_REMOVES = ("delete", "update_preimage")


def cdf_apply_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    target_table: str,
    app_id: str,
    transform=None,
) -> None:
    """One epoch of change-feed application to a derived snapshot
    table: the micro-batch's ``_change_type`` splits it into adds
    (insert / update_postimage) and removes (delete / update_preimage),
    ``transform`` (per-row: filter/project/enrich) maps both sides into
    target-space, and the target absorbs them as ONE atomic snapshot
    commit with per-epoch txn dedup.

    - A pure-add epoch (the overwhelmingly common case) stays a cheap
      APPEND — O(new data), no table read.
    - Adds and removes are NETTED against each other first (multiset
      ``exceptAll`` both ways): a row inserted AND deleted inside the
      same micro-batch — a catch-up batch spanning an append and a
      later DELETE — cancels exactly, because rows are
      indistinguishable multiset members and a consistent feed only
      deletes rows that exist at that version (so an uncancelled
      remove always targets the target table, and an uncancelled add
      always survives to the head). Without the netting, the
      empty-target path would drop the removes and a one-drain
      bootstrap over append+delete history would resurrect deleted
      rows.
    - A retraction-bearing epoch does a serializable read-modify-write:
      survivors = target ∖ netted-removes, plus the netted adds,
      committed as one overwrite pinned to the head it read
      (``snapshots.retry_on_conflict``). The commit records its own
      change set (actually-removed rows as ``delete``, adds as
      ``insert``), so maintenance chains COMPOSE: a CDF consumer of
      the TARGET rides through this rewrite too.

    Cost model at 100 TB: deletes rewrite the target (no deletion
    vectors here) — which is why delete propagation arrives in rare,
    batched epochs while the steady state is append-only."""
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.sources import snapshots

    if not _open_epoch(batch_df, "cdf_apply_epoch"):
        return
    data_cols = [
        c for c in batch_df.columns if c not in ("_change_type", "_commit_version")
    ]
    adds = batch_df.filter(F.col("_change_type").isin(*_CDF_ADDS)).select(*data_cols)
    removes = batch_df.filter(F.col("_change_type").isin(*_CDF_REMOVES)).select(
        *data_cols
    )
    t_add = transform(adds) if transform is not None else adds
    t_rem = transform(removes) if transform is not None else removes
    if t_rem.isEmpty():
        snapshot_sink_epoch(t_add, epoch_id, target_table, app_id)
        return
    spark = batch_df.sparkSession
    with ckpt.Scope(spark) as cuts:
        # same-batch cancellation (see docstring): net the two sides
        # before touching the target; the cuts keep them stable across
        # retries
        net_add = cuts.cut(t_add.exceptAll(t_rem))
        net_rem = cuts.cut(t_rem.exceptAll(t_add))
        if net_rem.isEmpty():
            snapshot_sink_epoch(net_add, epoch_id, target_table, app_id)
            return

        def attempt(head):
            if head is None:
                # empty target: uncancelled removes can only arise from
                # an inconsistent feed; adds append
                snapshot_sink_epoch(net_add, epoch_id, target_table, app_id)
                return
            current = snapshots.snapshot_read(spark, target_table, version=head)
            survivors = current.exceptAll(net_rem.select(*current.columns))
            removed = current.exceptAll(survivors)  # multiset ∩(current, net_rem)
            new_table = survivors.unionByName(net_add.select(*current.columns))
            change = removed.withColumn("_change_type", F.lit("delete")).unionByName(
                net_add.select(*current.columns).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
            snapshots.snapshot_commit(
                new_table,
                target_table,
                mode="overwrite",
                expected_parent=head,
                txn=(app_id, int(epoch_id)),
                change_data=change,
                op_hint="delete",
            )

        snapshots.retry_on_conflict(target_table, "cdf_apply_epoch", attempt)


def _change_feed(
    spark, source_table: str, target_table: str, starting_version: str, what: str
) -> DataFrame:
    """``source_table``'s change feed as a stream (sources/snapshot_cdf
    — offsets are manifest versions), for the query ``what`` that
    maintains the snapshot table ``target_table``, opened first."""
    from pubg_data_pipeline_spark.sources import snapshot_cdf

    _open_roots(what, target_table)
    snapshot_cdf.register(spark)
    return (
        spark.readStream.format("snapshot_cdf")
        .option("path", source_table)
        .option("starting_version", starting_version)
        .load()
    )


def maintain_derived_table(
    spark,
    source_table: str,
    target_table: str,
    app_id: str,
    transform=None,
    starting_version: str = "0",
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Incremental derived-table maintenance over the lakehouse loop:
    tail ``source_table``'s change feed (sources/snapshot_cdf — offsets
    are manifest versions), apply ``transform`` to each micro-batch of
    changed rows, and commit the result to ``target_table`` as one
    atomic snapshot version with per-epoch txn dedup — exactly-once end
    to end across restarts and foreachBatch replays, O(new data) per
    trigger.

    This is the materialized-view form a lake format calls
    "streaming table -> streaming table": both ends are
    manifest-committed, so readers of the TARGET also get snapshot
    isolation and time travel. ``transform`` must be per-ROW
    (filter/project/enrich): each batch is transformed independently,
    so cross-row aggregates would double-count across batches — use
    :func:`maintain_rollup_table` for those. Round 8: the feed now
    rides THROUGH source rewrites — a ``snapshot_compact`` emits
    nothing (rows provably identical), a ``snapshot_delete_where`` /
    MERGE propagates row-level deletes and updates into the target
    (see :func:`cdf_apply_epoch`); only rewrites that predate change
    recording, or a vacuumed offset, still fail the query loudly —
    restart from ``starting_version="latest"`` after rebuilding."""
    return sinks.foreach_batch_sink(
        _change_feed(
            spark, source_table, target_table, starting_version, "maintain_derived_table"
        ),
        lambda df, eid: cdf_apply_epoch(df, eid, target_table, app_id, transform),
        trigger_seconds,
        output_mode="append",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def _fold_cdf_state(
    batch_df: DataFrame,
    epoch_id: int,
    target_table: str,
    app_id: str,
    partial: Callable[[DataFrame], DataFrame],
    negate: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    what: str,
) -> None:
    """The body :func:`rollup_cdf_epoch` and :func:`agg_view_cdf_epoch`
    share: reduce the change-feed batch to ``merge(partial(adds),
    negate(partial(removes)))``, then commit ``merge(head state,
    delta)`` as one version of ``target_table`` with txn dedup, rows
    whose count returns to zero dropped. The delta is cut once, so
    every retry of ``snapshots.retry_on_conflict`` merges the same
    rows; an empty target takes the delta as an append."""
    from pyspark.sql import functions as F

    from pubg_data_pipeline_spark.sources import snapshots

    if not _open_epoch(batch_df, what):
        return
    spark = batch_df.sparkSession
    txn = (app_id, int(epoch_id))
    adds = batch_df.filter(F.col("_change_type").isin(*_CDF_ADDS))
    removes = batch_df.filter(F.col("_change_type").isin(*_CDF_REMOVES))
    with ckpt.Scope(spark) as cuts:
        delta = cuts.cut(merge(partial(adds), negate(partial(removes))))

        def attempt(head):
            if head is None:
                snapshots.snapshot_commit(
                    delta.filter(F.col("n") != 0), target_table, mode="append", txn=txn
                )
                return
            current = snapshots.snapshot_read(spark, target_table, version=head)
            snapshots.snapshot_commit(
                merge(current, delta).filter(F.col("n") != 0),
                target_table,
                mode="overwrite",
                expected_parent=head,
                txn=txn,
            )

        snapshots.retry_on_conflict(target_table, what, attempt)


def rollup_cdf_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    target_table: str,
    app_id: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """One epoch of RETRACTION-AWARE incremental aggregate maintenance:
    reduce the change-feed micro-batch to mergeable hourly states
    (operators/incremental) — added rows as positive partials, removed
    rows as NEGATED partials — merge with the stored state table, and
    commit the merged state as one snapshot version with txn dedup.

    The negation trick is why count + exact scaled-integer sum are the
    stored states (both form an abelian group): a delete's contribution
    subtracts exactly, so the maintained rollup equals the batch
    recompute after ANY interleaving of appends, deletes, merges, and
    compactions on the source — O(changed rows + state buckets) per
    trigger, never O(history). Hours whose count returns to zero drop
    out of the state entirely. (Averages stay derive-at-read:
    ``incremental.finalize_hourly``.)"""
    from pubg_data_pipeline_spark.operators import incremental

    _fold_cdf_state(
        batch_df,
        epoch_id,
        target_table,
        app_id,
        lambda df: incremental.partial_hourly_state(df, ts_col, value_col),
        incremental.negate_hourly_state,
        incremental.merge_hourly_states,
        "rollup_cdf_epoch",
    )


def maintain_rollup_table(
    spark,
    source_table: str,
    target_table: str,
    app_id: str,
    ts_col: str = "ts",
    value_col: str = "value",
    starting_version: str = "0",
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Incrementally-maintained AGGREGATE table over the lakehouse
    loop — the "continuous aggregate" a warehouse user asks for first:
    tail ``source_table``'s change feed, fold each micro-batch into the
    stored hourly state via :func:`rollup_cdf_epoch` (retraction-aware:
    source deletes/updates subtract), exactly-once across restarts via
    per-epoch txn dedup on the target's manifest log. Read the result
    with ``incremental.finalize_hourly(snapshots.snapshot_read(spark,
    target_table))``."""
    return sinks.foreach_batch_sink(
        _change_feed(
            spark, source_table, target_table, starting_version, "maintain_rollup_table"
        ),
        lambda df, eid: rollup_cdf_epoch(
            df, eid, target_table, app_id, ts_col, value_col
        ),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )


def agg_view_cdf_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    target_table: str,
    app_id: str,
    key_cols: list[str],
    value_col: str,
) -> None:
    """Keyed twin of :func:`rollup_cdf_epoch`: one epoch of the
    counting algorithm (operators/incremental.maintain_agg_view's batch
    semantics) over the change feed — adds as positive keyed partials,
    removes negated, merged into the stored (keys, n, total) view with
    txn dedup; keys whose count returns to zero drop out. This is the
    streaming twin of the oracle-paired `event_agg_view_retractions`
    query: a delete-bearing replay leaves the materialized view equal
    to the batch retraction arithmetic."""
    from pubg_data_pipeline_spark.operators import incremental

    _fold_cdf_state(
        batch_df,
        epoch_id,
        target_table,
        app_id,
        lambda df: incremental.partial_keyed_state(df, key_cols, value_col),
        lambda d: incremental.negate_keyed_state(d, key_cols),
        lambda a, b: incremental.merge_keyed_states(key_cols, a, b),
        "agg_view_cdf_epoch",
    )


def maintain_agg_view_table(
    spark,
    source_table: str,
    target_table: str,
    app_id: str,
    key_cols: list[str],
    value_col: str,
    starting_version: str = "0",
    trigger_seconds: int = 60,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Continuously-maintained keyed aggregate view (count + exact
    scaled-integer sum per key) over a snapshot table's change feed —
    retraction-aware, exactly-once, O(changed rows + distinct keys)
    per trigger. The streaming form of the counting algorithm the
    `event_agg_view_retractions` oracle pins in batch."""
    return sinks.foreach_batch_sink(
        _change_feed(
            spark, source_table, target_table, starting_version, "maintain_agg_view_table"
        ),
        lambda df, eid: agg_view_cdf_epoch(
            df, eid, target_table, app_id, key_cols, value_col
        ),
        trigger_seconds,
        output_mode="update",
        available_now=available_now,
        checkpoint=checkpoint,
    )
