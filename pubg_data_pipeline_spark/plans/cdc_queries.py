"""Change-data-capture query batch: snapshot diff, MERGE/upsert,
SCD Type-2 history, point-in-time slicing.

The reference's ingest is snapshot-refresh — every producer poll
re-emits a player's full current stats (reference:
producer/producer.py:73-105) and the sink appends each snapshot
(spark_apps/pubg_streaming.py:252-262); it never derives a change
feed or versioned history from them. These queries grade that missing
layer: operators/cdc.py (diff + SCD2) and operators/relational.upsert
(SCD1 MERGE), each pinned against a DuckDB oracle.

Both snapshots in the diff/merge queries are derived DETERMINISTICALLY
from the same source table (modulus-selected deletes/updates/inserts),
so Spark and the oracle reconstruct identical old/new worlds without
any side files.

Scale notes: the diff is one full-outer hash join on the key (no
driver state; zero-shuffle on bucketed storage), the merge is
anti-join + union (updates-side shuffle only when base is bucketed),
and the SCD2 build is one exchange + two window passes sharing a sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators import cdc, relational
from pubg_data_pipeline_spark.plans.base import QuerySpec, disk_cache_path, exact_scaled, sql_scaled
from pubg_data_pipeline_spark.sources.tables import load_table


# ---------------------------------------------------------------- diff

def _old_new_customers(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Two deterministic snapshot worlds derived from `customer`:
    keys % 10 == 3 are missing from OLD (-> inserts), keys % 7 == 2
    are missing from NEW (-> deletes), keys % 5 == 0 get a balance
    bump and keys % 11 == 0 a segment change in NEW (-> updates)."""
    cust = load_table(spark, sf_dir, "customer")
    old = cust.filter(F.col("c_custkey") % 10 != 3)
    new = (
        cust.filter(F.col("c_custkey") % 7 != 2)
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + F.lit(250.0)).otherwise(
                F.col("c_acctbal")
            ),
        )
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 11 == 0, F.lit("PROMO")).otherwise(
                F.col("c_mktsegment")
            ),
        )
    )
    return old, new


def customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify each customer key across two snapshot worlds into
    insert/delete/update (unchanged filtered out): the change feed the
    reference's snapshot-refresh ingest implies but never materializes
    (producer/producer.py:73-105 re-emits full state each poll)."""
    old, new = _old_new_customers(spark, sf_dir)
    d = cdc.snapshot_diff(
        old, new, ["c_custkey"], ["c_acctbal", "c_mktsegment"], include_unchanged=False
    )
    return d.select(
        "c_custkey",
        "change_type",
        F.round("old_c_acctbal", 2).alias("old_acctbal"),
        F.round("new_c_acctbal", 2).alias("new_acctbal"),
        F.col("old_c_mktsegment").alias("old_segment"),
        F.col("new_c_mktsegment").alias("new_segment"),
    )


_DIFF_SQL = """
WITH old AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 10 != 3
), new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 250.0 ELSE c_acctbal END AS c_acctbal,
         CASE WHEN c_custkey % 11 = 0 THEN 'PROMO' ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 7 != 2
), d AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         CASE WHEN o.c_custkey IS NULL THEN 'insert'
              WHEN n.c_custkey IS NULL THEN 'delete'
              WHEN (o.c_acctbal IS DISTINCT FROM n.c_acctbal)
                OR (o.c_mktsegment IS DISTINCT FROM n.c_mktsegment) THEN 'update'
              ELSE 'unchanged' END AS change_type,
         ROUND(o.c_acctbal, 2) AS old_acctbal, ROUND(n.c_acctbal, 2) AS new_acctbal,
         o.c_mktsegment AS old_segment, n.c_mktsegment AS new_segment
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT * FROM d WHERE change_type != 'unchanged'
"""


# --------------------------------------------------------------- merge

def customer_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 MERGE: a deterministic update batch (VIP re-segmentation +
    synthetic insert keys) applied to `customer` via
    relational.upsert (anti-join + union — the storage-level MERGE
    plan shape), then aggregated per resulting segment with exact
    scaled-integer sums."""
    cust = load_table(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 100 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(500.0)).alias("c_acctbal"),
        F.lit("VIP").alias("c_mktsegment"),
    )
    inserts = cust.filter(F.col("c_custkey") % 250 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    merged = relational.upsert(cust, updates.unionByName(inserts), ["c_custkey"])
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(exact_scaled(F.col("c_acctbal"))).alias("bal_scaled"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            F.round(F.col("bal_scaled") / 100.0, 2).alias("total_balance"),
        )
    )


_MERGE_SQL = f"""
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 500.0 AS c_acctbal,
         'VIP' AS c_mktsegment
  FROM customer WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, 0.0, 'NEW'
  FROM customer WHERE c_custkey % 250 = 0
), merged AS (
  SELECT * FROM updates
  UNION ALL
  SELECT b.* FROM customer b
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = b.c_custkey)
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ROUND(SUM({sql_scaled('c_acctbal')}) / 100.0, 2) AS total_balance
FROM merged GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------- scd2

def purchase_band_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's purchase-value band: the events
    changelog compacted into validity intervals, consecutive same-band
    purchases collapsed. One exchange + two shared-sort window passes
    (operators/cdc.scd2_from_changelog)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ch = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 50).cast("long").alias("value_band"),
    )
    hist = cdc.scd2_from_changelog(
        ch, ["user_id"], "ts", ["value_band"], order_cols=["event_id"]
    )
    return hist.select(
        "user_id",
        "value_band",
        "version",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


_SCD2_SQL = """
WITH ch AS (
  SELECT user_id, ts, event_id, CAST(FLOOR(value / 50) AS BIGINT) AS value_band
  FROM events WHERE event_type = 'purchase'
), keep AS (
  SELECT user_id, ts, event_id, value_band FROM (
    SELECT *, LAG(value_band) OVER w AS prev_band,
           ROW_NUMBER() OVER w AS rn
    FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  ) WHERE rn = 1 OR value_band IS DISTINCT FROM prev_band
)
SELECT user_id, value_band,
       CAST(ROW_NUMBER() OVER w AS INT) AS version,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       LEAD(ts) OVER w IS NULL AS is_current
FROM keep WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def purchase_band_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time slice of the SCD2 history: every user's purchase
    band as of 2024-01-15 — a pure interval filter on the history
    (cdc.scd2_point_in_time), prunable by valid_from partitioning."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ch = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 50).cast("long").alias("value_band"),
    )
    hist = cdc.scd2_from_changelog(
        ch, ["user_id"], "ts", ["value_band"], order_cols=["event_id"]
    )
    sliced = cdc.scd2_point_in_time(hist, "2024-01-15 00:00:00")
    return sliced.select("user_id", "value_band", "version")


_AS_OF_SQL = """
WITH ch AS (
  SELECT user_id, ts, event_id, CAST(FLOOR(value / 50) AS BIGINT) AS value_band
  FROM events WHERE event_type = 'purchase'
), keep AS (
  SELECT user_id, ts, event_id, value_band FROM (
    SELECT *, LAG(value_band) OVER w AS prev_band,
           ROW_NUMBER() OVER w AS rn
    FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  ) WHERE rn = 1 OR value_band IS DISTINCT FROM prev_band
), hist AS (
  SELECT user_id, value_band,
         CAST(ROW_NUMBER() OVER w AS INT) AS version,
         ts AS valid_from, LEAD(ts) OVER w AS valid_to
  FROM keep WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, value_band, version FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
"""


def error_events_with_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (event-time) dimension join: every error event enriched
    with the purchase-band SCD2 version valid AT THAT ERROR'S OWN
    TIMESTAMP (operators/cdc.temporal_join) — "which band was the user
    in when the error happened", the per-row generalization of the
    literal-timestamp slice purchase_band_as_of. Errors before a
    user's first purchase keep a NULL band (left join)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 50).cast("long").alias("value_band"),
    )
    hist = cdc.scd2_from_changelog(
        purchases, ["user_id"], "ts", ["value_band"], order_cols=["event_id"]
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    joined = cdc.temporal_join(errors, hist, ["user_id"], "ts")
    return joined.select(
        "user_id",
        "event_id",
        F.col("value_band").alias("band_at_error"),
        F.col("version").cast("int").alias("band_version"),
    )


_TEMPORAL_JOIN_SQL = """
WITH ch AS (
  SELECT user_id, ts, event_id, CAST(FLOOR(value / 50) AS BIGINT) AS value_band
  FROM events WHERE event_type = 'purchase'
), keep AS (
  SELECT user_id, ts, event_id, value_band FROM (
    SELECT *, LAG(value_band) OVER w AS prev_band,
           ROW_NUMBER() OVER w AS rn
    FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  ) WHERE rn = 1 OR value_band IS DISTINCT FROM prev_band
), hist AS (
  SELECT user_id, value_band,
         CAST(ROW_NUMBER() OVER w AS INT) AS version,
         ts AS valid_from, LEAD(ts) OVER w AS valid_to
  FROM keep WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e.user_id, e.event_id,
       h.value_band AS band_at_error,
       h.version AS band_version
FROM events e
LEFT JOIN hist h ON h.user_id = e.user_id
  AND h.valid_from <= e.ts AND (h.valid_to IS NULL OR e.ts < h.valid_to)
WHERE e.event_type = 'error'
"""



# ------------------------------------------- round 8: lakehouse CDC


def customer_cdf_net_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the change-data-feed THROUGH a rewrite: a snapshot
    table is built as append(%3==0) -> append(%3==1) -> DELETE WHERE
    c_acctbal < 0 -> append(%3==2), then the full change feed
    (sources/snapshots.snapshot_table_changes — inserts from the
    appends' data files, row-level deletes from the DELETE's recorded
    change files) is replayed into NET state (inserts ``exceptAll``
    deletes) and aggregated. The oracle recomputes the final world
    directly, so a hash match proves the feed's deletes carry exactly
    the rows the rewrite removed — the capability the reference's
    append-only sink lacks entirely (spark_apps/
    pubg_streaming.py:236-244: no retraction story).

    Scale: the feed reads added data files + recorded change files
    only (O(changed rows)); the exceptAll is one hash exchange over
    the change set."""
    import shutil

    from pubg_data_pipeline_spark.sources import snapshots

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = disk_cache_path(".snap_cache", "customer_cdf", sf_dir, "customer")
    if len(snapshots.snapshot_history(path)) != 4:
        shutil.rmtree(path, ignore_errors=True)
        snapshots.snapshot_commit(cust.filter(F.col("c_custkey") % 3 == 0), path)
        snapshots.snapshot_commit(cust.filter(F.col("c_custkey") % 3 == 1), path)
        snapshots.snapshot_delete_where(spark, path, F.col("c_acctbal") < 0.0)
        snapshots.snapshot_commit(cust.filter(F.col("c_custkey") % 3 == 2), path)
    ch = snapshots.snapshot_table_changes(spark, path, 0)
    data_cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    adds = ch.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*data_cols)
    removes = ch.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*data_cols)
    net = adds.exceptAll(removes)
    return net.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(exact_scaled(F.col("c_acctbal"))) / 100.0, 2).alias(
            "total_acctbal"
        ),
    )


_CDF_NET_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM({sql_scaled('c_acctbal')}) AS BIGINT) / 100.0, 2)
         AS total_acctbal
FROM customer
WHERE (c_custkey % 3 IN (0, 1) AND c_acctbal >= 0) OR c_custkey % 3 = 2
GROUP BY c_mktsegment
"""


def hourly_rollup_retraction_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction algebra for incremental aggregate maintenance
    (operators/incremental.negate_hourly_state): the full-events hourly
    state minus the NEGATED partial state of the 'error' rows must
    equal a recompute over the surviving rows — because (count,
    scaled-integer sum) form an abelian group, a change feed's deletes
    can be folded into a stored rollup exactly (rollup_cdf_epoch /
    maintain_rollup_table use this per micro-batch). Hours whose count
    returns to zero drop out of the state."""
    from pubg_data_pipeline_spark.operators import incremental

    ev = load_table(spark, sf_dir, "events")
    base = incremental.partial_hourly_state(ev)
    retract = incremental.negate_hourly_state(
        incremental.partial_hourly_state(ev.filter(F.col("event_type") == "error"))
    )
    merged = incremental.merge_hourly_states(base, retract).filter(F.col("n") != 0)
    # count + exact scaled-integer sum only: the retraction proof lives
    # in the integer state (avg is derive-at-read and its double
    # division lands on 0.5-ULP rounding boundaries DuckDB and the JVM
    # round differently — determinism rules in plans/base.py)
    return incremental.finalize_hourly(merged).select(
        "hour_key", "n_events", "total_value"
    )


_RETRACTION_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_key,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS total_value
FROM events WHERE event_type != 'error' GROUP BY 1
"""


def customer_snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-statistics file pruning (sources/snapshots round 8):
    the customer table committed as four key-range-clustered versions
    with ``stats_cols=["c_custkey"]``, then read back through
    ``snapshot_read(where=[("c_custkey","<=",500)])`` — the manifest's
    per-file min/max selects only the overlapping files BEFORE Spark
    sees the list (tests/test_snapshots.py asserts the input-file
    count; this oracle pins that pruning never changes semantics). At
    100 TB with fine-grained commits this is manifest-level skipping on
    top of parquet footer skipping."""
    import shutil

    from pubg_data_pipeline_spark.sources import snapshots

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = disk_cache_path(".snap_cache", "customer_pruned", sf_dir, "customer")
    if len(snapshots.snapshot_history(path)) != 4:
        shutil.rmtree(path, ignore_errors=True)
        # bounded scalars, build-only (the key span; keys start at 0)
        lo0, m = cust.agg(F.min("c_custkey"), F.max("c_custkey")).first()
        bounds = [lo0 - 1, m // 4, m // 2, (3 * m) // 4, m]
        for lo, hi in zip(bounds, bounds[1:]):
            snapshots.snapshot_commit(
                cust.filter(
                    (F.col("c_custkey") > lo) & (F.col("c_custkey") <= hi)
                ).coalesce(1),
                path,
                stats_cols=["c_custkey"],
            )
    pruned = snapshots.snapshot_read(spark, path, where=[("c_custkey", "<=", 500)])
    return pruned.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(exact_scaled(F.col("c_acctbal"))) / 100.0, 2).alias(
            "total_acctbal"
        ),
    )


_PRUNED_READ_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM({sql_scaled('c_acctbal')}) AS BIGINT) / 100.0, 2)
         AS total_acctbal
FROM customer
WHERE c_custkey <= 500
GROUP BY c_mktsegment
"""


def _dv_table(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic deletion-vector table shared by the two DV
    queries: append(%2==0) -> DV DELETE acctbal<0 -> append(%2==1) ->
    DV DELETE segment='MACHINERY'. Neither delete rewrites a data file
    — the final state lives entirely in the manifests' merged DV."""
    import shutil

    from pubg_data_pipeline_spark.sources import snapshots

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = disk_cache_path(".snap_cache", "customer_dv", sf_dir, "customer")
    if len(snapshots.snapshot_history(path)) != 4:
        shutil.rmtree(path, ignore_errors=True)
        snapshots.snapshot_commit(cust.filter(F.col("c_custkey") % 2 == 0), path)
        snapshots.snapshot_delete_where(
            spark, path, F.col("c_acctbal") < 0.0, use_dv=True
        )
        snapshots.snapshot_commit(cust.filter(F.col("c_custkey") % 2 == 1), path)
        snapshots.snapshot_delete_where(
            spark, path, F.col("c_mktsegment") == "MACHINERY", use_dv=True
        )
    return path


def customer_dv_delete_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE (sources/snapshots
    ``snapshot_delete_where(use_dv=True)``): two DV deletes stacked
    over two appends, read back through the reader's anti-join — the
    oracle recomputes the surviving world directly, so a hash match
    proves position-level deletion is exact row-level DELETE
    semantics. Neither delete rewrote a byte of table data (tests/
    test_deletion_vectors.py pins the no-rewrite claim); at 100 TB
    that is the difference between a metadata-sized commit and
    rewriting the lake to drop 0.1% of it."""
    from pubg_data_pipeline_spark.sources import snapshots

    path = _dv_table(spark, sf_dir)
    cur = snapshots.snapshot_read(spark, path)
    return cur.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(exact_scaled(F.col("c_acctbal"))) / 100.0, 2).alias(
            "total_acctbal"
        ),
    )


def customer_dv_cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed THROUGH deletion-vector deletes: replaying the
    full feed (appends' inserts, DV commits' recorded delete rows)
    into net state must equal the direct read of the final version —
    i.e. a DV delete is indistinguishable from a rewrite delete to a
    CDF consumer, and each deleted row is emitted exactly once (a
    re-matching later predicate must not re-emit rows the vector
    already hides)."""
    from pubg_data_pipeline_spark.sources import snapshots

    path = _dv_table(spark, sf_dir)
    ch = snapshots.snapshot_table_changes(spark, path, 0)
    data_cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    adds = ch.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*data_cols)
    removes = ch.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*data_cols)
    net = adds.exceptAll(removes)
    return net.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(exact_scaled(F.col("c_acctbal"))) / 100.0, 2).alias(
            "total_acctbal"
        ),
    )


def customer_dv_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector MERGE (sources/snapshots
    ``snapshot_merge_upsert(use_dv=True)``): matched rows go into the
    vector, update rows append as new files, one atomic manifest
    publish — MERGE writes O(updates), not a table rewrite. Built as
    append(all) -> DV DELETE acctbal<0 -> DV MERGE (VIP re-segmentation
    + synthetic insert keys); keys whose only row was deleted count as
    UNMATCHED and re-insert (upsert semantics, no resurrection). The
    oracle recomputes the final world directly."""
    import shutil

    from pubg_data_pipeline_spark.sources import snapshots

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = disk_cache_path(".snap_cache", "customer_dv_merge", sf_dir, "customer")
    if len(snapshots.snapshot_history(path)) != 3:
        shutil.rmtree(path, ignore_errors=True)
        snapshots.snapshot_commit(cust, path)
        snapshots.snapshot_delete_where(
            spark, path, F.col("c_acctbal") < 0.0, use_dv=True
        )
        updates = cust.filter(F.col("c_custkey") % 100 == 0).select(
            "c_custkey",
            F.lit("VIP").alias("c_mktsegment"),
            (F.col("c_acctbal") + F.lit(500.0)).alias("c_acctbal"),
        )
        inserts = cust.filter(F.col("c_custkey") % 250 == 0).select(
            (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
            F.lit("NEW").alias("c_mktsegment"),
            F.lit(0.0).alias("c_acctbal"),
        )
        snapshots.snapshot_merge_upsert(
            spark,
            path,
            updates.unionByName(inserts).coalesce(1),
            ["c_custkey"],
            use_dv=True,
        )
    cur = snapshots.snapshot_read(spark, path)
    return cur.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(exact_scaled(F.col("c_acctbal"))) / 100.0, 2).alias(
            "total_acctbal"
        ),
    )


_DV_MERGE_SQL = f"""
WITH upd AS (
  SELECT c_custkey, 'VIP' AS c_mktsegment, c_acctbal + 500.0 AS c_acctbal
  FROM customer WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW', 0.0 FROM customer WHERE c_custkey % 250 = 0
), base AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_acctbal >= 0
), merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = b.c_custkey)
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM({sql_scaled('c_acctbal')}) AS BIGINT) / 100.0, 2)
         AS total_acctbal
FROM merged GROUP BY c_mktsegment
"""


_DV_STATE_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM({sql_scaled('c_acctbal')}) AS BIGINT) / 100.0, 2)
         AS total_acctbal
FROM customer
WHERE ((c_custkey % 2 = 0 AND c_acctbal >= 0) OR c_custkey % 2 = 1)
  AND c_mktsegment <> 'MACHINERY'
GROUP BY c_mktsegment
"""


def lineitem_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering (sources/snapshots ``snapshot_compact(
    zorder_by=...)``): lineitem committed arrival-ordered, Morton-
    clustered on (l_orderkey, l_partkey), then read back through a
    TWO-dimensional pruned read — manifest min/max stats skip files on
    both clustered columns, which a linear sort cannot do for the
    second one (tests/test_snapshots.py asserts the skip counts; this
    oracle pins that the curve layout never changes semantics)."""
    import shutil

    from pubg_data_pipeline_spark.sources import snapshots

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    path = disk_cache_path(".snap_cache", "lineitem_zorder", sf_dir, "lineitem")
    if len(snapshots.snapshot_history(path)) != 2:
        shutil.rmtree(path, ignore_errors=True)
        snapshots.snapshot_commit(
            li.orderBy(F.xxhash64("l_orderkey", "l_partkey")),
            path,
            stats_cols=["l_orderkey", "l_partkey"],
        )
        snapshots.snapshot_compact(
            spark, path, target_files=16, zorder_by=["l_orderkey", "l_partkey"]
        )
    pruned = snapshots.snapshot_read(
        spark,
        path,
        where=[("l_orderkey", "<=", 15000), ("l_partkey", "<=", 500)],
    )
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(exact_scaled(F.col("l_quantity"))) / 100.0, 2).alias(
            "total_qty"
        ),
    )


_ZORDER_READ_SQL = f"""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       ROUND(CAST(SUM({sql_scaled('l_quantity')}) AS BIGINT) / 100.0, 2)
         AS total_qty
FROM lineitem
WHERE l_orderkey <= 15000 AND l_partkey <= 500
GROUP BY l_returnflag
"""


SPECS = [
    QuerySpec(
        "error_events_with_band", error_events_with_band, _TEMPORAL_JOIN_SQL, ("cdc", "join", "time")
    ),
    QuerySpec(
        "customer_cdf_net_changes", customer_cdf_net_changes, _CDF_NET_SQL, ("cdc", "io", "snapshot")
    ),
    QuerySpec(
        "hourly_rollup_retraction_merge",
        hourly_rollup_retraction_merge,
        _RETRACTION_SQL,
        ("cdc", "incremental", "agg"),
    ),
    QuerySpec(
        "customer_snapshot_pruned_read",
        customer_snapshot_pruned_read,
        _PRUNED_READ_SQL,
        ("io", "snapshot"),
    ),
    QuerySpec(
        "customer_dv_delete_state",
        customer_dv_delete_state,
        _DV_STATE_SQL,
        ("cdc", "io", "snapshot"),
    ),
    QuerySpec(
        "customer_dv_cdf_replay",
        customer_dv_cdf_replay,
        _DV_STATE_SQL,
        ("cdc", "io", "snapshot"),
    ),
    QuerySpec(
        "customer_dv_merge_state",
        customer_dv_merge_state,
        _DV_MERGE_SQL,
        ("cdc", "io", "snapshot"),
    ),
    QuerySpec(
        "lineitem_zorder_pruned_read",
        lineitem_zorder_pruned_read,
        _ZORDER_READ_SQL,
        ("io", "snapshot"),
    ),
    QuerySpec("customer_snapshot_diff", customer_snapshot_diff, _DIFF_SQL, ("cdc", "join")),
    QuerySpec("customer_merge_upsert", customer_merge_upsert, _MERGE_SQL, ("cdc", "join")),
    QuerySpec("purchase_band_scd2", purchase_band_scd2, _SCD2_SQL, ("cdc", "window")),
    QuerySpec("purchase_band_as_of", purchase_band_as_of, _AS_OF_SQL, ("cdc", "window")),
]
