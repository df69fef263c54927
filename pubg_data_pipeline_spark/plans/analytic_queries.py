"""Round-2 SQL-surface widening: grouping metadata columns, ordered
string aggregation, full-frame value windows, edit-distance fuzzy
matching, and the pandas GROUPED_AGG UDF extension point.

These close the remaining gaps called out in SURVEY.md §2.5/§2.6/§2.9
beyond round 1: the reference never needs them, but a relational engine
user expects the full surface, and each is a zero-cost Catalyst
built-in (except the grouped-agg pandas UDF, which is deliberately the
Arrow slow-path twin of an expressible aggregate).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators import relational
from pubg_data_pipeline_spark.plans.base import QuerySpec, disk_cache_path, exact_scaled, sql_scaled
from pubg_data_pipeline_spark.sources.tables import load_table


def order_priority_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping metadata: grouping_id() and
    grouping() columns disambiguate which NULLs are aggregation
    placeholders vs data — the piece status_priority_grouping_sets
    leaves implicit. Bit semantics (1 = column aggregated away,
    left-to-right) are identical in Spark and DuckDB.

    Scale: single expand+hash-aggregate, partial map-side — same plan
    as any rollup."""
    orders = load_table(spark, sf_dir, "orders")
    agged = orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().alias("gid"),
        F.grouping("o_orderpriority").cast("int").alias("priority_rolled"),
        F.count(F.lit(1)).alias("order_count"),
        F.sum(exact_scaled(F.col("o_totalprice"))).alias("cents"),
    )
    return agged.select(
        "gid",
        "priority_rolled",
        "o_orderstatus",
        "o_orderpriority",
        "order_count",
        F.round(F.col("cents") / 100.0, 2).alias("total_value"),
    )


_GROUPING_ID_SQL = f"""
SELECT GROUPING_ID(o_orderstatus, o_orderpriority) AS gid,
       CAST(GROUPING(o_orderpriority) AS INT) AS priority_rolled,
       o_orderstatus, o_orderpriority, COUNT(*) AS order_count,
       ROUND(CAST(SUM({sql_scaled('o_totalprice', 2)}) AS BIGINT) / 100.0, 2) AS total_value
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def region_nation_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG semantics): one
    comma-joined, alphabetically ordered nation roster per region.
    Spark 4 ships F.listagg, but its within-group order is not
    guaranteed under partial aggregation — the deterministic form is
    collect_list -> array_sort -> array_join, which this engine treats
    as THE implementation (same result as DuckDB's
    string_agg(... ORDER BY ...)).

    Scale: grouped collect on a dimension-sized table; the broadcast
    region-nation join never shuffles the fact side (there is none)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    joined = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("int").alias("n_nations"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
    )


_ROSTER_SQL = """
SELECT r_name, CAST(COUNT(*) AS INT) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def customer_order_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-frame value windows: per customer, the first order date,
    last order date, and the price of the SECOND order (nth_value) over
    the (date, orderkey)-ordered order history — one row per customer
    via a rank filter. Covers first_value/last_value/nth_value, the
    frame-sensitive window trio round 1 left out.

    Scale: one shuffle on o_custkey serves every window (same
    partitioning, Catalyst plans a single Window node chain); the rank
    filter applies WindowGroupLimit pushdown where supported."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    spanned = orders.select(
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.date_format(F.first_value("o_orderdate").over(wfull), "yyyy-MM-dd").alias(
            "first_order_date"
        ),
        F.date_format(F.last_value("o_orderdate").over(wfull), "yyyy-MM-dd").alias(
            "last_order_date"
        ),
        F.round(F.nth_value("o_totalprice", 2).over(wfull), 2).alias("second_price"),
        F.count(F.lit(1)).over(wfull).alias("n_orders"),
    )
    return spanned.filter(F.col("rn") == 1).drop("rn")


_SPAN_SQL = """
SELECT o_custkey, first_order_date, last_order_date, second_price, n_orders
FROM (
  SELECT o_custkey,
         ROW_NUMBER() OVER w AS rn,
         strftime(first_value(o_orderdate) OVER wf, '%Y-%m-%d') AS first_order_date,
         strftime(last_value(o_orderdate) OVER wf, '%Y-%m-%d') AS last_order_date,
         ROUND(nth_value(o_totalprice, 2) OVER wf, 2) AS second_price,
         COUNT(*) OVER wf AS n_orders
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
         wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
) WHERE rn = 1
"""


def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching: part-name pairs within the same
    brand at Levenshtein distance <= 2 — the blocked fuzzy-join shape of
    entity resolution (block key = brand keeps the candidate set
    quadratic only within blocks, never corpus-wide).

    Scale: the primary block (brand ~ |parts|/25) is refined by an
    EXACT secondary blocking key — name length. Edit distance <= 2
    implies |len(a) - len(b)| <= 2 (each edit changes length by at
    most 1), so side b fans out to its 5 admissible length keys and
    the equi-join on (brand, length) recovers every qualifying pair
    exactly once (side a joins on its single true length). A skewed
    brand with n parts now costs sum over length-bands of |band_a| x
    |band_b| instead of n^2; the oracle is unchanged because the
    refinement provably loses no pairs — the hash-match is the proof.
    levenshtein() is a JVM built-in on both engines."""
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    return relational.fuzzy_blocked_pairs(
        parts, id_col="p_partkey", block_col="p_brand", text_col="p_name", max_dist=2
    )


_FUZZY_SQL = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_brand,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution, composed from the engine's own
    operator kit: blocked fuzzy matching (fuzzy_blocked_pairs — the
    lossless brand+length blocking) feeds connected components
    (operators/graph.py pointer jumping, O(log d) rounds), and every
    part gets a canonical id = min partkey of its fuzzy cluster, with
    the cluster size alongside. Parts with no fuzzy neighbor
    canonicalize to themselves. This is the master-data "same real
    entity, different spellings" pipeline; transitive chains (A~B,
    B~C, A!~C) collapse correctly, which pairwise matching alone
    cannot do. Oracle closes the identical pair set with a recursive
    transitive-closure CTE."""
    from pubg_data_pipeline_spark.operators.graph import connected_components

    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    # Resolve at the VALUE-DICTIONARY level, then assign rows: entity
    # names repeat heavily (20k rows share 1.6k distinct (brand, name)
    # spellings at sf0.1 — and at 100 TB the ratio only grows), so the
    # similarity graph is built over one representative per spelling
    # (its min partkey) instead of one node per ROW. Exact-name
    # duplicates collapse for free (same representative), the CC input
    # shrinks by the duplication factor squared, and canonical ids come
    # out identical to row-level clustering: every row's rep is the min
    # partkey of its spelling, so the component min over reps IS the
    # min partkey of the whole fuzzy cluster.
    # NULL brand/name rows can never fuzzy-match (levenshtein of NULL is
    # NULL on both engines, so the oracle pairs nothing) — they bypass
    # the dictionary and canonicalize to themselves, instead of being
    # silently dropped by the equi-join back onto (brand, name).
    named = parts.where(F.col("p_brand").isNotNull() & F.col("p_name").isNotNull())
    anon = parts.where(F.col("p_brand").isNull() | F.col("p_name").isNull()).select(
        "p_partkey",
        F.col("p_partkey").alias("canonical_id"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    reps = named.groupBy("p_brand", "p_name").agg(F.min("p_partkey").alias("rep_id"))
    rep_pairs = relational.fuzzy_blocked_pairs(
        reps, id_col="rep_id", block_col="p_brand", text_col="p_name", max_dist=2
    )
    comp = connected_components(
        rep_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    canon = (
        named.join(reps, ["p_brand", "p_name"])
        .join(comp, F.col("rep_id") == comp["node"], "left")
        .select(
            "p_partkey",
            F.coalesce(F.col("component"), F.col("rep_id")).alias("canonical_id"),
        )
    )
    # window, not groupBy+join-back: the size count rides one shuffle of
    # the canon rows instead of re-deriving canon a second time for the
    # aggregate side (cluster sizes are bounded — fuzzy name clusters —
    # so the per-key window partition is never a hot spot)
    w = Window.partitionBy("canonical_id")
    return canon.select(
        "p_partkey", "canonical_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    ).unionByName(anon)


_ENTITY_RESOLUTION_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 2
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT node, MIN(r) AS component FROM reach GROUP BY node
), canon AS (
  SELECT p.p_partkey, COALESCE(c.component, p.p_partkey) AS canonical_id
  FROM part p LEFT JOIN comp c ON p.p_partkey = c.node
)
SELECT p_partkey, canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS cluster_size
FROM canon
"""


def _drop_stale_managed_location(spark: SparkSession, *tables: str) -> None:
    """Remove warehouse directories left by a PREVIOUS process for
    managed tables the current in-memory catalog doesn't know — else
    saveAsTable fails with LOCATION_ALREADY_EXISTS. (The bucketed
    layout must be a catalog table: bucket metadata lives in the
    catalog, and a plain path read would lose the shuffle-free join.)"""
    import os
    import shutil
    from urllib.parse import urlparse

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    # Local-filesystem warehouses only: on a real cluster the warehouse
    # is an hdfs://, s3a://, ... URI — os/shutil cannot (and must not)
    # sweep it; leave remote stale locations to the deployment's
    # catalog tooling.
    scheme = urlparse(wh).scheme
    if scheme not in ("", "file"):
        return
    wh = wh.removeprefix("file:")
    for tbl in tables:
        loc = os.path.join(wh, tbl)
        if not spark.catalog.tableExists(tbl) and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)


def bucketed_segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free join from BUCKETED storage (S11,
    sources/io.py:write_bucketed_table): customer and orders are saved
    bucketed on custkey (once per process and sf — the offline layout
    step of a 100 TB warehouse), so the join needs no exchange on
    either side (plan asserted in tests/test_io.py); per-segment order
    stats ride the exact scaled-integer lane."""
    from pubg_data_pipeline_spark.plans.base import dataset_cache_tag
    from pubg_data_pipeline_spark.sources import io

    tag = dataset_cache_tag(sf_dir, "customer", "orders")
    cust_tbl, ord_tbl = f"bkt_customer_{tag}", f"bkt_orders_{tag}"
    _drop_stale_managed_location(spark, cust_tbl, ord_tbl)
    if not spark.catalog.tableExists(cust_tbl):
        io.write_bucketed_table(
            load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            cust_tbl,
            ["c_custkey"],
            num_buckets=8,
        )
    if not spark.catalog.tableExists(ord_tbl):
        io.write_bucketed_table(
            load_table(spark, sf_dir, "orders")
            .select("o_custkey", "o_totalprice")
            .withColumn("o_cents", F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .withColumnRenamed("o_custkey", "c_custkey"),
            ord_tbl,
            ["c_custkey"],
            num_buckets=8,
        )
    cust = spark.table(cust_tbl)
    orders = spark.table(ord_tbl)
    return (
        cust.join(orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_cents") / 100.0, 2).alias("total_price"),
        )
    )


_BUCKETED_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS total_price
FROM customer JOIN orders ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def user_value_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user geometric mean of event values via a pandas GROUPED_AGG
    UDF — the third Arrow extension point (§2.9: scalar mapInPandas and
    grouped-map applyInPandas are covered elsewhere). The aggregate is
    deliberately expressible (exp(avg(ln x)), the oracle) so the UDF
    path is value-checked; 4dp rounding absorbs float summation-order
    noise per base.py's rules.

    Scale: grouped-agg pandas UDFs get partial aggregation disabled —
    all rows of a group transfer to Python via Arrow. Use for genuinely
    non-expressible aggregates only; this engine's default is the JVM
    expression form."""
    @F.pandas_udf("double")
    def gmean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v).mean()))

    # Catalyst forbids mixing GROUP_AGG pandas UDFs with JVM aggregates
    # in one agg() — the count rides along as a second pandas aggregate.
    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    # The geometric mean is defined over POSITIVE values only: both
    # sides filter value > 0 — unguarded, value=0 rows (present at
    # sf0.1) crash the DuckDB oracle on LN(0) while the numpy UDF
    # returns 0.0, and NEGATIVE values were silently dropped by
    # pandas' NaN-skipping mean. n_events counts the positive subset,
    # so the reported mean and its support stay consistent.
    events = load_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    return events.groupBy("user_id").agg(
        n_rows("value").alias("n_events"),
        F.round(gmean("value"), 4).alias("gmean_value"),
    )


_GMEAN_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(EXP(AVG(LN(value))), 4) AS gmean_value
FROM events WHERE value > 0.0 GROUP BY user_id
"""


def customer_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read from a MANIFEST-COMMITTED table
    (sources/snapshots.py): customers with custkey%3==0 are committed
    as version 1, a second append (custkey%3==1) becomes version 2,
    and the query aggregates a pinned ``version=1`` read — proving the
    older snapshot is untouched by later commits. The oracle replays
    only the v1 predicate, so a hash match means the reader resolved
    exactly the v1 manifest's files, not the directory listing (which
    also contains v2's data). Layout is built once per (process, sf)
    and keyed by dataset mtime like every persisted artifact.

    Why this belongs in a 100 TB engine: the reference's bare
    append-only parquet directories (spark_apps/pubg_streaming.py:
    236-244) give readers no isolation from in-flight writes and no way
    back to yesterday's table; the manifest layer fixes both with one
    atomic file publish per commit."""
    import shutil

    from pubg_data_pipeline_spark.sources import snapshots

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = disk_cache_path(".snap_cache", "customer", sf_dir, "customer")
    if len(snapshots.snapshot_history(path)) < 2:
        # partial state from a crashed setup: data files without a
        # manifest are invisible but would leak — rebuild from scratch
        shutil.rmtree(path, ignore_errors=True)
        snapshots.snapshot_commit(cust.filter(F.col("c_custkey") % 3 == 0), path)
        snapshots.snapshot_commit(cust.filter(F.col("c_custkey") % 3 == 1), path)
    v1 = snapshots.snapshot_read(spark, path, version=1)
    return v1.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(exact_scaled(F.col("c_acctbal"))) / 100.0, 2).alias(
            "total_acctbal"
        ),
    )


_SNAPSHOT_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM({sql_scaled("c_acctbal")}) AS BIGINT) / 100.0, 2)
         AS total_acctbal
FROM customer
WHERE c_custkey % 3 = 0
GROUP BY c_mktsegment
"""


def doc_chunking_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF twin of doc_chunking (§2.9 UDTF surface): the same
    64/48 chunker as a registered table function applied per row via
    SQL LATERAL — checked against the SAME DuckDB oracle as the
    expression form, so the two paths are pinned equal.

    Scale: row-at-a-time Python — the deliberate slow lane. The engine
    default is the JVM expression form; use a UDTF only for expansion
    logic generator expressions can't state."""
    from pubg_data_pipeline_spark.functions.udtfs import ChunkTextUDTF

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_v")
    spark.udtf.register("chunk_text", ChunkTextUDTF)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.chunk_md5
        FROM documents_v d, LATERAL chunk_text(d.text) c
        """
    )


def _chunk_oracle() -> str:
    from pubg_data_pipeline_spark.plans.curation_queries import _CHUNK_SQL

    return _CHUNK_SQL


SPECS = [
    QuerySpec(
        "order_priority_grouping_id", order_priority_grouping_id, _GROUPING_ID_SQL, ("agg",)
    ),
    QuerySpec("doc_chunking_udtf", doc_chunking_udtf, _chunk_oracle(), ("udtf", "llm")),
    QuerySpec("region_nation_roster", region_nation_roster, _ROSTER_SQL, ("agg",)),
    QuerySpec("customer_order_span", customer_order_span, _SPAN_SQL, ("window",)),
    QuerySpec("part_name_fuzzy_pairs", part_name_fuzzy_pairs, _FUZZY_SQL, ("join", "text")),
    QuerySpec(
        "part_entity_resolution",
        part_entity_resolution,
        _ENTITY_RESOLUTION_SQL,
        ("join", "text", "graph"),
    ),
    QuerySpec(
        "bucketed_segment_order_stats", bucketed_segment_order_stats, _BUCKETED_SQL, ("join", "io")
    ),
    QuerySpec("user_value_gmean", user_value_gmean, _GMEAN_SQL, ("agg", "pandas")),
    QuerySpec(
        "customer_snapshot_time_travel",
        customer_snapshot_time_travel,
        _SNAPSHOT_SQL,
        ("io", "snapshot"),
    ),
]
