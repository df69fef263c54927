"""Statistical / distribution / vector-analysis query batch.

Extends the engine's aggregate surface (SURVEY.md §2.5) past what the
reference computes: the reference's only statistics are avg+stddev for
the Z-score detector (`spark_apps/advanced_analytics.py:174-196`).
Production users of such a pipeline immediately need the neighboring
tools — regression, higher moments, robust (median/MAD) anomaly
detection, histograms, conditional aggregates — and the LLM-pipeline
extension needs vector diagnostics (quantization error, per-class
centroid spread). All are pure JVM-side DataFrame plans (no UDFs), so
Catalyst gets partial aggregation / AQE for free at 100 TB.

Cross-engine determinism follows plans/base.py rules: Spark's
skewness/kurtosis are *population* moments (g1, excess g2) while
DuckDB's built-ins are sample-corrected, so the oracles compute the
population definitions from raw central moments explicitly; medians
interpolate identically (Spark ``percentile``/``median`` vs DuckDB
``quantile_cont``); boundary comparisons happen on ROUNDED values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators import incremental
from pubg_data_pipeline_spark.plans.base import QuerySpec, disk_cache_path, exact_scaled, sql_scaled
from pubg_data_pipeline_spark.sources.tables import load_table


def lineitem_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates: slope/intercept/R² of extended
    price on quantity per return flag — the one-pass OLS kit
    (`regr_*`), the natural next step after the reference's avg/stddev
    surface (advanced_analytics.py:174-181)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    agged = li.groupBy("l_returnflag").agg(
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
        F.regr_slope("l_extendedprice", "l_quantity").alias("slope"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("icept"),
        F.regr_r2("l_extendedprice", "l_quantity").alias("r2"),
    )
    return agged.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_items"),
        F.round("slope", 4).alias("slope"),
        F.round("icept", 4).alias("intercept"),
        F.round("r2", 6).alias("r_squared"),
    )


_REGR_SQL = """
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_items,
       ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r_squared
FROM lineitem GROUP BY l_returnflag
"""


def event_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher distribution moments per event type. Spark's skewness /
    kurtosis are population g1 and excess g2; DuckDB's built-ins are
    sample-corrected, so the oracle computes the population forms from
    raw central moments (verified bit-matching through 6dp)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    agged = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.skewness("value").alias("sk"),
        F.kurtosis("value").alias("ku"),
    )
    return agged.select(
        "event_type",
        "n",
        F.round("sk", 4).alias("skewness"),
        F.round("ku", 4).alias("kurtosis"),
    )


_MOMENTS_SQL = """
WITH m AS (
  SELECT event_type, COUNT(*) AS n, AVG(value) AS mu
  FROM events GROUP BY event_type
), c AS (
  SELECT e.event_type, MIN(m.n) AS n,
         AVG(POW(value - mu, 2)) AS m2,
         AVG(POW(value - mu, 3)) AS m3,
         AVG(POW(value - mu, 4)) AS m4
  FROM events e JOIN m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT event_type, n,
       ROUND(m3 / POW(m2, 1.5), 4) AS skewness,
       ROUND(m4 / POW(m2, 2) - 3, 4) AS kurtosis
FROM c
"""


def user_value_median_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-native twin of ``user_value_median``: ``F.median``
    (exact interpolated percentile) instead of the Arrow grouped-map
    path — at 100 TB this stays inside Tungsten hash aggregation with
    no Python workers."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.median("value"), 4).alias("median_value"),
    )


_MEDIAN_NATIVE_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(CAST(median(value) AS DOUBLE), 4) AS median_value
FROM events GROUP BY user_id
"""


def lineitem_conditional_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate kit: count_if / bool_and / bool_or — the
    declarative form of the reference's per-row threshold counters
    (alert_manager.py:398-461 keeps such counters imperatively)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_quantity") >= 45.0).alias("n_bulk"),
        F.bool_and(F.col("l_extendedprice") > 0.0).alias("all_priced"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
    )


_CONDITIONAL_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
       CAST(COUNT(*) FILTER (WHERE l_quantity >= 45.0) AS BIGINT) AS n_bulk,
       bool_and(l_extendedprice > 0.0) AS all_priced,
       bool_or(l_tax > 0.07) AS any_high_tax
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def order_price_width_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via ``width_bucket`` (10 buckets over
    [0, 500000)) — the engine-side form of a dashboard histogram
    panel. DuckDB lacks width_bucket, so the oracle states the same
    floor arithmetic explicitly (bucket 0 / n+1 are the underflow /
    overflow bins; verified to agree on exact boundaries)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.width_bucket(
        F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(10)
    ).cast("long")
    agged = orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return agged.withColumn(
        "bucket_lo", (F.col("bucket") - 1).cast("double") * 50000.0
    )


_WIDTH_BUCKET_SQL = """
SELECT bucket, COUNT(*) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price,
       CAST((bucket - 1) * 50000.0 AS DOUBLE) AS bucket_lo
FROM (
  SELECT o_totalprice,
         CASE WHEN o_totalprice < 0 THEN 0
              WHEN o_totalprice >= 500000 THEN 11
              ELSE CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket
  FROM orders
) GROUP BY bucket
"""


def event_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly detection per event type — the
    outlier-resistant upgrade of the reference's mean/stddev Z-score
    detector (advanced_analytics.py:174-196, threshold at :184).
    Flags |value - median| > 3 * 1.4826 * MAD (1.4826 scales MAD to σ
    under normality). Two median passes with broadcast joins back —
    the same lazy crossjoin-broadcast shape as operators/zscore.py,
    never a driver-side collect. Boundary compares on ROUNDED values
    so fp noise cannot flip a flag across engines."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("dev").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type")
    agged = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("med").alias("raw_med"),
        F.min("mad").alias("raw_mad"),
        F.count_if(
            F.round("dev", 6) > F.round(F.lit(3 * 1.4826) * F.col("mad"), 6)
        ).alias("n_anomalies"),
    )
    return agged.select(
        "event_type",
        "n_events",
        F.round("raw_med", 4).alias("median_value"),
        F.round("raw_mad", 4).alias("mad_value"),
        "n_anomalies",
    )


_MAD_SQL = """
WITH ev AS (
  SELECT event_type, value FROM events
), med AS (
  SELECT event_type, CAST(median(value) AS DOUBLE) AS med FROM ev GROUP BY event_type
), dev AS (
  SELECT ev.event_type, value, med, abs(value - med) AS dev
  FROM ev JOIN med ON ev.event_type = med.event_type
), mad AS (
  SELECT event_type, CAST(median(dev) AS DOUBLE) AS mad FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       COUNT(*) AS n_events,
       ROUND(MIN(med), 4) AS median_value,
       ROUND(MIN(mad), 4) AS mad_value,
       CAST(COUNT(*) FILTER (WHERE ROUND(dev, 6) > ROUND(3 * 1.4826 * mad, 6)) AS BIGINT)
         AS n_anomalies
FROM dev JOIN mad ON dev.event_type = mad.event_type
GROUP BY dev.event_type
"""


def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embedding vectors + reconstruction
    RMSE — the storage-side half of vector search at 100 TB (4× size
    reduction before LSH/IVF probing). Pure higher-order functions
    (transform / zip_with / aggregate): per-element double arithmetic
    is IEEE-identical across engines, and aggregate's sequential fold
    matches DuckDB's list_sum ordering within the 6dp rounding."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # an all-zero vector has no quantization scale: 0.0/0.0 ANSI-throws
    # on Spark and NULL-cascades on DuckDB — filter it on both sides
    df = emb.withColumn("maxabs", F.array_max(F.transform("v", F.abs))).filter(
        F.col("maxabs") > 0.0
    )
    df = df.withColumn(
        "q",
        F.transform(
            "v", lambda x: F.round(x * 127.0 / F.col("maxabs"), 0).cast("int")
        ),
    )
    sq_err = F.aggregate(
        F.zip_with(
            "v",
            "q",
            lambda x, qv: F.pow(
                x - qv.cast("double") * F.col("maxabs") / 127.0, F.lit(2.0)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.select(
        "vec_id",
        F.round("maxabs", 6).alias("max_abs"),
        F.element_at("q", 1).alias("q_first"),
        F.round(F.sqrt(sq_err / F.size("v")), 6).alias("rmse"),
    )


_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), m AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e
), mf AS (
  SELECT * FROM m WHERE maxabs > 0.0
), q AS (
  SELECT vec_id, v, maxabs,
         list_transform(v, x -> CAST(ROUND(x * 127.0 / maxabs, 0) AS INT)) AS qv
  FROM mf
)
SELECT vec_id,
       ROUND(maxabs, 6) AS max_abs,
       qv[1] AS q_first,
       ROUND(sqrt(list_sum(list_transform(generate_series(1, len(v)),
                                          i -> pow(v[i] - qv[i] * maxabs / 127.0, 2)))
                  / len(v)), 6) AS rmse
FROM q
"""


def _label_centroid_frames(spark: SparkSession, sf_dir: str):
    """Shared per-label centroid pipeline (posexplode -> per-(label,
    pos) mean -> per-vector squared distance) — the ONE definition both
    embedding_centroid_distance and embedding_outlier_docs rank by, so
    a guard or formula change cannot drift between the diagnostic and
    its triage view. Returns (exploded, cent, d2) where d2 is the
    UNROUNDED per-(label, vec_id) squared distance."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    cent = e.groupBy("label", "pos").agg(F.avg("x").alias("c"))
    d2 = (
        e.join(cent, ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(F.sum(F.pow(F.col("x") - F.col("c"), F.lit(2.0))).alias("d2"))
    )
    return e, cent, d2


def embedding_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (elementwise mean) and mean member distance
    to it — the cluster-quality diagnostic behind IVF cell training
    (operators/similarity.py). posexplode → two grouped aggregations;
    shuffles on (label, pos) then (label, vec_id), both well below
    shuffle-partition granularity at any scale since dimensionality is
    fixed (64)."""
    _, cent, dist = _label_centroid_frames(spark, sf_dir)
    per_label = dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(F.sqrt("d2")), 4).alias("mean_dist"),
    )
    cnorm = cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 4).alias("centroid_norm")
    )
    return per_label.join(cnorm, "label")


_CENTROID_SQL = """
WITH v AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings
), x AS (
  SELECT label, vec_id,
         CAST(u['pos'] AS INT) AS pos, CAST(u['x'] AS DOUBLE) AS x
  FROM (
    SELECT label, vec_id,
           unnest(list_transform(generate_series(1, len(v)),
                                 i -> {'pos': i - 1, 'x': v[i]})) AS u
    FROM v
  )
), cent AS (
  SELECT label, pos, AVG(x) AS c FROM x GROUP BY label, pos
), dist AS (
  SELECT x.label, vec_id, SUM(POW(x - c, 2)) AS d2
  FROM x JOIN cent ON x.label = cent.label AND x.pos = cent.pos
  GROUP BY x.label, vec_id
), per_label AS (
  SELECT label, COUNT(*) AS n_vecs, ROUND(AVG(sqrt(d2)), 4) AS mean_dist
  FROM dist GROUP BY label
), cn AS (
  SELECT label, ROUND(sqrt(SUM(c * c)), 4) AS centroid_norm FROM cent GROUP BY label
)
SELECT per_label.label, n_vecs, mean_dist, centroid_norm
FROM per_label JOIN cn ON per_label.label = cn.label
"""


def embedding_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal outlier report: the 20 vectors farthest from their
    own label centroid, joined back to their DOCUMENTS (vec_id is the
    doc id in the synthetic corpus) for text-side context — the "show
    me the weird members of this cluster, with their text stats"
    triage view a curation run uses to decide between relabeling and
    dropping. Ordering is on the ROUNDED distance with a vec_id
    tie-break (plans/base.py determinism rules); the 20-row result
    broadcasts into the documents join."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source", "lang", "n_chars"
    )
    _, _, d2 = _label_centroid_frames(spark, sf_dir)
    dist = d2.select("label", "vec_id", F.round(F.sqrt("d2"), 4).alias("dist"))
    top = dist.orderBy(F.col("dist").desc(), F.col("vec_id").asc()).limit(20)
    # broadcast the 20-row TOP side into the (big) documents table —
    # never the other way around
    return F.broadcast(top).join(docs, "vec_id").select(
        "vec_id", "label", "dist", "source", "lang", "n_chars"
    )


_OUTLIER_DOCS_SQL = """
WITH v AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings
), x AS (
  SELECT label, vec_id,
         CAST(u['pos'] AS INT) AS pos, CAST(u['x'] AS DOUBLE) AS x
  FROM (
    SELECT label, vec_id,
           unnest(list_transform(generate_series(1, len(v)),
                                 i -> {'pos': i - 1, 'x': v[i]})) AS u
    FROM v
  )
), cent AS (
  SELECT label, pos, AVG(x) AS c FROM x GROUP BY label, pos
), dist AS (
  SELECT x.label, vec_id, ROUND(SQRT(SUM(POW(x - c, 2))), 4) AS dist
  FROM x JOIN cent ON x.label = cent.label AND x.pos = cent.pos
  GROUP BY x.label, vec_id
), top AS (
  SELECT * FROM dist ORDER BY dist DESC, vec_id LIMIT 20
)
SELECT vec_id, label, dist, source, lang, n_chars
FROM top JOIN documents ON top.vec_id = documents.doc_id
"""


def event_value_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates from a MERGEABLE histogram state
    (operators/incremental.partial_value_histogram): p50/p90/p99 of
    event values via a 50-bin fixed-range histogram — the
    deterministic, oracle-reproducible stand-in for a t-digest rollup.
    The state is 50 rows however large the input; estimates come from
    an exact cumulative walk + linear interpolation, reproduced
    bit-for-bit by the oracle."""
    ev = load_table(spark, sf_dir, "events")
    state = incremental.partial_value_histogram(ev, "value", lo=0.0, hi=500.0, n_bins=50)
    return incremental.histogram_quantiles(
        state, [0.5, 0.9, 0.99], lo=0.0, hi=500.0, n_bins=50
    )


_HIST_QUANTILES_SQL = """
WITH h AS (
  SELECT LEAST(49, GREATEST(0, CAST(FLOOR((value - 0.0) / 10.0) AS INT))) AS bin,
         COUNT(*) AS n
  FROM events
  -- mirror partial_value_histogram's exclusion: GREATEST(0, NULL) is 0
  -- in DuckDB (NULL would land in bin 0), and CAST(NaN AS INT) throws
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1
), c AS (
  SELECT bin, n, SUM(n) OVER (ORDER BY bin) AS cum FROM h
), t AS (
  SELECT SUM(n) AS total FROM h
), qs AS (
  SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) v(q)
)
SELECT q,
       ROUND(0.0 + 10.0 * (bin + (q * total - (cum - n)) / n), 4) AS estimate
FROM qs CROSS JOIN t
JOIN c ON cum >= q * total AND (cum - n) < q * total
"""


def user_value_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra kit (array_intersect / array_except /
    arrays_overlap) over per-user behavior profiles: event types seen
    on high-value (≥50) vs low-value events. Sizes and flags only —
    canonical scalar outputs, per the determinism rules on list-typed
    results."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    hi = F.col("value") >= 50.0
    agged = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set(F.when(hi, F.col("event_type")))).alias("hi_types"),
        F.array_sort(F.collect_set(F.when(~hi, F.col("event_type")))).alias("lo_types"),
    )
    return agged.select(
        "user_id",
        F.size("hi_types").alias("n_hi_types"),
        F.size("lo_types").alias("n_lo_types"),
        F.size(F.array_intersect("hi_types", "lo_types")).alias("n_common"),
        F.size(F.array_except("hi_types", "lo_types")).alias("n_hi_only"),
        F.arrays_overlap("hi_types", "lo_types").alias("any_common"),
    )


_OVERLAP_SQL = """
WITH a AS (
  SELECT user_id,
         COALESCE(list_sort(list(DISTINCT event_type) FILTER (WHERE value >= 50.0)), []) AS hi_types,
         COALESCE(list_sort(list(DISTINCT event_type) FILTER (WHERE value < 50.0)), []) AS lo_types
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(hi_types) AS INT) AS n_hi_types,
       CAST(len(lo_types) AS INT) AS n_lo_types,
       CAST(len(list_intersect(hi_types, lo_types)) AS INT) AS n_common,
       CAST(len(list_filter(hi_types, x -> NOT list_contains(lo_types, x))) AS INT) AS n_hi_only,
       list_has_any(hi_types, lo_types) AS any_common
FROM a
"""


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (docs 0-199) — the classic
    relevance/keyword extractor for corpus triage. Token explode →
    (doc, term) counts → document frequency → ln(N/df) weight → per-doc
    top-3 by ROUNDED score with a term tie-break (rank on rounded
    values per base.py rules). The document-frequency side is tiny
    (vocab) and broadcast back; at 100 TB the same plan holds with the
    vocab table consolidated via a two-level aggregation."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "rn", "term", "tf", "df", "score")
    )


_TFIDF_SQL = r"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
), toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM docs
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), total AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs
), scored AS (
  SELECT doc_id, term, tf, df,
         ROUND(tf * ln(n_docs * 1.0 / df), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN total
)
SELECT doc_id, rn, term, tf, df, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rn
  FROM scored
) WHERE rn <= 3
"""


def incremental_hourly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: two disjoint
    event increments (split by event_id parity, standing in for 'the
    existing rollup' and 'today's new partition') are reduced to
    mergeable partial states independently, then merged and finalized
    — proving final results equal a full recompute (the oracle). This
    is the 100 TB rollup path: O(new data) per refresh instead of
    O(history), because count/sum states are associative."""
    ev = load_table(spark, sf_dir, "events")
    left = incremental.partial_hourly_state(ev.filter(F.col("event_id") % 2 == 0))
    right = incremental.partial_hourly_state(ev.filter(F.col("event_id") % 2 == 1))
    return incremental.finalize_hourly(incremental.merge_hourly_states(left, right))


def incremental_hourly_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-state twin of ``incremental_hourly_merge``: per-hour
    distinct users via mergeable HLL partial states (two disjoint
    increments merged, then estimated). No DuckDB oracle — its HLL is
    a different implementation — so the driver runs the rows-only
    check; tests/test_incremental.py pins merge-associativity (exact)
    and estimate error (<5% vs true distinct)."""
    ev = load_table(spark, sf_dir, "events")
    left = incremental.partial_distinct_state(ev.filter(F.col("event_id") % 2 == 0))
    right = incremental.partial_distinct_state(ev.filter(F.col("event_id") % 2 == 1))
    return incremental.finalize_distinct(
        incremental.merge_distinct_states(left, right)
    )


_INCREMENTAL_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_key,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS total_value,
       ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 / COUNT(*), 4) AS avg_value
FROM events GROUP BY 1
"""


def doc_length_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact total-order rank of EVERY document by length, computed
    without a single-partition sort (operators.windows.global_rank:
    coarse score buckets -> tiny broadcast offset table -> per-bucket
    parallel local rank). The oracle is the naive global ROW_NUMBER —
    hash-match proves the two-phase decomposition exact."""
    from pubg_data_pipeline_spark.operators.windows import global_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = global_rank(
        docs, F.col("n_chars").cast("double"), tiebreak="doc_id", n_buckets=64
    )
    return ranked.select("doc_id", "n_chars", "global_rank")


_GLOBAL_RANK_SQL = """
SELECT doc_id, n_chars,
       ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS global_rank
FROM documents
"""


def curriculum_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: documents sorted longest-first over
    the WHOLE corpus (a curriculum proxy), running char total via the
    distributed scan (operators.windows.global_prefix_sum — no
    single-partition sort), then packed into fixed-budget shards by
    the running total's start offset. Integer arithmetic end-to-end so
    the oracle (naive global SUM OVER) hash-matches exactly."""
    from pubg_data_pipeline_spark.operators.windows import global_prefix_sum

    budget = 100_000
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scanned = global_prefix_sum(
        docs,
        F.col("n_chars").cast("double"),
        tiebreak="doc_id",
        value_col="n_chars",
        n_buckets=64,
        out_col="cum_chars",
    )
    return scanned.select(
        "doc_id",
        "n_chars",
        F.col("cum_chars").cast("long").alias("cum_chars"),
        ((F.col("cum_chars") - F.col("n_chars")) / budget).cast("long").alias("shard_id"),
    )


_CURRICULUM_SQL = """
SELECT doc_id, n_chars,
       CAST(SUM(n_chars) OVER w AS BIGINT) AS cum_chars,
       CAST(FLOOR((SUM(n_chars) OVER w - n_chars) / 100000) AS BIGINT) AS shard_id
FROM documents
WINDOW w AS (ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def daily_from_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: the DAY aggregate is derived from stored
    HOUR partial states (24 tiny rows/day — operators.incremental.
    rollup_to_daily), never by rescanning events. The oracle aggregates
    the raw table directly per day; integer count/scaled-sum states
    make the two routes bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    hourly = incremental.partial_hourly_state(ev)
    return incremental.finalize_daily(incremental.rollup_to_daily(hourly))


_DAILY_ROLLUP_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_key,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0, 2)
         AS total_value,
       ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             / 100.0 / COUNT(*), 4) AS avg_value
FROM events GROUP BY 1
"""


def event_user_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-item mining: every user contributing >= 0.7% of
    all events, via the Misra-Gries sketch-then-verify plan
    (operators/incremental.py:frequent_items) — candidate summaries
    bound the shuffle to O(counters) keys per partition, then an exact
    recount makes the result identical to plain GROUP BY / HAVING
    (which is exactly what the oracle runs)."""
    ev = load_table(spark, sf_dir, "events")
    out = incremental.frequent_items(ev, ["user_id"], support=0.007)
    return out.select("user_id", F.col("cnt").alias("n_events"))


_HEAVY_HITTERS_SQL = """
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY 1
HAVING COUNT(*) >= 0.007 * (SELECT COUNT(*) FROM events)
"""


def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-join-view maintenance (delta algebra): the stored
    view holds old-orders x old-customers; insert deltas (every 10th
    order, every 20th customer) are folded in via
    operators/incremental.py:maintain_join_view — two broadcast joins,
    zero shuffles — and the result must be row-identical to rejoining
    the full updated tables, which is exactly what the oracle does."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        exact_scaled(F.col("o_totalprice")).alias("price_cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    o_old = orders.filter(F.col("o_orderkey") % 10 != 0)
    o_delta = orders.filter(F.col("o_orderkey") % 10 == 0)
    c_old = cust.filter(F.col("custkey") % 20 != 0)
    c_delta = cust.filter(F.col("custkey") % 20 == 0)
    view = o_old.join(c_old, "custkey")
    maintained = incremental.maintain_join_view(
        view, o_old, o_delta, c_old, c_delta, ["custkey"]
    )
    return maintained.select("o_orderkey", "custkey", "c_mktsegment", "price_cents")


_JOIN_VIEW_SQL = f"""
SELECT o_orderkey, o_custkey AS custkey, c_mktsegment,
       {sql_scaled("o_totalprice", 2)} AS price_cents
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def event_agg_view_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-view maintenance under DELETES (the counting
    algorithm, operators/incremental.py:maintain_agg_view): the stored
    per-type count/sum state absorbs a changelog that retracts every
    7th event and re-inserts every 5th; the merged state must equal
    recomputing the aggregate over the logically-updated multiset
    (the oracle's arithmetic form)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", exact_scaled(F.col("value")).alias("cents")
    )
    state = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    retracts = ev.filter(F.col("event_id") % 7 == 0).withColumn("op", F.lit(-1))
    inserts = ev.filter(F.col("event_id") % 5 == 0).withColumn("op", F.lit(1))
    changelog = retracts.unionByName(inserts)
    out = incremental.maintain_agg_view(state, changelog, ["event_type"], "cents")
    return out.select("event_type", "n", F.col("total").cast("long").alias("total"))


_AGG_VIEW_SQL = f"""
WITH c AS (
  SELECT event_id, event_type, {sql_scaled("value", 2)} AS cents FROM events
)
SELECT event_type,
       COUNT(*) - COUNT(CASE WHEN event_id % 7 = 0 THEN 1 END)
                + COUNT(CASE WHEN event_id % 5 = 0 THEN 1 END) AS n,
       CAST(SUM(cents) - SUM(CASE WHEN event_id % 7 = 0 THEN cents ELSE 0 END)
                       + SUM(CASE WHEN event_id % 5 = 0 THEN cents ELSE 0 END)
            AS BIGINT) AS total
FROM c
GROUP BY 1
HAVING COUNT(*) - COUNT(CASE WHEN event_id % 7 = 0 THEN 1 END)
                + COUNT(CASE WHEN event_id % 5 = 0 THEN 1 END) > 0
"""


def seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: the baseline is the
    (event_type, hour-of-day) profile — mean and stddev per seasonal
    cell — so a value that is normal at peak hour but wild at 4am is
    caught, which a global z-score (zscore_anomalies) cannot do. The
    profile is a tiny aggregate (types x 24 rows) broadcast back onto
    the stream; deviations beyond 3 sigma flag. Same 4dp-rounding
    determinism contract as the global z-score query."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts")
    profile = (
        ev.groupBy(F.col("event_type"), hod.alias("hod"))
        .agg(
            F.avg("value").alias("mu"),
            F.stddev("value").alias("sigma"),
        )
    )
    flagged = (
        ev.withColumn("hod", hod)
        .join(F.broadcast(profile), ["event_type", "hod"])
        .filter(
            (F.col("sigma") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
        )
    )
    return flagged.select(
        "event_id",
        "event_type",
        F.col("hod").cast("int").alias("hod"),
        F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
    )


_SEASONAL_SQL = """
WITH profile AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
         AVG(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS INT) AS hod,
       ROUND((e.value - p.mu) / p.sigma, 4) AS z
FROM events e
JOIN profile p ON p.event_type = e.event_type AND p.hod = hour(e.ts)
WHERE p.sigma > 0 AND ABS(e.value - p.mu) > 3 * p.sigma
"""



def event_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust mean per event type: exact p05/p95 bounds
    (interpolated percentile, rounded before use so the clip threshold
    is cross-engine identical), values clipped into [p05, p95], then
    the mean from exact scaled-integer sums. The outlier-trimming
    normalizer for reward/metric columns ahead of training (the
    reference clips nothing — its z-score alert at
    spark_apps/advanced_analytics.py:96-117 flags outliers but feeds
    raw values downstream).

    Scale shape: the bounds frame is |event_type| rows → broadcast back
    onto the fact scan; clip + sum is one map-side-combined groupBy.
    """
    # NULL/NaN values are MISSING, not clippable: greatest/least skip
    # NULL args on BOTH engines (NULL would silently become p05) and
    # NaN sorts greatest on both (silently p95) — the same trap
    # partial_value_histogram guards; textbook winsorization excludes
    # missing values from n and the mean.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
    )
    pct = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 4).alias("p05"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
    )
    w = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(pct), "event_type")
        .withColumn("__ws", exact_scaled(w, 4))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("p05").alias("p05"),
            F.min("p95").alias("p95"),
            F.round(F.sum("__ws") / F.count(F.lit(1)) / 1e4, 4).alias("winsor_mean"),
        )
    )


_WINSORIZED_SQL = f"""
WITH ev AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
), pct AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.05), 4) AS p05,
         ROUND(quantile_cont(value, 0.95), 4) AS p95
  FROM ev GROUP BY event_type
), c AS (
  SELECT e.event_type, p05, p95,
         {sql_scaled('LEAST(GREATEST(value, p05), p95)', 4)} AS ws
  FROM ev e JOIN pct USING (event_type)
)
SELECT event_type, COUNT(*) AS n_events,
       MIN(p05) AS p05, MIN(p95) AS p95,
       ROUND(SUM(ws) / COUNT(*) / 1e4, 4) AS winsor_mean
FROM c GROUP BY event_type
"""


def event_user_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch point-frequency estimation
    (operators/sketches.py): per-user event counts estimated from a
    4 x 256 counter grid instead of the exact per-key table. The grid
    is built as TWO half-corpus sketches (event_id parity) merged by
    counter addition — a green row proves the merge algebra that lets
    per-day / per-stream sketches combine without raw data, the same
    contract as `incremental_hourly_merge`. Probes the 20 lowest user
    ids and reports exact vs estimate: CMS error is one-sided, so
    ``overshoot = est - n_events >= 0`` always (asserted by the gate
    implicitly — a negative overshoot would hash-mismatch the oracle,
    and explicitly in tests/test_sketches.py).

    Scale shape: each half-sketch shuffles at most depth*width = 1024
    counter rows per task (map-side partial agg); the probe join
    broadcasts the 1 KB sketch. The exact side is a 20-key filter +
    groupBy — only for the comparison column, not part of the sketch
    path. Hashes are explicit affine maps, so DuckDB replays the whole
    grid bit-identically."""
    from pubg_data_pipeline_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    sk = sketches.count_min_merge(
        sketches.count_min_build(ev.filter(F.col("event_id") % 2 == 0), "user_id"),
        sketches.count_min_build(ev.filter(F.col("event_id") % 2 == 1), "user_id"),
    )
    exact = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    est = sketches.count_min_estimate(sk, exact.select("user_id"), "user_id")
    return (
        exact.join(F.broadcast(est), "user_id")
        .select(
            "user_id",
            "n_events",
            "est",
            (F.col("est") - F.col("n_events")).alias("overshoot"),
        )
    )


_CMS_SQL = """
WITH coef(r, a, b) AS (
  VALUES (0, 1000003, 12345), (1, 999983, 67890),
         (2, 1000033, 13579), (3, 1000081, 24680)
), sketch AS (
  SELECT r AS row,
         ((a * user_id + b) % 2147483647) % 256 AS bucket,
         COUNT(*) AS cnt
  FROM events CROSS JOIN coef GROUP BY 1, 2
), keys AS (
  SELECT user_id, COUNT(*) AS n_events FROM events WHERE user_id < 20 GROUP BY 1
), probe AS (
  SELECT k.user_id, k.n_events, MIN(COALESCE(s.cnt, 0)) AS est
  FROM keys k CROSS JOIN coef c
  LEFT JOIN sketch s
    ON s.row = c.r AND s.bucket = ((c.a * k.user_id + c.b) % 2147483647) % 256
  GROUP BY 1, 2
)
SELECT user_id, n_events, est, est - n_events AS overshoot FROM probe
"""


# Poisson(1) inverse-CDF thresholds (cumulative e^-1/k! partial sums);
# identical double literals on both engines, so the weight CASE chain
# is bit-deterministic given the same uniform draw.
_POISSON_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def order_price_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 90% confidence interval for the mean order
    price — the sketch-era answer to "how sure is this metric?" at
    100 TB, where classical resampling (sample n rows WITH replacement,
    R times) is impossible because no worker sees the whole dataset.
    The Poisson trick: each row independently contributes
    w ~ Poisson(1) copies to each replica, so all R=32 resamples are
    computed in ONE scan with map-side-combinable integer sums — no
    resample shuffle, no driver-side data. The per-(row, replica)
    weight comes from a deterministic affine-mod uniform draw pushed
    through the Poisson inverse CDF (a 6-branch CASE), never rand(),
    so both engines replay the identical resample.

    Scale shape: explode x32 is map-side fan-out (rows never leave the
    task); the aggregate has 32 groups. The final order-statistics step
    windows over exactly 32 rows — constant, not data-sized. CI bounds
    are the 2nd / 31st order statistics of the replica means
    (empirical 90% interval for R=32)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", exact_scaled(F.col("o_totalprice")).alias("cents")
    )
    rep = o.select(
        "o_orderkey", "cents", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r")
    )
    # reduce the key mod p BEFORE multiplying: (k % p) * (A % p) stays
    # under 2^40, while k * A overflows int64 (ANSI-fatal on BOTH
    # engines) once the key passes ~3.5e9 — reached far below the
    # 100 TB framing. Same residues mod p, so identical weights.
    m = (
        F.pmod(F.col("o_orderkey").cast("long"), F.lit(1000003)) * F.lit(427799)
        + F.col("r").cast("long") * F.lit(40503)
        + F.lit(9973)
    ) % F.lit(1000003)
    u = m / F.lit(1000003.0)
    # CASE chain: first threshold u falls under gives the weight k.
    w = (
        F.when(u < _POISSON_CUM[0], 0)
        .when(u < _POISSON_CUM[1], 1)
        .when(u < _POISSON_CUM[2], 2)
        .when(u < _POISSON_CUM[3], 3)
        .when(u < _POISSON_CUM[4], 4)
        .when(u < _POISSON_CUM[5], 5)
        .otherwise(6)
    )
    means = (
        rep.select("cents", F.col("r"), w.alias("w"))
        .groupBy("r")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("wx"), F.sum("w").alias("ws"))
        .select("r", F.round(F.col("wx") / F.col("ws") / 100.0, 4).alias("mean_price"))
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("mean_price"), F.col("r")))
    )
    lo = ranked.filter(F.col("rn") == 2).select(F.col("mean_price").alias("ci_lo"))
    hi = ranked.filter(F.col("rn") == 31).select(F.col("mean_price").alias("ci_hi"))
    pt = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("cents") / F.count(F.lit(1)) / 100.0, 4).alias("mean_price"),
    )
    return pt.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))


_BOOTSTRAP_SQL = f"""
WITH o AS (
  SELECT o_orderkey, {sql_scaled('o_totalprice', 2)} AS cents FROM orders
), rep AS (
  SELECT r.r, o.cents,
         CASE
           WHEN u < {_POISSON_CUM[0]!r} THEN 0
           WHEN u < {_POISSON_CUM[1]!r} THEN 1
           WHEN u < {_POISSON_CUM[2]!r} THEN 2
           WHEN u < {_POISSON_CUM[3]!r} THEN 3
           WHEN u < {_POISSON_CUM[4]!r} THEN 4
           WHEN u < {_POISSON_CUM[5]!r} THEN 5
           ELSE 6
         END AS w
  FROM o CROSS JOIN generate_series(0, 31) r(r),
  LATERAL (SELECT (((o.o_orderkey % 1000003) * 427799 + r.r * 40503 + 9973) % 1000003)
                  / 1000003.0 AS u) t
), means AS (
  SELECT r, ROUND(SUM(w * cents) * 1.0 / SUM(w) / 100.0, 4) AS mean_price
  FROM rep GROUP BY r
), ranked AS (
  SELECT mean_price, ROW_NUMBER() OVER (ORDER BY mean_price, r) AS rn FROM means
), pt AS (
  SELECT COUNT(*) AS n_orders,
         ROUND(SUM(cents) * 1.0 / COUNT(*) / 100.0, 4) AS mean_price
  FROM o
)
SELECT pt.n_orders, pt.mean_price,
       lo.mean_price AS ci_lo, hi.mean_price AS ci_hi
FROM pt, (SELECT mean_price FROM ranked WHERE rn = 2) lo,
     (SELECT mean_price FROM ranked WHERE rn = 31) hi
"""


def ab_cuped_adjusted_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13 —
    the standard large-scale experimentation technique): per-user
    pre-period value (before the fixed 2024-01-16 experiment start)
    is the covariate x, post-period value the metric y; theta = cov(x, y) / var(x) is estimated
    on the pooled population and each variant (user_id parity) reports
    both the raw mean and the CUPED-adjusted mean
    ``mean(y) - theta * (mean_v(x) - mean(x))``.

    Exactness by construction, not tolerance: all moments come from
    integer sums of per-row scaled cents (x*y products stay within
    int64 through ~sf1; docstring contract, like the other cents
    plans), converted to double ONCE and combined with the identical
    expression shape the oracle uses — so theta is bit-equal across
    engines and the 4dp rounding has nothing to absorb. The adjusted
    mean uses the aggregate identity mean(y - theta*(x - xbar)) =
    ybar_v - theta*(xbar_v - xbar): no per-user double arithmetic at
    all.

    Scale shape: one events scan -> per-user conditional aggregate
    (map-side combined), then two tiny aggregates (global moments: 1
    row; per-variant: 2 rows) crossed back broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("user_id") % 2).cast("int").alias("variant"),
        # the experiment boundary is a fixed DATE, not day-of-month:
        # dayofmonth(ts) <= 15 only means "pre-period" while the data
        # spans one calendar month — on multi-month data it would leak
        # post-treatment observations (days 1-15 of every later month)
        # into the covariate, biasing theta (CUPED requires x to be
        # unaffected by treatment).
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), exact_scaled(F.col("value")))
        .otherwise(F.lit(0))
        .alias("__x"),
        F.when(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), exact_scaled(F.col("value")))
        .otherwise(F.lit(0))
        .alias("__y"),
    )
    per_user = ev.groupBy("user_id", "variant").agg(
        F.sum("__x").alias("x"), F.sum("__y").alias("y")
    )
    g = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # Zero pooled variance of x (e.g. no pre-period events at all) must
    # yield NULL theta — and hence NULL adjusted means, raw means intact
    # — not an ANSI DIVIDE_BY_ZERO (0/0) that kills the query.
    theta_den = d("sxx") * d("n") - d("sx") * d("sx")
    theta = F.when(
        theta_den != 0,
        (d("sxy") * d("n") - d("sx") * d("sy")) / theta_den,
    )
    xbar = d("sx") / d("n")
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("svx"),
        F.sum("y").alias("svy"),
    )
    out = v.crossJoin(F.broadcast(g.select(theta.alias("__theta"), xbar.alias("__xbar"))))
    mean_y = d("svy") / d("n_users")
    mean_x_v = d("svx") / d("n_users")
    return out.select(
        "variant",
        "n_users",
        F.round(mean_y / 100.0, 4).alias("mean_y"),
        F.round(
            (mean_y - F.col("__theta") * (mean_x_v - F.col("__xbar"))) / 100.0, 4
        ).alias("mean_y_cuped"),
        F.round(F.col("__theta"), 6).alias("theta"),
    )


_CUPED_SQL = f"""
WITH per_user AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN {sql_scaled('value', 2)} ELSE 0 END) AS x,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN {sql_scaled('value', 2)} ELSE 0 END) AS y
  FROM events GROUP BY 1, 2
), g AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM per_user
), t AS (
  SELECT CASE WHEN (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0
              THEN (CAST(sxy AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(sxx AS DOUBLE) * CAST(n AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         END AS theta,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
  FROM g
), v AS (
  SELECT CAST(user_id % 2 AS INT) AS variant, COUNT(*) AS n_users,
         SUM(x) AS svx, SUM(y) AS svy
  FROM per_user GROUP BY 1
)
SELECT variant, n_users,
       ROUND(CAST(svy AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0, 4) AS mean_y,
       ROUND((CAST(svy AS DOUBLE) / CAST(n_users AS DOUBLE)
              - theta * (CAST(svx AS DOUBLE) / CAST(n_users AS DOUBLE) - xbar))
             / 100.0, 4) AS mean_y_cuped,
       ROUND(theta, 6) AS theta
FROM v, t
"""


def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for the A/B readout: chi-square
    statistic of the observed user split against the designed 50/50.
    SRM is THE standard validity gate run before reading any
    experiment metric (a biased assignment invalidates
    `ab_cuped_adjusted_means` no matter how clean the math after it) —
    for two cells with equal expected counts the statistic collapses
    to ``(n0 - n1)^2 / (n0 + n1)``, pure integer arithmetic until one
    division, flagged against the 95% critical value for 1 dof
    (3.841). One distinct-user aggregate; nothing touches the fact
    rows twice."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    users = ev.distinct().select((F.col("user_id") % 2).cast("int").alias("variant"))
    counts = users.groupBy().agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
    )
    chi2 = F.round(
        (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))
        / (F.col("n0") + F.col("n1")),
        6,
    )
    return counts.select(
        "n0",
        "n1",
        chi2.alias("chi2"),
        (chi2 > 3.841).cast("int").alias("srm_flag"),
    )


_SRM_SQL = """
WITH u AS (
  SELECT DISTINCT user_id FROM events
), c AS (
  SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM u
)
SELECT n0, n1,
       ROUND((n0 - n1) * (n0 - n1) * 1.0 / (n0 + n1), 6) AS chi2,
       CAST(ROUND((n0 - n1) * (n0 - n1) * 1.0 / (n0 + n1), 6) > 3.841 AS INT)
         AS srm_flag
FROM c
"""


def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event-type cohorts
    (purchase vs click values): one conditional-aggregation pass emits
    per-group n/mean/var, then the t statistic and Welch-Satterthwaite
    degrees of freedom are scalar expressions over the 1-row result —
    no second scan, no collect. Completes the A/B kit next to
    ab_srm_check (chi-square guard) and ab_cuped_adjusted_means
    (variance reduction). Zero-variance / singleton cohorts yield NULL
    t/df via explicit guards rather than an ANSI divide-by-zero (the
    same hardening pattern as quality_lang_bias_auc). mean/var carry
    ~1e-13 agg-order noise, five orders below the 4dp/2dp rounding."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.where(F.col("event_type").isin("purchase", "click") & F.col("value").isNotNull())
        .groupBy()
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_a"),
            F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("m_a"),
            F.var_samp(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("v_a"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_b"),
            F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias("m_b"),
            F.var_samp(F.when(F.col("event_type") == "click", F.col("value"))).alias("v_b"),
        )
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    t_stat = F.when(se2 > 0, F.round((F.col("m_a") - F.col("m_b")) / F.sqrt(se2), 4))
    df_num = F.pow(se2, F.lit(2))
    df_den = F.pow(F.col("v_a") / F.col("n_a"), F.lit(2)) / (F.col("n_a") - 1) + F.pow(
        F.col("v_b") / F.col("n_b"), F.lit(2)
    ) / (F.col("n_b") - 1)
    welch_df = F.when(
        (F.col("n_a") > 1) & (F.col("n_b") > 1) & (df_den > 0), F.round(df_num / df_den, 2)
    )
    return g.select(
        "n_a",
        "n_b",
        F.round(F.col("m_a") - F.col("m_b"), 4).alias("mean_diff"),
        t_stat.alias("t_stat"),
        welch_df.alias("welch_df"),
    )


_WELCH_SQL = """
WITH g AS (
  SELECT COUNT(*) FILTER (event_type = 'purchase') AS n_a,
         AVG(value) FILTER (event_type = 'purchase') AS m_a,
         VAR_SAMP(value) FILTER (event_type = 'purchase') AS v_a,
         COUNT(*) FILTER (event_type = 'click') AS n_b,
         AVG(value) FILTER (event_type = 'click') AS m_b,
         VAR_SAMP(value) FILTER (event_type = 'click') AS v_b
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
)
SELECT n_a, n_b,
       ROUND(m_a - m_b, 4) AS mean_diff,
       CASE WHEN v_a / n_a + v_b / n_b > 0
            THEN ROUND((m_a - m_b) / SQRT(v_a / n_a + v_b / n_b), 4) END AS t_stat,
       CASE WHEN n_a > 1 AND n_b > 1
             AND POWER(v_a / n_a, 2) / (n_a - 1) + POWER(v_b / n_b, 2) / (n_b - 1) > 0
            THEN ROUND(POWER(v_a / n_a + v_b / n_b, 2) /
                 (POWER(v_a / n_a, 2) / (n_a - 1) + POWER(v_b / n_b, 2) / (n_b - 1)), 2)
       END AS welch_df
FROM g
"""


def event_hour_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and
    hour-of-day: contingency cells in one groupBy (|types| x 24 rows),
    marginals via windows over that tiny cell table (no re-scan, no
    join back to events), then the statistic in a single global sum.
    Pearson's statistic sums over the FULL r x c grid: a cell with
    zero observed events still contributes its expected mass
    ``(0-e)^2/e = e``, so the observed cells are completed against the
    distinct-types x distinct-hours cross (tiny: |types| x 24 rows)
    before the marginals — dropping empty cells would understate the
    statistic while dof still claimed the full grid. Expected counts
    come from exact integer marginals, so the only float noise is the
    final 120-term sum (~1e-12 relative) — absorbed by 4dp rounding.
    The p-value lookup is a client-side concern (needs the incomplete
    gamma function, out of SQL scope both engines); the statistic +
    dof are the distributed part."""
    ev = load_table(spark, sf_dir, "events")
    # ts IS NOT NULL is load-bearing, not defensive: the grid completes
    # from collect_set('h') which silently drops a NULL hour, while a
    # SQL SELECT DISTINCT keeps NULL as a grid row — with NULL ts the
    # two engines would diverge in both chi2_stat and dof. A NULL hour
    # is not a category of the test anyway; pin the exclusion in BOTH
    # engines (oracle filters too).
    observed = (
        ev.where(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .groupBy("event_type", F.hour("ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    # Full grid WITHOUT a set x set cross join (the audit's nested-loop
    # killer shape): both label sets ride ONE zero-key aggregate row
    # (hours <= 24 by construction; a contingency dimension is
    # low-cardinality by definition or the test is meaningless), then
    # explode twice and LEFT-equi-join the observed cells back.
    sets = observed.groupBy().agg(
        F.collect_set("event_type").alias("ets"), F.collect_set("h").alias("hs")
    )
    grid = sets.select(F.explode("ets").alias("event_type"), "hs").select(
        "event_type", F.explode("hs").alias("h")
    )
    cell = grid.join(observed, ["event_type", "h"], "left").na.fill({"o": 0.0})
    wt = Window.partitionBy("event_type")
    wh = Window.partitionBy("h")
    withm = cell.select(
        "event_type",
        "h",
        "o",
        F.sum("o").over(wt).alias("rt"),
        F.sum("o").over(wh).alias("ct"),
    )
    tot = withm.groupBy().agg(F.sum("o").alias("t"))
    e = F.col("rt") * F.col("ct") / F.col("t")
    return (
        withm.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.round(F.sum(F.pow(F.col("o") - e, F.lit(2)) / e), 4).alias("chi2_stat"),
            (
                (F.count_distinct(F.col("event_type")) - 1)
                * (F.count_distinct(F.col("h")) - 1)
            ).alias("dof"),
        )
    )


_CHI2_SQL = """
WITH observed AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS h, CAST(COUNT(*) AS DOUBLE) AS o
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, EXTRACT(HOUR FROM ts)
),
cell AS (
  SELECT g.event_type, g.h, COALESCE(observed.o, 0.0) AS o
  FROM (SELECT et.event_type, hh.h
        FROM (SELECT DISTINCT event_type FROM observed) et
        CROSS JOIN (SELECT DISTINCT h FROM observed) hh) g
  LEFT JOIN observed ON g.event_type = observed.event_type AND g.h = observed.h
),
tot AS (SELECT SUM(o) AS t FROM cell)
SELECT ROUND(SUM(POWER(o - rt * ct / t, 2) / (rt * ct / t)), 4) AS chi2_stat,
       CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT h) - 1) AS BIGINT) AS dof
FROM (
  SELECT event_type, h, o,
         SUM(o) OVER (PARTITION BY event_type) AS rt,
         SUM(o) OVER (PARTITION BY h) AS ct
  FROM cell
) c CROSS JOIN tot
"""


def events_daily_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of sources/io.backfill_stale_partitions: the
    daily revenue rollup maintained INCREMENTALLY — per-day source
    fingerprints decide which days to recompute (first run builds all,
    steady-state runs rebuild nothing), published via dynamic partition
    overwrite with a crash-safe manifest. The oracle is the full
    recompute, so this pins end-state equality of the incremental
    maintenance path, the same contract as incremental_hourly_merge.
    Target lives under the repo's ``.index_cache`` keyed by the dataset
    tag like every other persisted per-dataset artifact (a regenerated
    testdata directory gets a fresh target, never a stale manifest; a
    partially deleted target self-repairs via the operator's
    dir-vs-manifest check), and ``logic_version`` pins the rollup logic
    so editing this compute invalidates old results."""
    from pubg_data_pipeline_spark.sources.io import backfill_stale_partitions

    target = disk_cache_path(".index_cache", "backfill_daily", sf_dir, "events")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )

    def compute(df: DataFrame) -> DataFrame:
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(exact_scaled(F.coalesce(F.col("value"), F.lit(0.0)))) / 100.0, 2
            ).alias("total_value"),
        )

    backfill_stale_partitions(
        spark,
        ev,
        target,
        "day",
        compute,
        fingerprint_cols=["event_id", "ts", "value"],
        logic_version="daily-rollup-v1",
    )
    # partition inference types day= as DATE; normalize for the oracle
    return spark.read.parquet(target).select(
        F.col("day").cast("string").alias("day"), "n_events", "total_value"
    )


_BACKFILL_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM({sql_scaled('COALESCE(value, 0.0)', 2)}) AS BIGINT) / 100.0, 2)
         AS total_value
FROM events GROUP BY strftime(ts, '%Y-%m-%d')
"""


def events_daily_backfill_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional-log twin of ``events_daily_backfill``:
    identical incremental rollup, but the fingerprint manifest is
    VERSIONED through the shared TxnLog backend
    (``backend="log"`` — one immutable manifest version per run,
    snapshot isolation, bounded retention) instead of
    replace-in-place. Same full-recompute oracle, so the driver gate
    itself certifies that both commit backends converge to the same
    end state. Separate target dir: the two backends must not share a
    manifest lineage."""
    from pubg_data_pipeline_spark.sources.io import backfill_stale_partitions

    target = disk_cache_path(".index_cache", "backfill_daily_log", sf_dir, "events")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )

    def compute(df: DataFrame) -> DataFrame:
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(exact_scaled(F.coalesce(F.col("value"), F.lit(0.0)))) / 100.0, 2
            ).alias("total_value"),
        )

    backfill_stale_partitions(
        spark,
        ev,
        target,
        "day",
        compute,
        fingerprint_cols=["event_id", "ts", "value"],
        logic_version="daily-rollup-v1",
        backend="log",
    )
    return spark.read.parquet(target).select(
        F.col("day").cast("string").alias("day"), "n_events", "total_value"
    )


SPECS = [
    QuerySpec("ab_welch_ttest", ab_welch_ttest, _WELCH_SQL, ("stats", "experiment")),
    QuerySpec(
        "events_daily_backfill", events_daily_backfill, _BACKFILL_SQL, ("incremental", "io")
    ),
    QuerySpec(
        "events_daily_backfill_log",
        events_daily_backfill_log,
        _BACKFILL_SQL,
        ("incremental", "io"),
    ),
    QuerySpec("event_hour_chi2", event_hour_chi2, _CHI2_SQL, ("stats", "experiment")),
    QuerySpec("event_value_winsorized", event_value_winsorized, _WINSORIZED_SQL, ("stats", "robust")),
    QuerySpec(
        "ab_cuped_adjusted_means", ab_cuped_adjusted_means, _CUPED_SQL, ("stats", "experiment")
    ),
    QuerySpec("ab_srm_check", ab_srm_check, _SRM_SQL, ("stats", "experiment")),
    QuerySpec(
        "event_user_cms_frequency", event_user_cms_frequency, _CMS_SQL, ("agg", "sketch")
    ),
    QuerySpec(
        "order_price_bootstrap_ci", order_price_bootstrap_ci, _BOOTSTRAP_SQL, ("stats", "sketch")
    ),
    QuerySpec("seasonal_anomalies", seasonal_anomalies, _SEASONAL_SQL, ("stats", "anomaly", "time")),
    QuerySpec(
        "incremental_join_view", incremental_join_view, _JOIN_VIEW_SQL, ("incremental", "join")
    ),
    QuerySpec(
        "event_agg_view_retractions", event_agg_view_retractions, _AGG_VIEW_SQL, ("incremental", "agg")
    ),
    QuerySpec(
        "event_user_heavy_hitters", event_user_heavy_hitters, _HEAVY_HITTERS_SQL, ("agg", "sketch", "pandas")
    ),
    QuerySpec(
        "doc_length_global_rank", doc_length_global_rank, _GLOBAL_RANK_SQL, ("window", "stats")
    ),
    QuerySpec(
        "daily_from_hourly_rollup", daily_from_hourly_rollup, _DAILY_ROLLUP_SQL, ("agg", "incremental")
    ),
    QuerySpec(
        "curriculum_shard_packing", curriculum_shard_packing, _CURRICULUM_SQL, ("llm", "window")
    ),
    QuerySpec("lineitem_regression", lineitem_regression, _REGR_SQL, ("agg", "stats")),
    QuerySpec("event_value_moments", event_value_moments, _MOMENTS_SQL, ("agg", "stats")),
    QuerySpec(
        "user_value_median_native", user_value_median_native, _MEDIAN_NATIVE_SQL, ("agg", "stats")
    ),
    QuerySpec(
        "lineitem_conditional_flags", lineitem_conditional_flags, _CONDITIONAL_SQL, ("agg",)
    ),
    QuerySpec(
        "order_price_width_buckets", order_price_width_buckets, _WIDTH_BUCKET_SQL, ("agg", "stats")
    ),
    QuerySpec("event_mad_anomalies", event_mad_anomalies, _MAD_SQL, ("agg", "stats", "anomaly")),
    QuerySpec("embedding_quantization", embedding_quantization, _QUANTIZE_SQL, ("llm", "vector")),
    QuerySpec(
        "embedding_centroid_distance", embedding_centroid_distance, _CENTROID_SQL, ("llm", "vector")
    ),
    QuerySpec(
        "embedding_outlier_docs", embedding_outlier_docs, _OUTLIER_DOCS_SQL, ("llm", "vector", "join")
    ),
    QuerySpec(
        "event_value_histogram_quantiles",
        event_value_histogram_quantiles,
        _HIST_QUANTILES_SQL,
        ("agg", "stats", "incremental", "sketch"),
    ),
    QuerySpec(
        "user_value_type_overlap", user_value_type_overlap, _OVERLAP_SQL, ("agg", "array")
    ),
    QuerySpec("doc_tfidf_top_terms", doc_tfidf_top_terms, _TFIDF_SQL, ("llm", "window")),
    QuerySpec(
        "incremental_hourly_merge", incremental_hourly_merge, _INCREMENTAL_SQL, ("agg", "incremental")
    ),
    QuerySpec(
        "incremental_hourly_distinct", incremental_hourly_distinct, None, ("agg", "incremental", "sketch")
    ),
]
