"""LLM-training-data-pipeline queries over ``documents`` and
``embeddings`` (BASELINE.json north-star extension; SURVEY.md §7.2 M5).

Oracle-checked where DuckDB can express the op (exact dedup, text
stats, language-ID, n-gram Jaccard, brute-force cosine top-k); the
hash-family ops (MinHash-LSH, SimHash) and the ANN scale path are
registered without oracle SQL (rows-only driver check) and verified by
property tests in tests/test_llm_ops.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators.ckpt import barrier

from pubg_data_pipeline_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    lang_id_expr,
    quality_score,
    text_stats_columns,
    token_count,
)
from pubg_data_pipeline_spark.operators import dedup, similarity
from pubg_data_pipeline_spark.plans.base import QuerySpec, disk_cache_path
from pubg_data_pipeline_spark.session import artifact
from pubg_data_pipeline_spark.sources.tables import load_table

# Same RE2/Java char class as functions.text.punct_ratio, with the
# single quote doubled for SQL-literal embedding.
_PUNCT_CLASS_SQL = "[^.!?,;:''\"()\\[\\]-]"


def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-3-gram shingle table of the documents corpus,
    materialized ONCE per session per dataset and shared by every
    shingle consumer (MinHash signatures, both Jaccard-verify join
    legs, the prefix-filter pipeline's four stages). Per-call
    ``.persist()`` recomputed the regex tokenizer once per query
    invocation and accumulated a cache entry per call (bench runs each
    query 4x); a per-dataset derived artifact bounds both — the same
    discipline as graph_queries' pair/closure artifacts, with the same
    mtime/size keying (plans.base.dataset_cache_tag)."""
    from pubg_data_pipeline_spark.plans.base import dataset_cache_tag

    # persist, not localCheckpoint: checkpointing materializes through
    # an AQE-finalized exchange whose coalesced partitioning then caps
    # every downstream stage's parallelism (measured 2.3s -> 5.8s on
    # the prefix-filter pipeline); the lazy persist keeps the
    # _spread(32) partitioning and serves all consumers from the block
    # cache after first materialization.
    return artifact(
        spark,
        "sh3:" + dataset_cache_tag(sf_dir, "documents"),
        lambda: dedup.shingle_table(
            load_table(spark, sf_dir, "documents"), "text", "doc_id", shingle_n=3
        ).persist(),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across the session parallelism — the synthetic
    corpus is a single parquet row-group, so without a repartition all
    the regex/tokenize work below would run on one task."""
    df = load_table(spark, sf_dir, "documents")
    return df.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-text md5 fingerprint; keeper =
    min doc_id (deterministic)."""
    docs = _docs(spark, sf_dir)
    return dedup.exact_text_dedup(docs, "text", "doc_id")


_EXACT_DEDUP_SQL = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS group_size
FROM documents GROUP BY 1
"""


def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count, stopword hits, punctuation ratio, and
    composite quality score — all JVM-side Column expressions."""
    docs = _docs(spark, sf_dir)
    cols = text_stats_columns(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        cols["stop_hits"].alias("stop_hits"),
        F.round(cols["stop_ratio"], 4).alias("stop_ratio"),
        F.round(cols["punct_ratio"], 4).alias("punct_ratio"),
        cols["quality"].alias("quality"),
    )


_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS)
_TEXT_STATS_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ({_STOPS}))) AS stop_hits,
         length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
           / GREATEST(length(text), 1) AS praw
  FROM documents
)
SELECT doc_id, n_tokens, stop_hits,
       ROUND(stop_hits * 1.0 / GREATEST(n_tokens, 1), 4) AS stop_ratio,
       ROUND(praw, 4) AS punct_ratio,
       ROUND((LEAST(n_tokens / 100.0, 1.0)
            + LEAST(stop_hits * 1.0 / GREATEST(n_tokens, 1) * 4, 1.0)
            + (1.0 - LEAST(praw * 10, 1.0))) / 3.0, 6) AS quality
FROM t
"""


def doc_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a logistic model over the text
    features (fixed literal weights standing in for trained fasttext/
    linear-classifier coefficients — the engine-side serving path is
    identical: score = sigmoid(w·x) as a pure column expression,
    broadcastable to any corpus size with zero shuffle). The logit is
    ROUNDED before the sigmoid and the keep decision compares the
    ROUNDED score, per the cross-engine determinism rules."""
    docs = _docs(spark, sf_dir)
    cols = text_stats_columns(F.col("text"))
    z = F.round(
        F.lit(-2.0)
        + F.least(cols["n_tokens"].cast("double"), F.lit(200.0)) * 0.02
        + cols["stop_ratio"] * 6.0
        - cols["punct_ratio"] * 8.0,
        6,
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return docs.select(
        "doc_id",
        score.alias("model_score"),
        (score >= 0.5).cast("int").alias("kept"),
    )


_MODEL_SCORE_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ({_STOPS}))) AS stop_hits,
         length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
           / GREATEST(length(text), 1) AS praw
  FROM documents
), z AS (
  SELECT doc_id,
         ROUND(-2.0 + LEAST(CAST(n_tokens AS DOUBLE), 200.0) * 0.02
               + (stop_hits * 1.0 / GREATEST(n_tokens, 1)) * 6.0
               - praw * 8.0, 6) AS z
  FROM t
)
SELECT doc_id,
       ROUND(1.0 / (1.0 + exp(-z)), 4) AS model_score,
       CAST(ROUND(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS INT) AS kept
FROM z
"""


def quality_lang_bias_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-bias audit: exact AUC of the model quality score as a
    predictor of ``lang == 'en'`` — the C4-audit-style check (Dodge et
    al. 2021) that a quality filter does not systematically prefer one
    language (AUC ~ 0.5 = unbiased; far from 0.5 = the quality
    threshold doubles as a covert language filter). Completes the
    engine's evaluation family: retrieval (`embedding_ann_recall`),
    dedup (`minhash_dedup_recall`), and now the quality classifier.

    Exactness: AUC is the Mann-Whitney rank-sum with tie credit 1/2,
    computed from integer counts per DISTINCT rounded score —
    numerator 2*AUC*P*N = sum(n_pos_s * (2*cum_neg_below_s + n_neg_s))
    stays integer until one final double division, so both engines are
    bit-identical. The cumulative window runs over distinct 4dp scores
    (<= 10^4 rows — dimension-sized post-agg data, the same
    justification as histogram_quantiles' bin window), never the
    corpus."""
    docs = _docs(spark, sf_dir)
    cols = text_stats_columns(F.col("text"))
    z = F.round(
        F.lit(-2.0)
        + F.least(cols["n_tokens"].cast("double"), F.lit(200.0)) * 0.02
        + cols["stop_ratio"] * 6.0
        - cols["punct_ratio"] * 8.0,
        6,
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    y = (F.col("lang") == "en").cast("long")
    per = (
        docs.select(score.alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(F.sum("y").alias("n_pos"), F.sum(F.lit(1) - F.col("y")).alias("n_neg"))
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = per.withColumn(
        "cneg", F.coalesce(F.sum("n_neg").over(w), F.lit(0).cast("long"))
    )
    agg = c.agg(
        F.sum("n_pos").alias("n_pos"),
        F.sum("n_neg").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (F.lit(2) * F.col("cneg") + F.col("n_neg"))
        ).alias("__num2"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(
            F.col("__num2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")), 6
        ),
    )
    return agg.select("n_pos", "n_neg", auc.alias("auc"))


_LANG_BIAS_AUC_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ({_STOPS}))) AS stop_hits,
         length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
           / GREATEST(length(text), 1) AS praw
  FROM documents
), sc AS (
  SELECT ROUND(1.0 / (1.0 + exp(-ROUND(-2.0
             + LEAST(CAST(n_tokens AS DOUBLE), 200.0) * 0.02
             + (stop_hits * 1.0 / GREATEST(n_tokens, 1)) * 6.0
             - praw * 8.0, 6))), 4) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM t
), per AS (
  SELECT s, SUM(y) AS n_pos, SUM(1 - y) AS n_neg FROM sc GROUP BY s
), c AS (
  SELECT *, COALESCE(SUM(n_neg) OVER (ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
  FROM per
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CASE WHEN SUM(n_pos) > 0 AND SUM(n_neg) > 0 THEN
         ROUND(SUM(n_pos * (2 * cneg + n_neg)) * 1.0
               / (2.0 * SUM(n_pos) * SUM(n_neg)), 6)
       END AS auc
FROM c
"""


def quality_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the quality classifier against its
    teacher label: decile buckets of the model score vs the observed
    rate of ``quality >= 0.6`` (the distillation target) — per-bucket
    mean score, positive rate, and |gap| (the per-bucket term of
    expected calibration error). A well-calibrated score's gap is
    small in every populated bucket; drift after retraining shows up
    here before it shows up in AUC (which only sees ranking).

    Exactness: counts are integers; mean score per bucket comes from
    exact per-row scaled integers (score is already 4dp — *10^4 is
    exact); the only doubles are final divisions of integer sums. One
    scan, one 10-group aggregate."""
    docs = _docs(spark, sf_dir)
    cols = text_stats_columns(F.col("text"))
    z = F.round(
        F.lit(-2.0)
        + F.least(cols["n_tokens"].cast("double"), F.lit(200.0)) * 0.02
        + cols["stop_ratio"] * 6.0
        - cols["punct_ratio"] * 8.0,
        6,
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    y = (quality_score(F.col("text")) >= 0.6).cast("long")
    bucket = F.least(F.floor(score * 10).cast("int"), F.lit(9))
    out = (
        docs.select(
            bucket.alias("bucket"),
            F.round(score * 10000, 0).cast("long").alias("__s4"),
            y.alias("y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.round(F.sum("__s4") / F.count(F.lit(1)) / 10000.0, 4).alias(
                "mean_score"
            ),
            F.round(F.sum("y") / F.count(F.lit(1)), 4).alias("pos_rate"),
        )
    )
    return out.select(
        "bucket", "n", "n_pos", "mean_score", "pos_rate",
        F.round(F.abs(F.col("mean_score") - F.col("pos_rate")), 4).alias("gap"),
    )


_CALIBRATION_SQL = rf"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ({_STOPS}))) AS stop_hits,
         length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
           / GREATEST(length(text), 1) AS praw
  FROM documents
), sc AS (
  SELECT ROUND(1.0 / (1.0 + exp(-ROUND(-2.0
             + LEAST(CAST(n_tokens AS DOUBLE), 200.0) * 0.02
             + (stop_hits * 1.0 / GREATEST(n_tokens, 1)) * 6.0
             - praw * 8.0, 6))), 4) AS s,
         CASE WHEN ROUND((LEAST(n_tokens / 100.0, 1.0)
                  + LEAST(stop_hits * 1.0 / GREATEST(n_tokens, 1) * 4, 1.0)
                  + (1.0 - LEAST(praw * 10, 1.0))) / 3.0, 6) >= 0.6
              THEN 1 ELSE 0 END AS y
  FROM t
), b AS (
  SELECT LEAST(CAST(FLOOR(s * 10) AS INT), 9) AS bucket,
         CAST(ROUND(s * 10000, 0) AS BIGINT) AS s4, y
  FROM sc
), agg AS (
  SELECT bucket, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         ROUND(SUM(s4) * 1.0 / COUNT(*) / 10000.0, 4) AS mean_score,
         ROUND(SUM(y) * 1.0 / COUNT(*), 4) AS pos_rate
  FROM b GROUP BY bucket
)
SELECT bucket, n, n_pos, mean_score, pos_rate,
       ROUND(ABS(mean_score - pos_rate), 4) AS gap
FROM agg
"""


def quality_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement (Cohen's kappa) between the two quality
    labelers the pipeline already runs — the heuristic triad
    (quality_score >= 0.6) and the logistic model
    (doc_quality_model_score >= 0.5). Kappa corrects raw agreement for
    chance: kappa = (p_o - p_e) / (1 - p_e). The label-audit a data
    team runs before swapping quality filters (high kappa -> the
    cheap heuristic can gate ingestion with the model reserved for
    borderline re-scoring; low kappa -> the filters disagree on real
    mass and the swap changes the corpus).

    Determinism: both labels compare ROUNDED scores (exact across
    engines), all four agreement cells are integer counts, and
    p_o/p_e/kappa are derived from those integers with the identical
    expression shape on both sides (single double divisions — bit
    equal), rounded 6dp. One corpus scan, one global aggregate; the
    guard leaves kappa NULL when p_e = 1 (both raters constant — kappa
    undefined) instead of ANSI-throwing on 0/0."""
    docs = _docs(spark, sf_dir)
    cols = text_stats_columns(F.col("text"))
    z = F.round(
        F.lit(-2.0)
        + F.least(cols["n_tokens"].cast("double"), F.lit(200.0)) * 0.02
        + cols["stop_ratio"] * 6.0
        - cols["punct_ratio"] * 8.0,
        6,
    )
    rater_b = (F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4) >= 0.5).cast("long")
    rater_a = (quality_score(F.col("text")) >= 0.6).cast("long")
    agg = docs.select(rater_a.alias("a"), rater_b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("n_a_keep"),
        F.sum("b").alias("n_b_keep"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("n_agree"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    po = d("n_agree") / d("n")
    pe = (d("n_a_keep") / d("n")) * (d("n_b_keep") / d("n")) + (
        (d("n") - d("n_a_keep")) / d("n")
    ) * ((d("n") - d("n_b_keep")) / d("n"))
    return agg.select(
        "n",
        "n_a_keep",
        "n_b_keep",
        "n_agree",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_chance"),
        F.round(F.when(F.lit(1.0) - pe != 0, (po - pe) / (F.lit(1.0) - pe)), 6).alias(
            "kappa"
        ),
    )


_KAPPA_SQL = rf"""
WITH t AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ({_STOPS}))) AS stop_hits,
         length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
           / GREATEST(length(text), 1) AS praw
  FROM documents
), lab AS (
  SELECT CASE WHEN ROUND((LEAST(n_tokens / 100.0, 1.0)
                  + LEAST(stop_hits * 1.0 / GREATEST(n_tokens, 1) * 4, 1.0)
                  + (1.0 - LEAST(praw * 10, 1.0))) / 3.0, 6) >= 0.6
              THEN 1 ELSE 0 END AS a,
         CASE WHEN ROUND(1.0 / (1.0 + exp(-ROUND(-2.0
                  + LEAST(CAST(n_tokens AS DOUBLE), 200.0) * 0.02
                  + (stop_hits * 1.0 / GREATEST(n_tokens, 1)) * 6.0
                  - praw * 8.0, 6))), 4) >= 0.5
              THEN 1 ELSE 0 END AS b
  FROM t
), agg AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(a) AS BIGINT) AS n_a_keep,
         CAST(SUM(b) AS BIGINT) AS n_b_keep,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM lab
)
SELECT n, n_a_keep, n_b_keep, n_agree,
       ROUND(CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed,
       ROUND((CAST(n_a_keep AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(n_b_keep AS DOUBLE) / CAST(n AS DOUBLE))
             + ((CAST(n AS DOUBLE) - CAST(n_a_keep AS DOUBLE)) / CAST(n AS DOUBLE))
               * ((CAST(n AS DOUBLE) - CAST(n_b_keep AS DOUBLE)) / CAST(n AS DOUBLE)),
             6) AS p_chance,
       CASE WHEN 1.0 - ((CAST(n_a_keep AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(n_b_keep AS DOUBLE) / CAST(n AS DOUBLE))
                        + ((CAST(n AS DOUBLE) - CAST(n_a_keep AS DOUBLE)) / CAST(n AS DOUBLE))
                          * ((CAST(n AS DOUBLE) - CAST(n_b_keep AS DOUBLE)) / CAST(n AS DOUBLE))) <> 0
            THEN ROUND((CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
                        - ((CAST(n_a_keep AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(n_b_keep AS DOUBLE) / CAST(n AS DOUBLE))
                           + ((CAST(n AS DOUBLE) - CAST(n_a_keep AS DOUBLE)) / CAST(n AS DOUBLE))
                             * ((CAST(n AS DOUBLE) - CAST(n_b_keep AS DOUBLE)) / CAST(n AS DOUBLE))))
                       / (1.0 - ((CAST(n_a_keep AS DOUBLE) / CAST(n AS DOUBLE))
                                 * (CAST(n_b_keep AS DOUBLE) / CAST(n AS DOUBLE))
                                 + ((CAST(n AS DOUBLE) - CAST(n_a_keep AS DOUBLE)) / CAST(n AS DOUBLE))
                                   * ((CAST(n AS DOUBLE) - CAST(n_b_keep AS DOUBLE)) / CAST(n AS DOUBLE)))),
                       6)
       END AS kappa
FROM agg
"""


def quality_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: fill a fixed training-token budget with
    the best documents — rank the corpus by the heuristic quality
    score (ties by doc_id), run an exact token prefix-sum over that
    total order, keep every document whose inclusive running total
    fits the budget, and report the kept mass per source. This is the
    "give me the best 200k tokens" cut a data team takes from a
    scored corpus (the quality-ordered sibling of token_shard_packing).

    Scale: the total-order scan is operators.windows.global_prefix_sum
    — bucket-decomposed, NO single-partition sort (a naive SUM OVER
    (ORDER BY ...) funnels the corpus through one task; the oracle
    runs exactly that naive form, which is the point of the pairing).
    Token counts are integers, so the running total is exact and the
    budget cut is engine-stable; the quality key is rounded 6dp with
    doc_id tie-break, so the order is too."""
    from pubg_data_pipeline_spark.operators.windows import global_prefix_sum

    budget = 200_000
    # Materialize the scored projection ONCE (lazy localCheckpoint —
    # the prefix-sum's first action computes and caches it):
    # global_prefix_sum references its input THREE times (score-bounds
    # aggregate, per-bucket sums, ranked probe), and without the
    # barrier each reference re-runs token_count + quality_score — the
    # regex-heavy part of the query — over the whole corpus. The
    # checkpointed frame is the narrow 4-column projection (text
    # dropped), so at 100 TB this trades a cache of ~32 bytes/doc for
    # two full corpus re-tokenizations. Measured at sf0.1 (interleaved
    # same-session A/B, min-of-5, quiet host): 1.35 -> 1.20 s median,
    # rows identical.
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("q"),
    )
    docs = barrier(docs, site="llm:token_budget_scored")
    scanned = global_prefix_sum(
        docs,
        F.col("q"),
        tiebreak="doc_id",
        value_col="n_tokens",
        n_buckets=64,
        out_col="cum_tokens",
    )
    kept = scanned.filter(F.col("cum_tokens") <= budget)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
        F.round(F.min("q"), 6).alias("min_quality"),
    )


_TOKEN_BUDGET_SQL = rf"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ({_STOPS}))) AS stop_hits,
         length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
           / GREATEST(length(text), 1) AS praw
  FROM documents
), q AS (
  SELECT doc_id, source, n_tokens,
         ROUND((LEAST(n_tokens / 100.0, 1.0)
                + LEAST(stop_hits * 1.0 / GREATEST(n_tokens, 1) * 4, 1.0)
                + (1.0 - LEAST(praw * 10, 1.0))) / 3.0, 6) AS q
  FROM t
), scanned AS (
  SELECT source, n_tokens, q,
         SUM(n_tokens) OVER (ORDER BY q DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM q
)
SELECT source,
       COUNT(*) AS n_docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens,
       ROUND(MIN(q), 6) AS min_quality
FROM scanned
WHERE cum_tokens <= 200000
GROUP BY source
"""


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic vs. the labeled lang column."""
    docs = _docs(spark, sf_dir)
    out = docs.select("doc_id", "lang", lang_id_expr(F.col("text")).alias("lang_pred"))
    return out.withColumn(
        "is_match", F.when(F.col("lang_pred") == F.col("lang"), 1).otherwise(0)
    )


def _lang_hits_sql() -> str:
    cols = []
    for lang, words in sorted(LANG_MARKERS.items()):
        inlist = ", ".join(f"'{w}'" for w in words)
        cols.append(f"len(list_filter(toks, x -> x IN ({inlist}))) AS {lang}")
    return ",\n         ".join(cols)


# CASE arms in alphabetical order replicate the Spark fold's tie rule
# (ties go to the alphabetically-first language).
_LANG_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
), h AS (
  SELECT doc_id, lang,
         {_lang_hits_sql()}
  FROM t
), p AS (
  SELECT doc_id, lang,
         CASE WHEN de > 0 AND de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
              WHEN en > 0 AND en >= es AND en >= fr AND en >= zh THEN 'en'
              WHEN es > 0 AND es >= fr AND es >= zh THEN 'es'
              WHEN fr > 0 AND fr >= zh THEN 'fr'
              WHEN zh > 0 THEN 'zh'
              ELSE 'unknown' END AS lang_pred
  FROM h
)
SELECT doc_id, lang, lang_pred, CASE WHEN lang_pred = lang THEN 1 ELSE 0 END AS is_match FROM p
"""


def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via an inverted shingle
    index (explode + equi-join on shingle — never an O(n²) cross join)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.05,
        shingles=_shingles_cached(spark, sf_dir),
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _jaccard_sql_at(threshold: float) -> str:
    """Exact word-3-gram Jaccard oracle, parameterized on the keep
    threshold — shared by the uncapped inverted-index baseline and the
    prefix-filtered AllPairs variant (both are EXACT, so one oracle
    family pins both)."""
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, GREATEST(len(arr) - 2, 0)),
                                      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
"""


_JACCARD_SQL = _jaccard_sql_at(0.05)


def doc_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs via AllPairs/PPJoin-style prefix filtering
    (operators.dedup.prefix_filtered_jaccard_pairs): each doc indexes
    only its rarest-first shingle prefix, so boilerplate shingles prune
    themselves out of the candidate join with ZERO semantic change —
    the lossless scale path, pinned hash-equal to the same exact-
    Jaccard oracle family as the uncapped baseline. Threshold 0.2 so
    the prefix (n - ceil(t*n) + 1 entries) is a real subset; at 0.05
    the prefix degenerates to the whole posting list."""
    docs = load_table(spark, sf_dir, "documents")
    # One materialized shingle table serves all four consumers
    # (df-count, ranking, probe side, verify) AND repeat invocations
    # (_shingles_cached — per-dataset derived artifact).
    sh = _shingles_cached(spark, sf_dir)
    pairs = dedup.prefix_filtered_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.2, shingles=sh
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_JACCARD_PREFIX_SQL = _jaccard_sql_at(0.2)


def doc_ngram_jaccard_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs with the hot-shingle document-frequency cap
    (df > 4 shingles dropped before pair generation) — the 100 TB
    scale guard against boilerplate blow-up. Jaccard is computed over
    the capped shingle universe, so numerator and denominator stay
    consistent; the oracle applies the identical cap."""
    docs = load_table(spark, sf_dir, "documents")
    # NOT wired to the shared persisted shingle table: measured 1.08 s
    # inline vs 1.42 s shared at sf0.1 — explode-from-cache per consumer
    # of the exploded frame costs more than the saved regex pass. (The
    # original rationale credited exchange reuse, which AQE does not
    # actually perform — see _shingle_pair_intersections — but the
    # empirical ordering stands, re-confirmed after the posting-index
    # checkpoint: inline 0.91 s vs shared-form variants ~1.0 s.)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.05, max_doc_freq=4
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_JACCARD_CAPPED_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, GREATEST(len(arr) - 2, 0)),
                                      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingles
  FROM toks
), ex_all AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), ex AS (
  SELECT doc_id, shingle FROM ex_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 4
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
"""


def _rp_sign(j: int, i: int) -> float:
    """Deterministic ±1 hyperplane matrix entry (md5 parity of the
    coordinates) — the SAME matrix is embedded as literals in both the
    Spark plan and the DuckDB oracle, so the projection is
    cross-engine exact."""
    import hashlib

    return 1.0 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest(), 16) & 1 else -1.0


_RP_DIMS, _RP_IN_DIM = 8, 64


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sketch: project each 64-d embedding onto
    8 seeded ±1 hyperplanes (Achlioptas-style sparse random projection,
    signs from a deterministic hash). Dimensionality reduction for
    downstream clustering/dedup at 100 TB: the projection is a pure
    per-row map (zip_with+aggregate inside codegen, no shuffle, no
    Python), so it streams at scan speed; `bucket` packs the 8 sign
    bits into the hyperplane-LSH cell id that `embedding_lsh_topk`
    uses for blocking. Extends the reference's (non-existent) vector
    surface; oracle embeds the identical literal matrix."""
    from pubg_data_pipeline_spark.functions.vectors import dot

    emb = load_table(spark, sf_dir, "embeddings")
    proj = [
        F.round(
            dot(F.col("embedding"), F.array(*[F.lit(_rp_sign(j, i)) for i in range(_RP_IN_DIM)]), _RP_IN_DIM),
            6,
        ).alias(f"p{j}")
        for j in range(_RP_DIMS)
    ]
    out = emb.select(F.col("vec_id"), *proj)
    bucket = None
    for j in range(_RP_DIMS):
        bit = F.when(F.col(f"p{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return out.withColumn("bucket", bucket.cast("int"))


def _rp_oracle_sql() -> str:
    cols = []
    for j in range(_RP_DIMS):
        arr = "[" + ",".join(str(_rp_sign(j, i)) for i in range(_RP_IN_DIM)) + "]::DOUBLE[]"
        cols.append(f"ROUND(list_dot_product(embedding::DOUBLE[], {arr}), 6) AS p{j}")
    bits = " + ".join(f"(CASE WHEN p{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(_RP_DIMS))
    proj = ",\n       ".join(cols)
    return f"""
WITH proj AS (
  SELECT vec_id,
       {proj}
  FROM embeddings
)
SELECT vec_id, {', '.join(f'p{j}' for j in range(_RP_DIMS))},
       CAST({bits} AS INTEGER) AS bucket
FROM proj
"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle population covariance of the 64-d embedding
    corpus (operators.linalg.covariance_pairs): one scan accumulating
    partition-local ``X.T @ X`` numpy Gramians in the Arrow lane —
    only d x d accumulators cross the network (the MLlib RowMatrix
    pattern), vs the ~rows x d^2 shuffle a posexplode-self-join
    formulation would pay. Input to whitening / PCA / redundant-dim
    pruning ahead of ANN indexing. 6dp rounding absorbs partial-sum
    order noise (~1e-12), same discipline as the stddev plans."""
    from pubg_data_pipeline_spark.operators import linalg

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = linalg.covariance_pairs(emb, "embedding", 64)
    # `+ 0.0` collapses IEEE negative zero (ROUND of a tiny negative
    # covariance) — the engines agree on the value but not the zero's
    # sign, and the hash compare is sign-sensitive.
    return pairs.select(
        "dim_i", "dim_j", (F.round("covar", 6) + F.lit(0.0)).alias("covar")
    )


_COVARIANCE_SQL = """
SELECT CAST(i.i AS INT) AS dim_i, CAST(j.j AS INT) AS dim_j,
       ROUND(covar_pop(embedding[i.i], embedding[j.j]), 6) + 0.0 AS covar
FROM embeddings e, generate_series(1, 64) i(i), generate_series(1, 64) j(j)
WHERE i.i <= j.j
GROUP BY i.i, j.j
"""


def embedding_pca_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal-component eigenvalues + cumulative explained
    variance of the embedding corpus (operators.linalg.pca_diagnostics)
    — the effective-dimensionality report a pipeline reads before
    choosing PQ codebook sizes or projection dims. Distributed cost is
    the same single second-moments scan as embedding_covariance; the
    eigensolver runs on the driver's 64x64 matrix (32 KB), the MLlib
    split. Iterative eigensolver => not SQL-expressible; rows-only."""
    from pubg_data_pipeline_spark.operators import linalg

    emb = load_table(spark, sf_dir, "embeddings")
    return linalg.pca_diagnostics(emb, "embedding", 64, top_k=8)


def embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (operators.similarity.mmr_rerank):
    brute-force top-20 cosine candidates for query vec_id=0, greedily
    reranked to 5 results maximizing ``0.7*rel - 0.3*max_sim_to_
    selected`` — the serving-time diversification every RAG retriever
    runs so the context window isn't five near-copies of one passage.

    Scale split (the retrieve-wide / rerank-small pattern): the
    distributed cost is the candidate scan (brute_force_top_k here;
    the IVF path at scale); the pairwise-similarity table is k x k
    over the 20-row shortlist (bounded by construction, broadcast NL
    join is intentional), and the sequential greedy runs in one Arrow
    batch per query. Relevances and pairwise sims are 6dp-rounded
    BEFORE the greedy so the argmax chain is engine-reproducible; the
    oracle replays the same greedy as five chained argmax CTEs."""
    from pubg_data_pipeline_spark.functions.vectors import as_double_vec, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    top = similarity.brute_force_top_k(
        emb, emb.filter(F.col("vec_id") == 0), k=20, round_digits=6, dim=64
    )
    cand = top.select(
        "query_id", F.col("neighbor_id").alias("cid"), F.col("cos_sim").alias("rel")
    )
    vecs = emb.select(
        F.col("vec_id").alias("cid"), as_double_vec(F.col("embedding")).alias("cv")
    )
    cv = cand.join(vecs, "cid")
    other = cv.select(F.col("cid").alias("b"), F.col("cv").alias("bv"))
    pairs = (
        # left join: a 1-candidate shortlist keeps its row (b NULL) and
        # still ranks, instead of vanishing from the grouped rerank
        cv.join(F.broadcast(other), F.col("cid") != F.col("b"), "left")
        .select(
            "query_id",
            "cid",
            "rel",
            "b",
            F.round(cosine(F.col("cv"), F.col("bv"), 64), 6).alias("s"),
        )
    )
    out = similarity.mmr_rerank(pairs, lam=0.7, k=5)
    return out.select(
        "vec_id",
        "mmr_rank",
        (F.round("mmr_score", 6) + F.lit(0.0)).alias("mmr_score"),
    )


def _mmr_oracle_sql(k: int = 5) -> str:
    """Unrolled greedy-argmax CTE chain replaying mmr_rerank exactly:
    step i picks ORDER BY score DESC, cid LIMIT 1 over the candidates
    not yet selected, with the diversity term over all prior picks.
    ``(1.0 - 0.7)`` is spelled as the SUBTRACTION, not ``0.3``, because
    the Python operator computes ``1.0 - lam`` in IEEE (which is NOT
    the double nearest 0.3) — the literals must round-trip the same
    arithmetic."""
    cos = (
        "ROUND(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    steps = [
        "s1 AS (SELECT cid, 0.7 * rel AS score FROM c ORDER BY rel DESC, cid LIMIT 1)"
    ]
    for i in range(2, k + 1):
        sel = " UNION ALL ".join(f"SELECT cid FROM s{j}" for j in range(1, i))
        steps.append(
            f"s{i} AS (SELECT c.cid, 0.7 * c.rel - (1.0 - 0.7) * MAX(s.s) AS score\n"
            f"  FROM c JOIN sims s ON s.a = c.cid AND s.b IN ({sel})\n"
            f"  WHERE c.cid NOT IN ({sel})\n"
            f"  GROUP BY c.cid, c.rel ORDER BY score DESC, c.cid LIMIT 1)"
        )
    union = "\nUNION ALL ".join(
        f"SELECT cid AS vec_id, {i} AS mmr_rank, ROUND(score, 6) + 0.0 AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
         {cos.format(a="embedding::DOUBLE[]", b="qv")} AS rel
  FROM embeddings CROSS JOIN q WHERE vec_id != 0
), c AS (
  SELECT cid, cv, rel FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY rel DESC, cid) AS rnk FROM scored
  ) WHERE rnk <= 20
), sims AS (
  SELECT x.cid AS a, y.cid AS b, {cos.format(a="x.cv", b="y.cv")} AS s
  FROM c x JOIN c y ON x.cid != y.cid
), {", ".join(steps)}
{union}
"""


def doc_overlap_coeff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-duplication pairs by exact word-3-gram OVERLAP
    COEFFICIENT |A∩B| / min(|A|,|B|) ≥ 0.5 over the df≤4-capped
    shingle universe (operators.dedup.ngram_overlap_pairs) — catches a
    short doc contained in a longer one, which Jaccard dilutes to
    |A|/|B|. Same single-shuffle posting-list machinery as the Jaccard
    family, so the scale profile is identical."""
    docs = load_table(spark, sf_dir, "documents")
    # inline shingles for the same reused-exchange reason as the capped
    # Jaccard variant (see doc_ngram_jaccard_pairs_capped)
    pairs = dedup.ngram_overlap_pairs(
        docs, "text", "doc_id", shingle_n=3, threshold=0.5, max_doc_freq=4
    )
    return pairs.select("id_a", "id_b", "n_inter", F.round("overlap", 6).alias("overlap"))


_OVERLAP_COEFF_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, GREATEST(len(arr) - 2, 0)),
                                      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingles
  FROM toks
), ex_all AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), ex AS (
  SELECT doc_id, shingle FROM ex_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 4
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       ROUND(n_inter * 1.0 / LEAST(sa.n_sh, sb.n_sh), 6) AS overlap
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter * 1.0 / LEAST(sa.n_sh, sb.n_sh) >= 0.5
"""


def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 5
    — the exact ANN baseline. Ranks on the ROUNDED similarity with an
    id tie-break so ordering is reproducible cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.brute_force_top_k(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5, round_digits=6,
        dim=64,
    )
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
  FROM c CROSS JOIN q WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def embedding_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-maintenance twin of `embedding_topk_cosine`:
    the corpus is scored in THREE independent slices (vec_id % 3) and
    the per-slice top-k states are merged
    (operators/similarity.merge_topk_states) — the oracle is the same
    full-scan SQL, so a green row proves top-k's merge algebra exactly
    (the property a continuously-growing corpus search relies on; the
    streaming form is streaming/app.streaming_topk_search)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    slices = [
        similarity.brute_force_top_k(
            emb.filter(F.col("vec_id") % 3 == i),
            queries,
            id_col="vec_id",
            vec_col="embedding",
            k=5,
            round_digits=6,
            dim=64,
        )
        for i in range(3)
    ]
    merged = similarity.merge_topk_states(*slices, k=5)
    return merged.select("query_id", "neighbor_id", "cos_sim", "rank")



def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation flow in ONE Catalyst plan:
    quality/language filter -> exact dedup (keep min doc_id per
    fingerprint) -> per-language corpus stats. This is the end-to-end
    shape a 100 TB curation run takes; each stage is the
    oracle-checked operator used standalone elsewhere."""
    docs = _docs(spark, sf_dir)
    cols = text_stats_columns(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        cols["n_tokens"].alias("n_tokens"),
        cols["quality"].alias("quality"),
    )
    kept = scored.filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20))
    from pubg_data_pipeline_spark.functions.text import doc_fingerprint

    w_fp = Window.partitionBy(doc_fingerprint(F.col("text"))).orderBy(F.col("doc_id").asc())
    deduped = kept.withColumn("__rn", F.row_number().over(w_fp)).filter(F.col("__rn") == 1)
    agged = deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
    )
    return agged.select(
        "lang",
        "docs_kept",
        "total_tokens",
        F.round("min_quality", 6).alias("min_quality"),
    )


_CURATION_SQL = rf"""
WITH scored AS (
  SELECT doc_id, lang, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         ROUND((LEAST((CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 100.0, 1.0)
              + LEAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                      x -> x IN ({_STOPS}))) * 1.0
                      / GREATEST(CASE WHEN trim(text) = '' THEN 0
                                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) * 4, 1.0)
              + (1.0 - LEAST(length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
                             / GREATEST(length(text), 1) * 10, 1.0))) / 3.0, 6) AS quality
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE quality >= 0.5 AND n_tokens >= 20
), deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
)
SELECT lang, COUNT(*) AS docs_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(MIN(quality), 6) AS min_quality
FROM deduped GROUP BY lang
"""


# ----------------------- rows-only specs (no SQL-expressible oracle) ----

def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact Jaccard verification
    (shingle → minhash → band → bucket-join; SURVEY.md §7.2 M5)."""
    docs = load_table(spark, sf_dir, "documents")
    # One shared, materialized shingle table: the signature pipeline
    # and both verify join branches read a single tokenize/shingle
    # pass (~50 MB at sf0.1), shared across invocations too
    # (_shingles_cached; persist-per-call was stable where AQE
    # exchange-reuse replays were not, but leaked one cache entry per
    # call).
    sh = _shingles_cached(spark, sf_dir)
    pairs = dedup.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, shingles=sh
    )
    return dedup.jaccard_verify(docs, pairs, "text", "doc_id", threshold=0.05, shingles=sh)


def minhash_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline quality evaluation, the LSH twin of
    `embedding_ann_recall`: recall of MinHash-LSH (verified) pairs
    against the exact inverted-index Jaccard baseline at the same
    threshold — the acceptance check run before trusting an LSH
    configuration (num_hashes/bands) on the full corpus, and re-run
    when the corpus shifts (shingle-length distribution changes move
    LSH collision probabilities).

    Both legs are the engine's own graded operators and share ONE
    materialized shingle table, so the evaluation costs one extra
    bucket-join + one semi-join over the exact pass. LSH-verified
    pairs are a SUBSET of exact pairs (verification re-checks exact
    Jaccard), so precision is 1 by construction and the single number
    that matters is recall: found / exact, with the miss count beside
    it. Rows-only registration (hash family); the subset property and
    recall range are pinned in tests/test_llm_ops.py.

    The exact denominator is served from the SAME per-dataset derived
    pair table the graph suite closes (graph_queries._jaccard_pairs:
    identical parameters, mtime-keyed, localCheckpointed once per
    process) — the eval query's most expensive leg is a shared
    artifact, not a per-invocation recompute of the posting-list
    join."""
    from pubg_data_pipeline_spark.plans.graph_queries import _jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles_cached(spark, sf_dir)
    exact = _jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    cand = dedup.minhash_candidate_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, shingles=sh
    )
    found = dedup.jaccard_verify(
        docs, cand, "text", "doc_id", threshold=0.05, shingles=sh
    ).select("id_a", "id_b")
    hit = exact.join(found, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_found"))
    return (
        n_exact.crossJoin(F.broadcast(n_hit))
        .select(
            "n_exact",
            "n_found",
            (F.col("n_exact") - F.col("n_found")).alias("n_missed"),
            # A corpus with zero exact near-dup pairs (clean dataset)
            # must report NULL recall, not ANSI-throw on 0/0.
            F.round(
                F.when(F.col("n_exact") > 0, F.col("n_found") / F.col("n_exact")), 4
            ).alias("recall"),
        )
    )


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 (pigeonhole
    chunk join, no cross join)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, "text", "doc_id", bits=32, max_hamming=3)


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: random-hyperplane LSH bucketing + exact re-rank
    within buckets — the 100 TB scale path for similarity search."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_bucketed_top_k(
        emb, queries, dim=64, id_col="vec_id", vec_col="embedding", k=5, n_planes=6
    )


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via an IVF index (k-means cells + nprobe probing
    + exact in-cell re-rank) — the inverted-file counterpart to the LSH
    scale path."""
    from pubg_data_pipeline_spark.plans.base import dataset_cache_tag

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_top_k(
        emb, queries, dim=64, id_col="vec_id", vec_col="embedding",
        k=5, nlist=8, nprobe=3, cache_key=dataset_cache_tag(sf_dir, "embeddings"),
    )


def embedding_ivf_balanced_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_ivf_topk with the BALANCED quantizer
    (operators.similarity.train_ivf_centers_balanced): oversized
    k-means cells are split until occupancy fits capacity, bounding
    what one nprobe scan can touch — the skew-hardened trainer a
    clustered production corpus needs. Rows-only check (k-means);
    the balance bound and agreement with brute force are
    property-tested in tests/test_llm_ops.py."""
    from pubg_data_pipeline_spark.plans.base import dataset_cache_tag

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_top_k(
        emb, queries, dim=64, id_col="vec_id", vec_col="embedding",
        k=5, nlist=8, nprobe=3, cache_key=dataset_cache_tag(sf_dir, "embeddings"),
        balanced=True,
    )


def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF index against the
    exact brute-force top-5, per query vector — the acceptance gate an
    index build runs before swapping a new ANN index into serving (a
    recall regression means the quantizer went stale, e.g. after a
    distribution shift in the embedding corpus; re-train and re-check).

    Both legs are the engine's own oracle-checked operators; the
    comparison is one LEFT SEMI-shaped join on (query, neighbor) and a
    per-query aggregate. Rows-only registration: the IVF leg's k-means
    quantizer is iterative (not SQL-expressible); the recall range and
    the exact-vs-exact recall==1 identity are pinned by unit tests."""
    from pubg_data_pipeline_spark.plans.base import dataset_cache_tag

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_top_k(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5, round_digits=6,
        dim=64,
    ).select("query_id", "neighbor_id")
    approx = similarity.ivf_top_k(
        emb, queries, dim=64, id_col="vec_id", vec_col="embedding",
        k=5, nlist=8, nprobe=3, cache_key=dataset_cache_tag(sf_dir, "embeddings"),
    ).select("query_id", F.col("neighbor_id").alias("__hit"))
    hits = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["__hit"]),
        "left",
    ).select(exact["query_id"], (approx["__hit"].isNotNull()).alias("__found"))
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("__found").cast("int")).alias("n_hit"),
            F.round(
                F.sum(F.col("__found").cast("int")) / F.count(F.lit(1)), 4
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faiss-style IVF-PQ ANN: coarse cells route each query to nprobe
    cells, candidates inside are scored from product-quantization
    CODES only (asymmetric distance via per-query LUTs — the scan
    reads m ints per vector, not 64 floats), and the ADC shortlist is
    re-ranked exactly against the full-vector table. The
    compressed-scan architecture that keeps ANN in memory at 100 TB.
    Rows-only check (two k-means stages, no SQL oracle); recall and
    duplicate-vector guarantees are property-tested."""
    from pubg_data_pipeline_spark.plans.base import dataset_cache_tag

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivfpq_top_k(
        emb, queries, dim=64, id_col="vec_id", vec_col="embedding",
        k=5, nlist=8, nprobe=3, m=4, ksub=16, refine=16,
        cache_key=dataset_cache_tag(sf_dir, "embeddings"),
    )


def embedding_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from the PERSISTED IVF index: cell-partitioned parquet
    + centers metadata written once per (process, sf), then probed via
    the dynamic-partition-pruned equi-join — the on-storage layout the
    in-memory twin (embedding_ivf_topk) models. Rows-only check like
    every k-means query (no SQL oracle); agreement with the in-memory
    path is pinned in tests/test_llm_ops.py."""
    from pubg_data_pipeline_spark.plans.base import ensure_index_cache

    emb = load_table(spark, sf_dir, "embeddings")
    # v2: cells assigned in L2-NORMALIZED space (r5 fix — a v1 index
    # quantized raw norms and is semantically stale for cosine serving)
    path = disk_cache_path(".ivf_cache", "index_v2", sf_dir, "embeddings")
    # centers/ is written last, so its _SUCCESS implies cells/ committed.
    ensure_index_cache(
        path,
        lambda: similarity.write_ivf_index(
            emb, path, id_col="vec_id", vec_col="embedding", nlist=8, seed=42
        ),
        marker_subdir="centers",
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_index_top_k(
        spark, path, queries, id_col="vec_id", vec_col="embedding", k=5, nprobe=3
    )


def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup against a PERSISTED fingerprint
    index (operators.dedup.write_fingerprint_index +
    incremental_ingest_dedup): history = docs with doc_id % 4 < 3
    (indexed once per process and sf), new batch = the rest; batch rows
    whose normalized-text md5 already exists in history are dropped,
    then one keeper (min doc_id) survives per fingerprint within the
    batch. The oracle replays the same split and logic in SQL."""
    from pubg_data_pipeline_spark.plans.base import ensure_index_cache

    docs = load_table(spark, sf_dir, "documents")
    path = disk_cache_path(".index_cache", "fingerprints", sf_dir, "documents")
    ensure_index_cache(
        path,
        lambda: dedup.write_fingerprint_index(
            docs.filter(F.col("doc_id") % 4 < 3), path, text_col="text", id_col="doc_id"
        ),
    )
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    return dedup.incremental_ingest_dedup(spark, path, batch, text_col="text", id_col="doc_id")


def incremental_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion NEAR-dedup against a persisted MinHash
    band index (operators.dedup.write_band_index +
    incremental_neardup_ingest) — the fuzzy sibling of
    incremental_ingest_dedup: history = docs with doc_id % 4 < 3
    (band-indexed once per process and sf), new batch = the rest;
    batch docs sharing any LSH band key with history are dropped, then
    within-batch collisions keep the bucket-minimum doc_id. Output:
    surviving doc ids with their band count. Rows-only check (the
    xxhash64 MinHash family is not SQL-reproducible in DuckDB); the
    policy itself is pinned by unit tests (planted cross-batch and
    within-batch near-dups) in tests/test_ingest_neardup.py."""
    from pubg_data_pipeline_spark.plans.base import ensure_index_cache

    docs = load_table(spark, sf_dir, "documents")
    path = disk_cache_path(".index_cache", "bands", sf_dir, "documents")
    ensure_index_cache(
        path,
        lambda: dedup.write_band_index(
            docs.filter(F.col("doc_id") % 4 < 3), path, text_col="text", id_col="doc_id"
        ),
    )
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    return (
        dedup.incremental_neardup_ingest(spark, path, batch, text_col="text", id_col="doc_id")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


_INCREMENTAL_INGEST_SQL = r"""
WITH hist AS (
  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents WHERE doc_id % 4 < 3
), batch AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents WHERE doc_id % 4 = 3
)
SELECT MIN(doc_id) AS doc_id, fingerprint
FROM batch
WHERE fingerprint NOT IN (SELECT fingerprint FROM hist)
GROUP BY fingerprint
"""


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish-regex token counts per document — the two
    standard pre-tokenization counters for corpus budgeting."""
    from pubg_data_pipeline_spark.functions.text import (
        BPE_ISH_PATTERN,
        regex_token_count,
        text_stats_columns,
    )

    docs = _docs(spark, sf_dir)
    ws = text_stats_columns(F.col("text"))["n_tokens"]
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        regex_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
         AS bpe_ish_tokens
FROM documents
"""


def doc_token_counts_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same two token counters through ``mapInArrow`` — the sixth
    Arrow extension point (after mapInPandas / applyInPandas /
    applyInPandasWithState / grouped-agg pandas UDF / Python UDTF),
    and the one to reach for when the per-batch logic is expressible
    in ``pyarrow.compute``: batches stay in Arrow's columnar buffers
    end-to-end with no pandas materialization, no per-row Python, and
    no object-dtype strings — ``count_substring_regex`` runs RE2 over
    the raw string buffers. Counting runs of ``\\S+`` is exactly the
    trim-and-split whitespace count (0 for empty/blank text), so this
    pins against the SAME oracle as the expression-based
    doc_token_counts — three independent mechanisms, one contract."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def count_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            ws = pc.count_substring_regex(text, pattern=r"\S+")
            bpe = pc.count_substring_regex(
                text, pattern=r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), ws, pc.cast(bpe, "int32")],
                ["doc_id", "ws_tokens", "bpe_ish_tokens"],
            )

    return docs.mapInArrow(
        count_batches, "doc_id long, ws_tokens int, bpe_ish_tokens int"
    )


def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-sensitive polynomial rolling-hash fingerprint per
    document (functions.text.rolling_fingerprint), grouped to keeper +
    group size like the md5 exact dedup."""
    from pubg_data_pipeline_spark.functions.text import rolling_fingerprint

    docs = _docs(spark, sf_dir)
    return docs.groupBy(rolling_fingerprint(F.col("text")).alias("fingerprint")).agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("group_size")
    )


_ROLLING_FP_SQL = r"""
WITH f AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
                            t -> CAST(length(t) * 256 + ascii(substr(t, 1, 1)) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 9007199254740881) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keeper_id, COUNT(*) AS group_size
FROM f GROUP BY fingerprint
"""


def embedding_cosine_near_dups(
    spark: SparkSession,
    sf_dir: str,
    allow_full: bool = False,
    guard_max_rows: int = 25_000,
) -> DataFrame:
    """Embedding-cosine near-dup PAIRS (the dedup use of similarity,
    vs the top-k search): all pairs with cosine >= threshold. Exact
    all-pairs baseline — the LSH bucket join (embedding_lsh_topk /
    minhash pattern) is the 100 TB path; this oracle-checked form pins
    the semantics. The plan is a theta join (``id_a < id_b`` →
    nested loop), so inputs beyond ``guard_max_rows`` are refused up
    front (``allow_full=True`` to override) — see
    ``operators.dedup.guard_all_pairs``."""
    from pubg_data_pipeline_spark.functions.vectors import as_double_vec, cosine
    from pubg_data_pipeline_spark.operators.dedup import guard_all_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    guard_all_pairs(
        emb,
        guard_max_rows,
        "embedding_cosine_near_dups",
        "embedding_lsh_topk / embedding_ivf_topk",
        allow_full,
    )
    v = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id"), as_double_vec(F.col("embedding")).alias("e")
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).withColumn(
        "cos_sim", F.round(cosine(F.col("ea"), F.col("eb"), 64), 6)
    )
    return pairs.filter(F.col("cos_sim") >= 0.45).select("id_a", "id_b", "cos_sim")


_COSINE_DUPS_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.45
"""


def doc_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: documents ⋈ embeddings on id — per-language
    corpus profile combining text quality with embedding geometry
    (vector norms via the sequential-fold dot product, exact doubles)."""
    from pubg_data_pipeline_spark.functions.vectors import as_double_vec, dot

    docs = _docs(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cols = text_stats_columns(F.col("text"))
    scored = docs.select("doc_id", "lang", cols["quality"].alias("quality"))
    vecs = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(F.sqrt(dot(as_double_vec(F.col("embedding")), as_double_vec(F.col("embedding")), 64)), 6).alias("vnorm"),
        "label",
    )
    joined = scored.join(vecs, "doc_id")
    agged = joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("label").alias("n_labels"),
        F.min("quality").alias("min_q"),
        F.min("vnorm").alias("min_norm"),
        F.max("vnorm").alias("max_norm"),
    )
    return agged.select(
        "lang",
        "n_docs",
        "n_labels",
        F.round("min_q", 6).alias("min_quality"),
        "min_norm",
        "max_norm",
    )


_DOC_EMB_SQL = rf"""
WITH q AS (
  SELECT doc_id, lang,
         ROUND((LEAST((CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END) / 100.0, 1.0)
              + LEAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                      x -> x IN ({_STOPS}))) * 1.0
                      / GREATEST(CASE WHEN trim(text) = '' THEN 0
                                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) * 4, 1.0)
              + (1.0 - LEAST(length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
                             / GREATEST(length(text), 1) * 10, 1.0))) / 3.0, 6) AS quality
  FROM documents
), v AS (
  SELECT vec_id AS doc_id,
         ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS vnorm,
         label
  FROM embeddings
)
SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT label) AS n_labels,
       ROUND(MIN(quality), 6) AS min_quality,
       MIN(vnorm) AS min_norm, MAX(vnorm) AS max_norm
FROM q JOIN v USING (doc_id)
GROUP BY lang
"""


def embedding_ml_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-ML BucketedRandomProjectionLSH ANN variant (Euclidean);
    rows-only check — random projections aren't SQL-reproducible."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ml_euclidean_lsh_top_k(emb, queries, k=5)


def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection per document: the
    rightmost-minimum-per-window sample of k-gram hashes that
    guarantees any shared run of window+k-1 tokens leaves at least one
    common fingerprint — the robust local-overlap detector that set
    fingerprints (doc_fingerprint) and global rolling hashes
    (doc_rolling_fingerprints) cannot provide. Pure array expressions;
    the oracle recomputes the identical polynomial and selection
    rule."""
    from pubg_data_pipeline_spark.functions.text import winnowing_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, "doc_id", "text")


_WINNOWING_SQL = r"""
WITH codes AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
                        t -> CAST(length(t) * 256 + ascii(substr(t, 1, 1)) AS BIGINT)) AS codes
  FROM documents
), grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, GREATEST(len(codes) - 2, 0)),
           j -> list_reduce(list_prepend(CAST(0 AS BIGINT), codes[j:j+2]),
                            (acc, x) -> (acc * 131 + x) % 9007199254740881)) AS H
  FROM codes
), sel AS (
  SELECT doc_id,
         list_transform(generate_series(1, GREATEST(len(H) - 3, 0)),
           p -> {'pos': CAST(p + 4 - list_position(list_reverse(H[p:p+3]), list_min(H[p:p+3])) AS INT),
                 'fp': list_min(H[p:p+3])}) AS fps
  FROM grams
)
SELECT DISTINCT doc_id, r.pos AS fp_pos, r.fp AS fp_hash
FROM (SELECT doc_id, unnest(fps) AS r FROM sel)
"""



def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated spans (operators.dedup.duplicate_spans):
    maximal runs of >= 8 tokens whose every 5-gram also occurs elsewhere
    in the corpus — catches the pasted boilerplate footer inside
    otherwise-unique documents that whole-doc and paragraph dedup both
    miss. Output is (doc_id, token-position span) — the removal list a
    curation pass would cut before training."""
    from pubg_data_pipeline_spark.operators.dedup import duplicate_spans

    docs = _docs(spark, sf_dir)
    return duplicate_spans(docs, "text", "doc_id", gram_len=5, min_span_tokens=8)


_DUP_SPANS_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
  FROM documents
), grams AS (
  SELECT doc_id, u['pos'] AS pos, u['g'] AS gram
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, GREATEST(len(arr) - 4, 0)),
                                 i -> {'pos': i - 1,
                                       'g': array_to_string(arr[i:i+4], ' ')})) AS u
    FROM toks
  )
), dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1
), dp AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM grams WHERE gram IN (SELECT gram FROM dup)
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
       MAX(pos) - MIN(pos) + 5 AS span_tokens
FROM dp GROUP BY doc_id, isl
HAVING MAX(pos) - MIN(pos) + 5 >= 8
"""


def doc_corpus_despanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remediation half of ExactSubstr dedup: apply
    doc_duplicate_spans' removal list and emit the cleaned corpus —
    every document (spanless ones untouched in canonical form) with its
    flagged token ranges cut out (operators.dedup.remove_spans)."""
    from pubg_data_pipeline_spark.operators.dedup import duplicate_spans, remove_spans

    docs = _docs(spark, sf_dir)
    spans = duplicate_spans(docs, "text", "doc_id", gram_len=5, min_span_tokens=8)
    return remove_spans(docs, spans, "text", "doc_id")


_DESPANNED_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
  FROM documents
), grams AS (
  SELECT doc_id, u['pos'] AS pos, u['g'] AS gram
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, GREATEST(len(arr) - 4, 0)),
                                 i -> {'pos': i - 1,
                                       'g': array_to_string(arr[i:i+4], ' ')})) AS u
    FROM toks
  )
), dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1
), dp AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM grams WHERE gram IN (SELECT gram FROM dup)
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
  FROM dp GROUP BY doc_id, isl
  HAVING MAX(pos) - MIN(pos) + 5 >= 8
), tok2 AS (
  SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(arr)),
                                 i -> {'pos': i - 1, 'tok': arr[i]})) AS u
    FROM toks
  )
), kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM tok2 t
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.s AND s.e)
), reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept_tokens
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
       COALESCE(reb.n_kept_tokens, 0) AS n_kept_tokens
FROM documents d LEFT JOIN reb ON reb.doc_id = d.doc_id
"""


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each query vector (vec_id < 5), the top-5 most-similar candidates
    AFTER excluding the near-duplicate band (cos ≥ 0.95 — those are
    positives/dups, not negatives) — the standard 'similar but wrong'
    negatives that make a retriever's margin meaningful.

    Same plan as the brute-force top-k baseline (broadcast query side,
    one corpus pass, per-query WindowGroupLimit) with the band filter
    applied BEFORE ranking; the 100 TB path swaps the scan for the
    IVF/LSH candidate join exactly as in embedding_topk_cosine."""
    from pubg_data_pipeline_spark.functions.vectors import as_double_vec, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), as_double_vec(F.col("embedding")).alias("qv")
    )
    c = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("neighbor_id"), as_double_vec(F.col("embedding")).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("cv"), 64), 6))
        .filter(F.col("cos_sim") < 0.95)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_HARD_NEG_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
  FROM c CROSS JOIN q WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored WHERE cos_sim < 0.95
) WHERE rank <= 5
"""


def doc_quality_trained_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE model training for quality filtering: full-batch
    logistic-regression GD (operators/ml.py:train_logistic) distills
    the composite quality heuristic into a linear model — label =
    (quality >= 0.6), features = the heuristic's raw inputs (length
    term, stopword ratio, punctuation ratio). This is the
    teacher-heuristic -> student-classifier step real curation stacks
    run (fasttext quality models are trained on exactly such heuristic
    or LM-judged labels); 24 iterations at lr=4.0 reach ~85% train
    accuracy (majority class is ~50%). Output: the trained
    coefficients and training accuracy — the coefficients a
    `doc_quality_model_score`-style serving expression then applies
    corpus-wide.

    Each GD iteration is ONE distributed aggregate (4 sums + count)
    over the materialized 4-column feature table; driver traffic is 4
    floats per round regardless of corpus size (the AllReduce linear-
    learning shape — see operators/ml.py). The DuckDB oracle replays
    the IDENTICAL training program as a generated chained-CTE pipeline
    (one CTE pair per iteration), possible because weights are rounded
    to 8dp after every update so cross-engine partial-sum
    reassociation (~1e-13) cannot compound."""
    from pubg_data_pipeline_spark.operators import ml

    docs = _docs(spark, sf_dir)
    cols = text_stats_columns(F.col("text"))
    # Materialize the tiny feature projection once: the trainer scans
    # it once per iteration and must not re-run the regex/tokenizer
    # pipeline 7 times (same eager-localCheckpoint rationale as
    # train_bpe's vocab).
    feats = docs.select(
        (F.least(cols["n_tokens"].cast("double"), F.lit(200.0)) / F.lit(200.0)).alias(
            "x1"
        ),
        cols["stop_ratio"].alias("x2"),
        cols["punct_ratio"].alias("x3"),
        (cols["quality"] >= 0.6).cast("double").alias("y"),
    )
    feats = barrier(feats, site="llm:calibration_feats", eager=True)
    fx = [F.col("x1"), F.col("x2"), F.col("x3")]
    w = ml.train_logistic(feats, fx, F.col("y"), iterations=24, lr=4.0, round_dp=8)
    acc = ml.train_accuracy(feats, w, fx, F.col("y"))
    rows = [(f"w{j}", round(wj, 6)) for j, wj in enumerate(w)]
    rows.append(("train_accuracy", acc))
    return spark.createDataFrame(rows, "term string, value double")


def _trained_model_sql(iterations: int = 24, lr: float = 4.0) -> str:
    """The training run as a DuckDB program: feature CTE, then one
    (gradient, weights) CTE pair per iteration, then the final report.

    Every chained CTE is AS MATERIALIZED: with default inlining each
    reference re-expands its whole ancestry, so a 24-round chain
    becomes O(2^24) scans of the parquet (observed as an fd-exhaustion
    blowup); materialization keeps the oracle linear in iterations —
    which is also exactly the semantics the Spark side has (one job
    per round against materialized features)."""
    z = "(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
    err = f"(1.0 / (1.0 + exp(-{z})) - y)"
    prefix = rf"""
WITH t AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x IN ({_STOPS}))) AS stop_hits,
         length(regexp_replace(text, '{_PUNCT_CLASS_SQL}', '', 'g')) * 1.0
           / GREATEST(length(text), 1) AS praw
  FROM documents
), feat AS MATERIALIZED (
  SELECT LEAST(CAST(n_tokens AS DOUBLE), 200.0) / 200.0 AS x1,
         stop_hits * 1.0 / GREATEST(n_tokens, 1) AS x2,
         praw AS x3,
         CAST(ROUND((LEAST(n_tokens / 100.0, 1.0)
                   + LEAST(stop_hits * 1.0 / GREATEST(n_tokens, 1) * 4, 1.0)
                   + (1.0 - LEAST(praw * 10, 1.0))) / 3.0, 6) >= 0.6
              AS DOUBLE) AS y
  FROM t
), w0_t AS (
  SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
         CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3
)"""
    parts = [prefix]
    for k in range(1, iterations + 1):
        parts.append(
            f""", g{k} AS MATERIALIZED (
  SELECT COUNT(*) AS n,
         SUM({err}) AS g0,
         SUM({err} * x1) AS g1,
         SUM({err} * x2) AS g2,
         SUM({err} * x3) AS g3
  FROM feat CROSS JOIN w{k - 1}_t w
), w{k}_t AS MATERIALIZED (
  SELECT ROUND(w.w0 - {lr} * g.g0 / g.n, 8) AS w0,
         ROUND(w.w1 - {lr} * g.g1 / g.n, 8) AS w1,
         ROUND(w.w2 - {lr} * g.g2 / g.n, 8) AS w2,
         ROUND(w.w3 - {lr} * g.g3 / g.n, 8) AS w3
  FROM w{k - 1}_t w CROSS JOIN g{k} g
)"""
        )
    parts.append(
        f"""
SELECT 'w0' AS term, ROUND(w0, 6) AS value FROM w{iterations}_t
UNION ALL SELECT 'w1', ROUND(w1, 6) FROM w{iterations}_t
UNION ALL SELECT 'w2', ROUND(w2, 6) FROM w{iterations}_t
UNION ALL SELECT 'w3', ROUND(w3, 6) FROM w{iterations}_t
UNION ALL
SELECT 'train_accuracy',
       ROUND(AVG(CAST((ROUND({z}, 6) >= 0) = (y = 1.0) AS DOUBLE)), 6)
FROM feat CROSS JOIN w{iterations}_t w
"""
    )
    return "".join(parts)


SPECS = [
    QuerySpec(
        "doc_quality_trained_model",
        doc_quality_trained_model,
        _trained_model_sql(),
        ("llm", "curation", "ml"),
    ),
    QuerySpec(
        "embedding_hard_negatives", embedding_hard_negatives, _HARD_NEG_SQL, ("llm", "ann")
    ),
    QuerySpec(
        "doc_winnowing_fingerprints", doc_winnowing_fingerprints, _WINNOWING_SQL, ("llm", "text", "dedup")
    ),
    QuerySpec("doc_duplicate_spans", doc_duplicate_spans, _DUP_SPANS_SQL, ("llm", "dedup")),
    QuerySpec("doc_corpus_despanned", doc_corpus_despanned, _DESPANNED_SQL, ("llm", "dedup")),
    QuerySpec("doc_exact_dedup", doc_exact_dedup, _EXACT_DEDUP_SQL, ("llm", "dedup")),
    QuerySpec("corpus_curation_pipeline", corpus_curation_pipeline, _CURATION_SQL, ("llm", "pipeline")),
    QuerySpec("doc_token_counts", doc_token_counts, _TOKEN_COUNTS_SQL, ("llm", "text")),
    QuerySpec(
        "doc_token_counts_arrow", doc_token_counts_arrow, _TOKEN_COUNTS_SQL, ("llm", "text", "arrow")
    ),
    QuerySpec("doc_rolling_fingerprints", doc_rolling_fingerprints, _ROLLING_FP_SQL, ("llm", "text")),
    QuerySpec("embedding_cosine_near_dups", embedding_cosine_near_dups, _COSINE_DUPS_SQL, ("llm", "dedup")),
    QuerySpec("doc_embedding_profile", doc_embedding_profile, _DOC_EMB_SQL, ("llm", "join")),
    QuerySpec("doc_text_stats", doc_text_stats, _TEXT_STATS_SQL, ("llm", "text")),
    QuerySpec(
        "doc_quality_model_score", doc_quality_model_score, _MODEL_SCORE_SQL, ("llm", "text")
    ),
    QuerySpec("doc_lang_id", doc_lang_id, _LANG_SQL, ("llm", "text")),
    QuerySpec("doc_ngram_jaccard_pairs", doc_ngram_jaccard_pairs, _JACCARD_SQL, ("llm", "dedup")),
    QuerySpec("doc_prefix_jaccard_pairs", doc_prefix_jaccard_pairs, _JACCARD_PREFIX_SQL, ("llm", "dedup")),
    QuerySpec("doc_overlap_coeff_pairs", doc_overlap_coeff_pairs, _OVERLAP_COEFF_SQL, ("llm", "dedup")),
    QuerySpec("embedding_random_projection", embedding_random_projection, _rp_oracle_sql(), ("llm", "similarity")),
    QuerySpec("embedding_covariance", embedding_covariance, _COVARIANCE_SQL, ("llm", "similarity")),
    QuerySpec("embedding_pca_diagnostics", embedding_pca_diagnostics, None, ("llm", "similarity")),
    QuerySpec("embedding_mmr_rerank", embedding_mmr_rerank, _mmr_oracle_sql(), ("llm", "similarity", "udf")),
    QuerySpec("embedding_ann_recall", embedding_ann_recall, None, ("llm", "similarity", "eval")),
    QuerySpec("minhash_dedup_recall", minhash_dedup_recall, None, ("llm", "dedup", "eval")),
    QuerySpec("quality_lang_bias_auc", quality_lang_bias_auc, _LANG_BIAS_AUC_SQL, ("llm", "quality", "eval")),
    QuerySpec("quality_model_calibration", quality_model_calibration, _CALIBRATION_SQL, ("llm", "quality", "eval")),
    QuerySpec("quality_rater_agreement", quality_rater_agreement, _KAPPA_SQL, ("llm", "quality", "eval")),
    QuerySpec(
        "quality_token_budget_sample",
        quality_token_budget_sample,
        _TOKEN_BUDGET_SQL,
        ("llm", "quality", "curation"),
    ),
    QuerySpec(
        "doc_ngram_jaccard_pairs_capped",
        doc_ngram_jaccard_pairs_capped,
        _JACCARD_CAPPED_SQL,
        ("llm", "dedup"),
    ),
    QuerySpec("embedding_topk_cosine", embedding_topk_cosine, _TOPK_SQL, ("llm", "ann")),
    QuerySpec(
        "embedding_incremental_topk", embedding_incremental_topk, _TOPK_SQL, ("llm", "ann", "incremental")
    ),
    QuerySpec("minhash_near_dups", minhash_near_dups, None, ("llm", "dedup")),
    QuerySpec("simhash_near_dups", simhash_near_dups, None, ("llm", "dedup")),
    QuerySpec("embedding_lsh_topk", embedding_lsh_topk, None, ("llm", "ann")),
    QuerySpec("embedding_ml_lsh_topk", embedding_ml_lsh_topk, None, ("llm", "ann")),
    QuerySpec("embedding_ivf_topk", embedding_ivf_topk, None, ("llm", "ann")),
    QuerySpec(
        "embedding_ivf_balanced_topk", embedding_ivf_balanced_topk, None, ("llm", "ann")
    ),
    QuerySpec("embedding_ivfpq_topk", embedding_ivfpq_topk, None, ("llm", "ann")),
    QuerySpec("embedding_ivf_index_topk", embedding_ivf_index_topk, None, ("llm", "ann", "io")),
    QuerySpec(
        "incremental_ingest_dedup",
        incremental_ingest_dedup,
        _INCREMENTAL_INGEST_SQL,
        ("llm", "dedup", "io"),
    ),
    QuerySpec(
        "incremental_neardup_ingest",
        incremental_neardup_ingest,
        None,
        ("llm", "dedup", "io"),
    ),
]
