"""Cluster-closure dedup queries: near-dup pairs → connected
components → canonical corpus, plus embedding-space (SemDeDup-style)
dedup.

Completes the dedup story the pairwise operators start: the reference
pipeline has no dedup beyond alert suppression (reference:
monitoring/alert_manager.py:83-94), and pairs alone under-delete when
duplicates chain (A~B, B~C, A!~C). The DuckDB oracles close the same
pair sets with a recursive transitive-closure CTE and min-over-
reachable — O(cluster²) per cluster, fine at oracle scale; the Spark
side uses the O(log d)-round distributed algorithm
(operators/graph.py) that holds at 100 TB.

Determinism: pair sets come from the already-oracle-checked exact
Jaccard / rounded-cosine operators (threshold compares on ROUNDED
values per plans/base.py), and cluster ids are min member ids — no
hashes, no RNG, no ordering sensitivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators import dedup, graph
from pubg_data_pipeline_spark.operators.ckpt import checkpoint
from pubg_data_pipeline_spark.plans.base import QuerySpec, dataset_cache_tag
from pubg_data_pipeline_spark.session import artifact
from pubg_data_pipeline_spark.sources.tables import load_table


def _neardup_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 0.02-threshold df-capped Jaccard pair table, materialized
    ONCE per session per dataset and shared by every graph metric
    (triangles, clustering coefficients, PageRank). This is the
    derived-artifact design a 100 TB deployment uses: the near-dup
    edge list is built by one job and the whole graph-analytics suite
    runs off the materialized table instead of re-running the shingle
    pipeline per metric. Cache keys include source mtime/size
    (plans.base.dataset_cache_tag) so a regenerated dataset can never
    serve stale pairs; the eager checkpoint bounds the plan the same
    way the graph operators already do."""
    return artifact(
        spark,
        "t02:" + dataset_cache_tag(sf_dir, "documents"),
        lambda: checkpoint(dedup.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            "text", "doc_id", shingle_n=3, threshold=0.02, max_doc_freq=8,
        ))[0],
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact word-3-gram Jaccard pair set (same parameters as the
    oracle-checked `doc_ngram_jaccard_pairs`), materialized once per
    session per dataset and shared by the three closure queries
    (clusters / deduped corpus / quality keeper) — same derived-
    artifact rationale and mtime keying as _neardup_pairs_cached."""
    return artifact(
        spark,
        "t05:" + dataset_cache_tag(sf_dir, "documents"),
        lambda: checkpoint(dedup.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            "text", "doc_id", shingle_n=3, threshold=0.05,
        ))[0],
    )


def _components_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (node, component) transitive closure of `_jaccard_pairs`,
    materialized once per session per dataset: the iterative CC is the
    expensive half of every closure query (clusters / deduped corpus /
    quality keeper / leakage-safe split), so it's a shared derived
    artifact exactly like the pair table it closes — at 100 TB both
    would be written out once and every downstream consumer reads the
    table. Same mtime/size cache key discipline. No extra barrier: the
    closure already comes back as a local relation (driver-labeled
    graphs) or backed by the loop's final labels checkpoint."""
    return artifact(
        spark,
        "cc05:" + dataset_cache_tag(sf_dir, "documents"),
        lambda: graph.connected_components(
            _jaccard_pairs(spark, sf_dir), src="id_a", dst="id_b"
        ),
    )


# Shared oracle prelude: the pair set (verbatim from _JACCARD_SQL in
# llm_queries.py), symmetrized into an undirected edge list, closed
# into components by recursive reachability, labeled min-reachable-id.
_CLOSURE_PRELUDE = r"""
WITH RECURSIVE toks AS (
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
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
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
)
"""


def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters of the document corpus: exact 3-gram Jaccard
    pairs (threshold 0.05) closed under transitivity. One row per
    multi-member cluster: canonical keeper id (= min member), member
    count, max member."""
    return graph.dedup_clusters(
        _jaccard_pairs(spark, sf_dir), components=_components_cached(spark, sf_dir)
    )


_CLUSTERS_SQL = _CLOSURE_PRELUDE + """
SELECT component AS cluster_id,
       COUNT(*) AS n_members,
       MAX(node) AS max_member
FROM comp GROUP BY component
"""


def doc_corpus_after_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduped corpus itself: drop every doc that sits in a
    near-dup cluster but is not the cluster's min-id keeper, then
    per-language survivor stats. This is the materialization step a
    100 TB curation run ships — anti-join against the (small) loser
    set, broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    kept = graph.deduped_corpus(
        docs,
        _jaccard_pairs(spark, sf_dir),
        "doc_id",
        components=_components_cached(spark, sf_dir),
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("n_chars").alias("total_chars"),
    )


_AFTER_DEDUP_SQL = _CLOSURE_PRELUDE + """
, losers AS (
  SELECT node AS doc_id FROM comp WHERE node != component
)
SELECT lang,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY lang
"""


def doc_corpus_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-keeper variant of the corpus dedup: within each near-dup
    cluster keep the LONGEST document (n_chars as the quality proxy;
    ties -> min doc_id), not the min-id member — the policy a real
    curation run ships (operators/graph.py:deduped_corpus_by_quality).
    Same per-language survivor stats as doc_corpus_after_dedup so the
    two policies are directly comparable."""
    docs = load_table(spark, sf_dir, "documents")
    kept = graph.deduped_corpus_by_quality(
        docs,
        _jaccard_pairs(spark, sf_dir),
        "doc_id",
        "n_chars",
        components=_components_cached(spark, sf_dir),
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("n_chars").alias("total_chars"),
    )


_KEEP_BEST_SQL = _CLOSURE_PRELUDE + """
, members AS (
  SELECT comp.node, comp.component, d.n_chars
  FROM comp JOIN documents d ON d.doc_id = comp.node
), losers AS (
  SELECT node AS doc_id FROM (
    SELECT node,
           ROW_NUMBER() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, node ASC) AS rn
    FROM members
  ) WHERE rn > 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY lang
"""


def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-space dedup (Abbas et al. 2023,
    arXiv:2303.09540): within each cluster (the `label` column stands
    in for the k-means assignment — operators/similarity.py:ivf_top_k
    trains real cells), remove any vector with a LOWER-id neighbor at
    cosine >= 0.45. Per-label reduction stats.

    The within-cluster pair join is the whole point of the method: at
    100 TB the O(n²) cosine comparison happens only inside clusters
    (n/k rows each), shuffled on the cluster key — never corpus-wide.
    Vectors are L2-normalized per ROW before the join, so the per-PAIR
    work is one dot product instead of dot + two norm recomputations
    (the naive cosine-in-join-condition form folds all three array
    folds into the join predicate — 3× the flops on the n² side)."""
    from pubg_data_pipeline_spark.functions.vectors import as_double_vec, dot

    emb = load_table(spark, sf_dir, "embeddings")
    # Round-robin spread, NOT hash-by-label: the cell count can be far
    # below the core count (10 labels here), so hash-partitioning on
    # the block key collapses the O(n²/k) pair generation onto <= k
    # tasks (observed: the whole scoring stage ran as ONE task while 31
    # cores idled). The planner still blocks the join on `label`
    # (broadcast at this size, shuffle on label at cluster scale); the
    # round-robin pass only guarantees the probe side enters it evenly
    # spread (optimization guide §2.5 — synthetic keys with too few
    # distinct values).
    raw = emb.repartition(spark.sparkContext.defaultParallelism).select(
        "label", "vec_id", as_double_vec(F.col("embedding")).alias("e")
    )
    # Materialize the norm as a named column BEFORE the transform
    # lambda and keep a Filter between the two projections: an
    # aggregate fold inlined into a higher-order-function lambda is
    # re-evaluated per element (see functions/text.py:_ngram_array).
    with_norm = raw.select(
        "label", "vec_id", "e", F.sqrt(dot(F.col("e"), F.col("e"), 64)).alias("nrm")
    )
    v = with_norm.filter(F.col("nrm") > 0.0).select(
        "label",
        "vec_id",
        F.transform("e", lambda x: x / F.col("nrm")).alias("u"),
    )
    a = v.select("label", F.col("vec_id").alias("id_a"), F.col("u").alias("ua"))
    b = v.select("label", F.col("vec_id").alias("id_b"), F.col("u").alias("ub"))
    pairs = a.join(b, ["label"]).filter(F.col("id_a") < F.col("id_b"))
    dup = pairs.filter(
        F.round(dot(F.col("ua"), F.col("ub"), 64), 6) >= 0.45
    )
    removed = dup.select("label", F.col("id_b").alias("vec_id")).distinct()
    n_rem = removed.groupBy("label").agg(F.count(F.lit(1)).alias("n_removed"))
    tot = v.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    out = tot.join(n_rem, "label", "left")
    return out.select(
        "label",
        "n_vecs",
        F.coalesce(F.col("n_removed"), F.lit(0).cast("long")).alias("n_removed"),
        (F.col("n_vecs") - F.coalesce(F.col("n_removed"), F.lit(0))).alias("n_kept"),
    )


_SEMANTIC_SQL = """
WITH e0 AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), v AS (
  SELECT label, vec_id, list_transform(e, x -> x / nrm) AS u
  FROM e0 WHERE nrm > 0.0
), dup AS (
  SELECT a.label, b.vec_id
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.u, b.u), 6) >= 0.45
  GROUP BY a.label, b.vec_id
), n_rem AS (
  SELECT label, COUNT(*) AS n_removed FROM dup GROUP BY label
), tot AS (
  SELECT label, COUNT(*) AS n_vecs FROM v GROUP BY label
)
SELECT tot.label, n_vecs,
       COALESCE(n_removed, 0) AS n_removed,
       n_vecs - COALESCE(n_removed, 0) AS n_kept
FROM tot LEFT JOIN n_rem ON tot.label = n_rem.label
"""


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles of the near-dup graph (word-3-gram Jaccard >= 0.02
    over the df-capped shingle universe): doc triples where all three
    pairwise similarities clear the threshold — the density signal
    that separates true duplicate cliques from chance shingle
    collisions. operators/graph.triangles counts a pair table within
    its edge bound on the driver and a larger one with the
    degree-oriented wedge join (O(m^1.5) candidates bound), the same
    orientation on both paths; the pair generation itself is the
    capped inverted-index plan, never O(n²)."""
    pairs = _neardup_pairs_cached(spark, sf_dir)
    return graph.triangles(pairs, src="id_a", dst="id_b")


_TRIANGLES_SQL = r"""
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
  SELECT doc_id, shingle FROM ex_all QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 8
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.02
)
SELECT p1.id_a AS id_a, p1.id_b AS id_b, p2.id_b AS id_c
FROM pairs p1
JOIN pairs p2 ON p1.id_b = p2.id_a
JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
"""


def neardup_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the near-dup graph
    (operators/graph.clustering_coefficients on the same capped
    0.02-threshold pair set as `neardup_triangles`): coefficient ~1.0
    marks true duplicate cliques, ~0.0 marks chance-collision stars —
    the per-document density score behind cluster-quality triage."""
    pairs = _neardup_pairs_cached(spark, sf_dir)
    return graph.clustering_coefficients(pairs, src="id_a", dst="id_b")


_CLUSTERING_SQL = r"""
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
  SELECT doc_id, shingle FROM ex_all QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 8
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.02
), und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), deg AS (
  SELECT u AS node, COUNT(*) AS degree FROM und GROUP BY u
), tri AS (
  SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
  FROM pairs p1
  JOIN pairs p2 ON p1.id_b = p2.id_a
  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
), tn AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT deg.node, degree,
       COALESCE(n_triangles, 0) AS n_triangles,
       CASE WHEN degree >= 2
            THEN ROUND(COALESCE(n_triangles, 0) * 2.0 / (degree * (degree - 1)), 4)
            ELSE 0.0 END AS clustering_coef
FROM deg LEFT JOIN tn ON deg.node = tn.node
"""


def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the same capped 0.02-threshold near-dup
    graph as `neardup_triangles`: high-rank members are the canonical
    representatives of dense duplicate cliques
    (operators/graph.pagerank, 5 fixed iterations, damping 0.85).
    Rank sums are rounded to 6dp — neighbor-contribution addition
    order is the only cross-engine difference (noise ~1e-15)."""
    pairs = _neardup_pairs_cached(spark, sf_dir)
    out = graph.pagerank(pairs, src="id_a", dst="id_b", iterations=5, damping=0.85)
    return out.select(F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank"))


def _pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    prefix = r"""
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
  SELECT doc_id, shingle FROM ex_all QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 8
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.02
), und AS (
  SELECT id_a AS u, id_b AS v FROM pairs WHERE id_a <> id_b
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs WHERE id_a <> id_b
), deg AS (
  SELECT u AS node, COUNT(*) AS degree FROM und GROUP BY u
), nn AS (
  SELECT COUNT(*) AS n FROM deg
), r0 AS (
  SELECT node, 1.0 / nn.n AS rank FROM deg, nn
)"""
    parts = [prefix]
    for k in range(1, iterations + 1):
        parts.append(
            f""", c{k} AS (
  SELECT e.v AS node, SUM(r.rank / dg.degree) AS c
  FROM und e
  JOIN r{k - 1} r ON r.node = e.u
  JOIN deg dg ON dg.node = e.u
  GROUP BY e.v
), r{k} AS (
  SELECT d.node,
         (1.0 - {damping}) / nn.n + {damping} * COALESCE(c{k}.c, 0.0) AS rank
  FROM deg d CROSS JOIN nn LEFT JOIN c{k} ON c{k}.node = d.node
)"""
        )
    parts.append(
        f"""
SELECT node AS doc_id, ROUND(rank, 6) AS rank FROM r{iterations}
"""
    )
    return "".join(parts)


def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is assigned per
    NEAR-DUP CLUSTER, not per document, so two near-duplicates can
    never straddle the train/eval boundary (the classic eval-
    contamination failure of per-document hash splits — a paraphrase
    of a test document sitting in train). Clusters are the transitive
    closure of the exact word-3-gram Jaccard pairs (threshold 0.05 —
    the same oracle-checked pair set as `doc_dup_clusters`); a
    singleton doc is its own cluster. The bucket is a multiplicative
    hash of the cluster id (exact BIGINT arithmetic both engines;
    cluster_id < 2^31 keeps the product < 2^63, no ANSI overflow) —
    deterministic, engine-portable, and uniform enough for an 80/10/10
    cut.

    Scale: the cluster table is |docs-in-any-pair| rows (orders below
    the corpus), built once by the O(log d) distributed closure and
    LEFT-joined back broadcast-style; everything else is one map-side
    projection per row. Output: one row per document with its cluster
    and split — the per-doc assignment a shuffled dataset write keys
    on."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _components_cached(spark, sf_dir).withColumnRenamed("node", "doc_id")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    bucket = F.pmod(cluster * F.lit(2654435761) + F.lit(97), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id", cluster.alias("cluster_id"), split.alias("split")
    )


_LEAKAGE_SPLIT_SQL = _CLOSURE_PRELUDE + """
, labeled AS (
  SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN (cluster_id * 2654435761 + 97) % 100 < 80 THEN 'train'
            WHEN (cluster_id * 2654435761 + 97) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM labeled
"""


def doc_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates, keep
    every document and down-weight it by 1/cluster_size (SoftDedup-
    style sample reweighting — He et al. 2024; common in pipelines
    that would rather dilute boilerplate than lose coverage). Each
    near-dup cluster contributes exactly one document's worth of
    sampling mass, so the weighted corpus equals the hard-deduped one
    in expectation while retaining every surface form.

    Clusters are the same oracle-checked Jaccard closure as
    `doc_dup_clusters` (shared `_components_cached` artifact);
    singletons get weight 1. Scale shape: the component table is
    orders smaller than the corpus and joins back broadcast; the
    cluster-size aggregate is over that small table, never the
    corpus. Output: per-doc weight + cluster size — the sampling
    weights a training-shuffle write keys on."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _components_cached(spark, sf_dir).withColumnRenamed("node", "doc_id")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("__csize"))
    cluster_size = F.coalesce(F.col("__csize"), F.lit(1).cast("bigint"))
    return (
        docs.join(F.broadcast(comp), "doc_id", "left")
        .join(F.broadcast(sizes), "component", "left")
        .select(
            "doc_id",
            cluster_size.alias("cluster_size"),
            F.round(F.lit(1.0) / cluster_size, 6).alias("weight"),
        )
    )


_SOFTDEDUP_SQL = _CLOSURE_PRELUDE + """
, csize AS (
  SELECT component, COUNT(*) AS csize FROM comp GROUP BY component
)
SELECT d.doc_id,
       CAST(COALESCE(cs.csize, 1) AS BIGINT) AS cluster_size,
       ROUND(1.0 / COALESCE(cs.csize, 1), 6) AS weight
FROM documents d
LEFT JOIN comp ON comp.node = d.doc_id
LEFT JOIN csize cs ON cs.component = comp.component
"""


def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: how many clusters of size 2,
    3, 4... the corpus contains (singletons counted from the doc total
    minus clustered docs) — the first chart a dedup tuning session
    reads: a fat tail of giant clusters means boilerplate is stitching
    unrelated docs together (threshold too low / df-cap too loose);
    all-pairs-of-2 means the threshold is conservative.

    Reuses the shared materialized CC closure (`_components_cached`);
    the histogram is two aggregates over the component table, which is
    orders smaller than the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _components_cached(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__nd"))
    clustered = comp.agg(F.count(F.lit(1)).alias("__nc"))
    singletons = (
        n_docs.crossJoin(F.broadcast(clustered))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("__nd") - F.col("__nc")).alias("n_clusters"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return hist.unionByName(singletons)


_CLUSTER_HIST_SQL = _CLOSURE_PRELUDE + """
, csizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
), hist AS (
  SELECT cluster_size, COUNT(*) AS n_clusters FROM csizes GROUP BY cluster_size
), singles AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp)
           AS n_clusters
)
SELECT * FROM hist
UNION ALL SELECT * FROM singles WHERE n_clusters > 0
"""


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity report: near-dup pair count and
    number of affected documents at each candidate Jaccard threshold,
    from ONE pass over the shared materialized pair table (built once
    at the lowest threshold 0.02 / df-cap 8 — `_neardup_pairs_cached`).
    This is the tuning curve a curation run reads before committing a
    threshold: where the pair count elbows is where boilerplate stops
    and real duplication starts. Costs 5 tiny aggregates over the
    cached edge list, never a shingle re-scan."""
    pairs = _neardup_pairs_cached(spark, sf_dir)
    thresholds = [0.02, 0.05, 0.1, 0.2, 0.4]
    sweep = pairs.select(
        F.explode(F.array(*[F.lit(t) for t in thresholds])).alias("threshold"),
        F.round("jaccard", 6).alias("j"),
        "id_a",
        "id_b",
    ).filter(F.col("j") >= F.col("threshold"))
    ids = sweep.select(
        "threshold", F.explode(F.array("id_a", "id_b")).alias("doc_id")
    )
    return ids.groupBy("threshold").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.countDistinct("doc_id").alias("n_docs_affected"),
    )


_THRESHOLD_SWEEP_SQL = r"""
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
  SELECT doc_id, shingle FROM ex_all QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 8
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b,
         ROUND(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.02
), t(threshold) AS (SELECT CAST(x AS DOUBLE) FROM (VALUES (0.02), (0.05), (0.1), (0.2), (0.4)) v(x)),
ids AS (
  SELECT t.threshold, p.id_a AS doc_id FROM pairs p JOIN t ON p.j >= t.threshold
  UNION ALL
  SELECT t.threshold, p.id_b FROM pairs p JOIN t ON p.j >= t.threshold
)
SELECT threshold,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_pairs,
       COUNT(DISTINCT doc_id) AS n_docs_affected
FROM ids GROUP BY threshold
"""


def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction over embeddings: for EVERY vector, its
    top-3 cosine neighbors WITHIN its cell (`label` stands in for the
    IVF/k-means assignment, as in embedding_semantic_dedup), plus a
    mutual-edge flag — the substrate for kNN-graph clustering,
    diversity sampling, and graph-based dedup.

    Scale shape: the pair join is blocked on the cell key (never
    corpus-wide O(n²)), vectors are L2-normalized per ROW before the
    join so per-pair work is one fold, the per-vector top-3 is a
    rank-filter window Catalyst executes as WindowGroupLimit (partial
    top-k before the shuffle), and the mutual marking is a self-join
    of the already-k-bounded edge list (≤ k·n rows, equi-join on the
    edge key). Ranking is on the ROUNDED similarity with an id
    tie-break so ordering is reproducible cross-engine."""
    from pyspark.sql import Window

    from pubg_data_pipeline_spark.functions.vectors import as_double_vec, dot

    emb = load_table(spark, sf_dir, "embeddings")
    # Round-robin spread, NOT hash-by-label: the cell count can be far
    # below the core count (10 labels here), so hash-partitioning on
    # the block key collapses the O(n²/k) pair generation onto <= k
    # tasks (observed: the whole scoring stage ran as ONE task while 31
    # cores idled). The planner still blocks the join on `label`
    # (broadcast at this size, shuffle on label at cluster scale); the
    # round-robin pass only guarantees the probe side enters it evenly
    # spread (optimization guide §2.5 — synthetic keys with too few
    # distinct values).
    raw = emb.repartition(spark.sparkContext.defaultParallelism).select(
        "label", "vec_id", as_double_vec(F.col("embedding")).alias("e")
    )
    with_norm = raw.select(
        "label", "vec_id", "e", F.sqrt(dot(F.col("e"), F.col("e"), 64)).alias("nrm")
    )
    v = with_norm.filter(F.col("nrm") > 0.0).select(
        "label", "vec_id", F.transform("e", lambda x: x / F.col("nrm")).alias("u")
    )
    a = v.select("label", F.col("vec_id").alias("id_a"), F.col("u").alias("ua"))
    b = v.select("label", F.col("vec_id").alias("id_b"), F.col("u").alias("ub"))
    scored = (
        a.join(b, ["label"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.round(dot(F.col("ua"), F.col("ub"), 64), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    edges = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    rev = edges.select(
        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), F.lit(1).alias("m")
    )
    return (
        edges.join(rev, ["id_a", "id_b"], "left")
        .select(
            F.col("id_a").alias("vec_id"),
            F.col("id_b").alias("neighbor_id"),
            F.col("rnk").alias("rank"),
            "cos_sim",
            F.coalesce(F.col("m"), F.lit(0)).alias("mutual"),
        )
    )


_KNN_GRAPH_SQL = """
WITH e0 AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), v AS (
  SELECT label, vec_id, list_transform(e, x -> x / nrm) AS u
  FROM e0 WHERE nrm > 0.0
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.u, b.u), 6) AS cos_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id != b.vec_id
), edges AS (
  SELECT * FROM (
    SELECT id_a, id_b, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS rnk
    FROM scored
  ) WHERE rnk <= 3
)
SELECT e.id_a AS vec_id, e.id_b AS neighbor_id, e.rnk AS rank, e.cos_sim,
       CASE WHEN r.id_a IS NOT NULL THEN 1 ELSE 0 END AS mutual
FROM edges e LEFT JOIN edges r ON r.id_a = e.id_b AND r.id_b = e.id_a
"""


SPECS = [
    QuerySpec(
        "embedding_knn_graph",
        embedding_knn_graph,
        _KNN_GRAPH_SQL,
        ("llm", "graph", "vector", "ann"),
    ),
    QuerySpec(
        "doc_leakage_safe_split",
        doc_leakage_safe_split,
        _LEAKAGE_SPLIT_SQL,
        ("llm", "dedup", "graph", "curation"),
    ),
    QuerySpec(
        "doc_softdedup_weights",
        doc_softdedup_weights,
        _SOFTDEDUP_SQL,
        ("llm", "dedup", "graph", "curation"),
    ),
    QuerySpec(
        "dup_cluster_size_histogram",
        dup_cluster_size_histogram,
        _CLUSTER_HIST_SQL,
        ("llm", "dedup", "graph", "eval"),
    ),
    QuerySpec(
        "dedup_threshold_sweep",
        dedup_threshold_sweep,
        _THRESHOLD_SWEEP_SQL,
        ("llm", "dedup", "eval"),
    ),
    QuerySpec(
        "neardup_pagerank", neardup_pagerank, _pagerank_sql(), ("llm", "graph", "dedup")
    ),
    QuerySpec("doc_dup_clusters", doc_dup_clusters, _CLUSTERS_SQL, ("llm", "dedup", "graph")),
    QuerySpec("neardup_triangles", neardup_triangles, _TRIANGLES_SQL, ("llm", "dedup", "graph")),
    QuerySpec(
        "neardup_clustering_coefficients",
        neardup_clustering_coefficients,
        _CLUSTERING_SQL,
        ("llm", "dedup", "graph"),
    ),
    QuerySpec(
        "doc_corpus_after_dedup", doc_corpus_after_dedup, _AFTER_DEDUP_SQL, ("llm", "dedup", "graph")
    ),
    QuerySpec(
        "doc_corpus_keep_best", doc_corpus_keep_best, _KEEP_BEST_SQL, ("llm", "dedup", "graph")
    ),
    QuerySpec(
        "embedding_semantic_dedup", embedding_semantic_dedup, _SEMANTIC_SQL, ("llm", "dedup", "vector")
    ),
]
