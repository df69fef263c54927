"""Similarity search over embedding columns (LLM-pipeline extension).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set against the corpus — one pass, no shuffle of the corpus,
fully JVM-side via functions.vectors. The scale path is random
hyperplane LSH: bucket both sides by sign-bit sketches, join on
bucket, exact re-rank within buckets — recall<1 but corpus-side cost
drops from O(n·q) to O(collisions).

At 100 TB you would additionally partition the corpus by bucket at
write time so the probe join is partition-pruned.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.functions.vectors import (
    _UNROLL_MAX_DIM,
    as_double_vec,
    cosine,
    dot,
)
from pubg_data_pipeline_spark.operators.ckpt import checkpoint
from pubg_data_pipeline_spark.session import artifact


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan arrives with fewer
    splits than the session parallelism — the synthetic single-row-
    group parquet scans as ONE partition, which would serialize every
    downstream map stage. A real pre-split table (any sanely-written
    100 TB corpus) passes through UNTOUCHED: an unconditional
    repartition here would shuffle the whole corpus for zero
    algorithmic benefit (the broadcast-join parallelism already comes
    from the scan splits)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def _empty_topk(corpus: DataFrame, queries: DataFrame, id_col: str) -> DataFrame:
    """Zero-row (query_id, neighbor_id, cos_sim, rank) frame with the
    id types of the inputs — what every top-k entry point returns for
    an EMPTY corpus instead of crashing plan analysis (an empty center
    list renders _cell_ranking's literal as array<void>)."""
    return (
        queries.select(F.col(id_col).alias("query_id"))
        .limit(0)
        .crossJoin(corpus.select(F.col(id_col).alias("neighbor_id")).limit(0))
        .withColumn("cos_sim", F.lit(0.0))
        .withColumn("rank", F.lit(1))
    )


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, neighbor_id, cos_sim, rank). Ties broken by
    neighbor id for determinism; with ``round_digits`` the similarity
    is rounded BEFORE ranking so near-tie float noise can't reorder
    results across engines. Self-matches excluded. ``dim`` (when the
    caller knows the static dimension) switches the per-pair cosine to
    the unrolled codegen fold — bit-identical values (same fold order,
    see functions/vectors.py:dot), ~10× faster on large scans.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
    )
    sim = cosine(F.col("qv"), F.col("cv"), dim)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG-based, no
    numpy dependency at plan-build time)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / nrm for x in v])
    return planes


def ml_euclidean_lsh_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_hash_tables: int = 3,
    bucket_length: float = 2.0,
    max_distance: float = 8.0,
    seed: int = 42,
) -> DataFrame:
    """Approximate nearest neighbors via Spark ML's
    BucketedRandomProjectionLSH (Euclidean-distance LSH) — the
    pyspark.ml path SURVEY.md §4.3 names for similarity at scale,
    complementing the cosine sign-bit LSH above. Returns
    (query_id, neighbor_id, dist, rank), nearest first.

    Note the metric difference: this family buckets by Euclidean
    distance; for unit-normalized embeddings the top-k agree with
    cosine ranking (dist² = 2 - 2·cos)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    def prep(df, name):
        return df.select(
            F.col(id_col).alias(name),
            array_to_vector(as_double_vec(F.col(vec_col))).alias("features"),
        )

    c = prep(_spread(corpus), "neighbor_id")
    q = prep(queries, "query_id")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(c)
    joined = model.approxSimilarityJoin(q, c, max_distance, distCol="dist")
    scored = joined.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        "dist",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def _index_artifact(corpus: DataFrame, cache_key: str | None, key: tuple, build):
    """``build()`` memoized on the corpus's session under ``key`` when
    the caller names the corpus with ``cache_key``; built every call
    otherwise. Index artifacts (trained centers and codebooks, the
    cell-assigned and PQ-coded corpus) are BUILD-ONCE: real ANN
    deployments train offline and serve many queries per build, and
    keying on an explicit caller-provided token keeps the memo honest
    (no guessing whether two DataFrames are "the same corpus")."""
    return artifact(
        corpus.sparkSession, None if cache_key is None else (cache_key, *key), build
    )


def _d2_expr(center: Column, v: Column, dim: int | None = None) -> Column:
    """Squared Euclidean distance between two array<double> columns —
    pure JVM expression, no MLlib transform and no Python in the
    serving path. With ``dim`` (always known when the centers came
    from a trainer — it's their own length) the fold unrolls into
    element accesses + multiply-adds; same left fold from 0.0,
    bit-identical distances.

    Pass ``dim`` ONLY from top-level (whole-stage-codegen) contexts,
    capped at vectors._UNROLL_MAX_DIM like dot(). Inside a
    higher-order-function lambda (``_cell_ranking``'s transform, the
    PQ code/LUT builders) the body is evaluated INTERPRETED per
    element, where walking the ~6·dim-node unrolled tree is ~3× SLOWER
    than the specialized primitive loops behind zip_with/aggregate
    (measured 86 s → 283 s on the 1M-vector probe's assignment) —
    those callers must keep the fold."""
    if dim is not None and dim <= _UNROLL_MAX_DIM:
        acc = F.lit(0.0)
        for k in range(dim):
            d = F.get(v, k) - F.get(center, k)
            acc = acc + d * d
        # Size guard, same contract as vectors.dot: a vector LONGER
        # than dim must yield NULL (fail-visible), never a silently
        # truncated prefix distance. Shorter vectors are already NULL
        # via F.get's out-of-range NULL.
        return F.when((F.size(v) == dim) & (F.size(center) == dim), acc)
    diffs = F.zip_with(v, center, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _cell_ranking(centers: list, v: Column) -> Column:
    """Cells sorted nearest-first for vector column v. struct(d2, cell):
    array_sort's natural struct ordering sorts by distance first, cell
    id as tie-break — deterministic, and the same expression serves
    both corpus assignment (argmin = element 1) and query probing
    (slice nprobe).

    The centroid matrix enters the plan as ONE nested-array literal
    scanned with ``transform`` rather than nlist unrolled
    per-centroid sub-trees: the unrolled form costs O(nlist*dim) py4j
    calls to BUILD (measured ~6 s of pure driver time per IVF-PQ plan
    at nlist*ksub=64 codebooks) while the literal+transform form is
    O(1) calls and evaluates identically JVM-side."""
    m = F.lit([[float(x) for x in ctr] for ctr in centers])
    return F.array_sort(
        F.transform(
            m,
            lambda ctr, i: F.struct(
                # fold, NOT unrolled: this lambda body runs interpreted
                # per center — see _d2_expr's contract
                _d2_expr(ctr, v).alias("d2"), i.alias("cell")
            ),
        )
    )


def _l2_normalized(df: DataFrame, vcol: str, dim: int | None = None) -> DataFrame:
    """Unit-normalize a vector column per row (zero vectors dropped) so
    downstream cosine is a single dot product per pair."""
    with_norm = df.withColumn("__n", F.sqrt(dot(F.col(vcol), F.col(vcol), dim)))
    return (
        with_norm.filter(F.col("__n") > 0.0)
        .withColumn(vcol, F.transform(vcol, lambda x: x / F.col("__n")))
        .drop("__n")
    )


def _ivf_probe_and_rerank(
    assigned: DataFrame,
    queries: DataFrame,
    centers: list,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Shared IVF serving path: probe-cell selection per query, equi-join
    on cell against the assigned (cell, neighbor_id, cv-normalized)
    corpus, exact cosine re-rank in the probed cells. ``assigned`` may
    be an in-memory frame (ivf_top_k) or a cell-partitioned parquet
    scan (ivf_index_top_k) — in the latter case the broadcast probe
    join triggers dynamic partition pruning, so only probed cell
    directories are read."""
    # normalize BEFORE cell ranking: the centers live in the
    # L2-normalized space (the quantizer trains and assigns on unit
    # vectors — cosine geometry), so ranking cells with a raw-norm
    # query would probe the wrong cells entirely on non-unit corpora.
    dim = len(centers[0]) if centers else None
    q = _l2_normalized(
        queries.select(
            F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
        ),
        "qv",
        dim,
    )
    probes = q.withColumn(
        "probe", F.explode(F.slice(_cell_ranking(centers, F.col("qv")), 1, nprobe))
    ).select("query_id", "qv", F.col("probe.cell").alias("cell"))
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", dot(F.col("qv"), F.col("cv"), dim))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
) -> list:
    """Materialize an IVF index ON STORAGE: the corpus is assigned to
    its nearest k-means cell, L2-normalized once, and written as
    parquet PARTITIONED BY cell; the trained centers (index metadata,
    nlist x dim floats) land beside it as a tiny parquet. This is the
    100 TB layout the in-memory ``ivf_top_k`` docstring promises:
    probing becomes an equi-join against a scan that reads ONLY the
    probed cell directories (dynamic partition pruning — asserted in
    tests/test_llm_ops.py). Returns the centers."""
    # L2-normalize BEFORE training/assignment: the serving metric is
    # cosine, so the quantizer must partition the unit sphere — cells
    # trained on raw norms put a query's true cosine neighbors in
    # distant raw-space cells (total recall collapse on non-unit
    # corpora; the Faiss IP/cosine discipline).
    c = _l2_normalized(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
        ),
        "cv",
    )
    centers = train_ivf_centers(c, nlist, seed)
    if not centers:  # empty corpus: write an empty but well-formed index
        assigned = c.withColumn("cell", F.lit(0))
    else:
        assigned = c.withColumn("cell", _cell_ranking(centers, F.col("cv"))[0]["cell"])
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/cells")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, ctr) for i, ctr in enumerate(centers)], "cell int, center array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centers")
    return centers


def ivf_index_top_k(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Serve approximate cosine top-k from a persisted IVF index
    (``write_ivf_index``). Centers are collected once (kilobytes of
    metadata) into literal expressions; the cell-partitioned corpus is
    scanned with the broadcast probe join pruning to the probed cell
    directories — at 100 TB with nprobe/nlist = 1/4, three quarters of
    the corpus is never read."""
    centers = [
        row["center"]
        for row in spark.read.parquet(f"{path}/centers").orderBy("cell").collect()
    ]
    if not centers:
        # index built from an empty corpus — its cells/ dir has no part
        # files to even infer a schema from
        return _empty_topk(queries, queries, id_col)
    assigned = spark.read.parquet(f"{path}/cells")
    return _ivf_probe_and_rerank(assigned, queries, centers, id_col, vec_col, k, nprobe)


def train_ivf_centers(
    corpus_vecs: DataFrame, nlist: int, seed: int = 42
) -> list:
    """K-means coarse quantizer for an IVF index, trained on a
    deterministic hash-sample (~1/8) with random init and few
    iterations: a coarse quantizer does not need tight convergence or
    the full corpus — cells only gate which fraction gets exactly
    re-ranked, and at 100 TB you NEVER run k-means|| over the whole
    corpus (each init round + iteration is a full corpus pass;
    Faiss-style practice is a small training sample). Returns plain
    center arrays (index metadata, kilobytes)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus_vecs.filter(
        F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(8)) == 0
    ).withColumn("features", array_to_vector(F.col("cv")))
    # Degenerate-input guards: the k-means fit crashes when the
    # training set holds fewer DISTINCT points than k (tiny corpora, or
    # highly repetitive embeddings where the 1/8 sample collapses).
    # distinct().limit(nlist).count() early-exits at nlist rows, so
    # both probes cost O(nlist) regardless of corpus size: first widen
    # a too-small sample to the full corpus, then clamp k to the
    # distinct count actually available (fewer cells, same semantics).
    distinct_n = train.select("cv").distinct().limit(nlist).count()
    if distinct_n < nlist:
        # Widen to the full corpus ONLY when the sample itself is tiny
        # (small corpus — widening is cheap and recovers distinct
        # points the 1/8 hash sample missed). A LARGE sample that is
        # still distinct-poor means the corpus is genuinely repetitive:
        # the sample already carries all the information, so clamp k
        # to it rather than paying the full-corpus k-means this
        # docstring forbids at 100 TB (~6 whole-corpus passes).
        sample_rows = train.limit(100_000).count()
        if sample_rows < 100_000:
            train = corpus_vecs.withColumn("features", array_to_vector(F.col("cv")))
            distinct_n = train.select("cv").distinct().limit(nlist).count()
    if distinct_n <= 1:
        # MLlib KMeans rejects k=1; a corpus with one distinct point
        # (or empty) needs no quantizer — its single point IS the center.
        one = train.select("cv").limit(1).collect()
        return [list(map(float, one[0][0]))] if one else []
    model = KMeans(
        k=max(2, min(nlist, distinct_n)),
        seed=seed,
        maxIter=5,
        initMode="random",
        featuresCol="features",
        predictionCol="cell",
    ).fit(train)
    return [list(map(float, ctr)) for ctr in model.clusterCenters()]


def train_ivf_centers_balanced(
    corpus_vecs: DataFrame,
    nlist: int,
    seed: int = 42,
    capacity_factor: float = 2.0,
    max_rounds: int = 3,
) -> list:
    """Skew-resistant coarse quantizer: plain k-means on a CLUSTERED
    corpus (the common case — near-dup families, one dominant domain)
    can dump most vectors into a few giant cells, so the probe join
    reads a large corpus fraction for most queries and nprobe tail
    latency is the fattest cell, not N/nlist. This refinement measures
    ACTUAL cell occupancy and SPLITS every cell holding more than
    ``capacity_factor * N / nlist`` vectors by re-running k-means over
    just that cell's members (k = the cell's overflow multiple),
    replacing the one fat center with the sub-centers — the
    hierarchical split used by IMI/Faiss-style quantizers, expressed
    as bounded driver rounds.

    Cost model at scale: each round is one corpus assignment pass
    (persisted for the round, released after), one nlist-row count
    aggregate, and k-means fits touching ONLY oversized-cell members;
    centers remain kilobytes of metadata. The returned list may exceed
    ``nlist`` (by at most ~N/capacity): probing code is unchanged —
    more, tighter cells just give _cell_ranking more resolution and
    bound what an nprobe scan can touch. Deterministic given the data:
    fixed seeds, hash-sampled training, occupancy from exact counts.
    Convergence to all-cells-under-capacity is property-tested in
    tests/test_llm_ops.py; duplicate-heavy corpora where one POINT
    exceeds capacity stop splitting when a split no longer helps."""
    import math

    n_total = corpus_vecs.count()
    if n_total == 0:
        return []
    capacity = max(1, math.ceil(capacity_factor * n_total / nlist))
    centers = train_ivf_centers(corpus_vecs, nlist, seed)
    for _ in range(max_rounds):
        assigned = corpus_vecs.withColumn(
            "cell", _cell_ranking(centers, F.col("cv"))[0]["cell"]
        ).persist()
        try:
            sizes = {r["cell"]: r["n"] for r in assigned.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n")).collect()}
            fat = sorted(c for c, s in sizes.items() if s > capacity)
            if not fat:
                break
            kept = [ctr for i, ctr in enumerate(centers) if i not in set(fat)]
            new = []
            for cell in fat:
                members = assigned.filter(F.col("cell") == cell).select("neighbor_id", "cv")
                sub_k = min(int(math.ceil(sizes[cell] / capacity)) + 1, 2 * nlist)
                new.extend(train_ivf_centers(members, sub_k, seed + 1 + cell))
            # A split that produced no extra resolution (e.g. the cell
            # is one duplicated point — sub-k-means collapses to a
            # single distinct center) cannot make progress; keep the
            # result and stop rather than loop to max_rounds for free.
            made_progress = len(kept) + len(new) > len(centers)
            centers = kept + new
            if not made_progress:
                break
        finally:
            assigned.unpersist()
    return centers


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    cache_key: str | None = None,
    balanced: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index:
    k-means coarse quantizer → corpus partitioned into ``nlist``
    cells → each query probes its ``nprobe`` nearest cells → exact
    cosine re-rank inside the probed cells.

    The centroid table is index METADATA, carried into the plan as
    literal expressions: cell assignment (argmin distance-to-center)
    and probe selection are pure JVM codegen — no MLlib transform in
    the serving path, and with ``cache_key`` set the training job
    itself runs once per session (index build is offline in any real
    ANN system; the probe path is what scales per-query). Corpus and
    query vectors are L2-normalized once per ROW so the in-cell
    re-rank is a single dot product per candidate pair. At 100 TB the
    probe join is an equi-join on cell id hitting storage partitioned
    by cell. Recall is tuned by nprobe/nlist; checked against
    brute_force_top_k in property tests (no SQL oracle — k-means is
    not expressible)."""
    # L2-normalize BEFORE training/assignment — cosine serving needs
    # the quantizer to partition the unit sphere; cells trained on raw
    # norms route queries away from their true cosine neighbors on any
    # non-unit-norm corpus (see write_ivf_index).
    c = _l2_normalized(
        _spread(corpus).select(
            F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
        ),
        "cv",
        dim,
    )
    key = (nlist, seed, dim, balanced)
    train = train_ivf_centers_balanced if balanced else train_ivf_centers
    centers = _index_artifact(
        corpus, cache_key, ("ivf_centers", *key), lambda: train(c, nlist, seed)
    )
    if not centers:
        return _empty_topk(corpus, queries, id_col)
    # The assigned table is a DERIVED INDEX ARTIFACT (like the PQ codes
    # table): with cache_key set it is materialized once per (session,
    # dataset) and every query serves from the checkpointed column.
    # This matters doubly since the cosine fix: ranking cells over the
    # normalize EXPRESSION inlines the transform into every center's
    # distance lambda (measured 5x serving cost vs ranking over a
    # materialized column — the winnowing inlining lesson); the
    # checkpoint restores plain attribute references.
    def _assign() -> DataFrame:
        assigned = c.withColumn("cell", _cell_ranking(centers, F.col("cv"))[0]["cell"])
        return assigned if cache_key is None else checkpoint(assigned)[0]

    assigned = _index_artifact(corpus, cache_key, ("ivf_assigned", *key), _assign)
    return _ivf_probe_and_rerank(assigned, queries, centers, id_col, vec_col, k, nprobe)


def lsh_bucketed_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: sign-bit LSH bucket join + exact
    re-rank inside buckets. Vectors agreeing on all ``n_planes`` sign
    bits land in one bucket; corpus is scanned once to compute sketch
    keys, then joined to queries on the bucket key."""
    planes = _hyperplanes(dim, n_planes, seed)

    def sketch(v):
        bits = []
        for p in planes:
            plane = F.array(*[F.lit(x) for x in p])
            bits.append(F.when(dot(v, plane, dim) >= 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double_vec(F.col(vec_col)).alias("cv"),
    ).withColumn("bucket", sketch(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("qv"),
    ).withColumn("bucket", sketch(F.col("qv")))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv"), dim))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------- IVF-PQ

def train_pq_codebooks(
    corpus_vecs: DataFrame, dim: int, m: int, ksub: int, seed: int = 42
) -> list:
    """Per-subspace k-means codebooks for product quantization: split
    the vector into ``m`` contiguous subvectors of dim/m, fit ``ksub``
    centroids in each subspace on the same deterministic hash-sample
    policy as the IVF coarse quantizer (codebooks are index METADATA —
    never a full-corpus job at 100 TB). Returns
    ``books[m][ksub][dim//m]`` plain float lists.

    Train on the vectors exactly as they will be encoded (here:
    L2-normalized), or the codebook distributions won't match the
    code-assignment inputs."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dsub = dim // m
    sample = corpus_vecs.filter(
        F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(8)) == 0
    )
    if sample.limit(ksub).count() < ksub:
        sample = corpus_vecs
    sample = sample.persist()
    try:
        books = []
        for j in range(m):
            sub = sample.select(
                F.slice("cv", j * dsub + 1, dsub).alias("sv")
            ).withColumn("features", array_to_vector(F.col("sv")))
            # same degenerate-input guard as train_ivf_centers: k-means
            # needs >= k distinct points; clamp k to what exists, and a
            # single-distinct-point subspace (MLlib rejects k=1) IS its
            # own one-entry codebook.
            distinct_n = sub.select("sv").distinct().limit(ksub).count()
            if distinct_n <= 1:
                one = sub.select("sv").limit(1).collect()
                books.append(
                    [list(map(float, one[0][0]))] if one else [[0.0] * dsub]
                )
                continue
            model = KMeans(
                k=max(2, min(ksub, distinct_n)),
                seed=seed + j,
                maxIter=5,
                initMode="random",
                featuresCol="features",
                predictionCol="code",
            ).fit(sub)
            books.append([list(map(float, ctr)) for ctr in model.clusterCenters()])
        return books
    finally:
        sample.unpersist()


def pq_codes(books: list, v: Column) -> Column:
    """PQ code for vector column ``v``: array<int> of per-subspace
    argmin-distance codebook indices. The whole codebook enters the
    plan as ONE 3-D literal scanned with nested ``transform`` — all
    JVM-side, no Python per row, and O(1) py4j calls to build the
    expression (the unrolled per-centroid form cost seconds of pure
    driver time per plan). This is the one-off compression pass a
    100 TB corpus pays to shrink each vector to m small ints."""
    dsub = len(books[0][0])

    def _argmin_code(book: list, sub: Column) -> Column:
        ranked = F.array_sort(
            F.transform(
                F.lit([[float(x) for x in c] for c in book]),
                lambda c, i: F.struct(_d2_expr(c, sub).alias("d2"), i.alias("code")),
            )
        )
        return ranked[0]["code"]

    return F.array(
        *[
            _argmin_code(book, F.slice(v, j * dsub + 1, dsub))
            for j, book in enumerate(books)
        ]
    )


def _pq_luts(books: list, qv: Column) -> Column:
    """Per-query ADC lookup tables: luts[j][c] = squared distance from
    the query's j-th subvector to codebook centroid c. m*ksub scalar
    expressions per query row — built once per query, reused across
    every candidate in the scan."""
    dsub = len(books[0][0])

    def _book_lut(book: list, sub: Column) -> Column:
        return F.transform(
            F.lit([[float(x) for x in c] for c in book]),
            lambda c: _d2_expr(c, sub),
        )

    return F.array(
        *[
            _book_lut(book, F.slice(qv, j * dsub + 1, dsub))
            for j, book in enumerate(books)
        ]
    )


def ivfpq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ksub: int = 16,
    refine: int = 4,
    seed: int = 42,
    cache_key: str | None = None,
) -> DataFrame:
    """Faiss-style IVF-PQ approximate cosine top-k — the architecture
    that scales ANN past what raw-vector scans allow: a coarse k-means
    quantizer routes each query to ``nprobe`` of ``nlist`` cells, and
    inside the probed cells candidates are scored from their PQ CODES
    ONLY (asymmetric distance: sum of m per-subspace LUT entries), so
    the scan reads m ints per vector instead of dim floats — a
    16-64x byte reduction that is the difference between an in-memory
    scan and a disk-bound one at 100 TB. The ``refine * k`` best
    candidates per query by ADC are then re-ranked EXACTLY by joining
    the full-vector table on id — the standard two-stage recall
    repair.

    The candidate scan deliberately carries only (cell, neighbor_id,
    codes): full vectors re-enter the plan ONLY for the refine set,
    mirroring the on-storage split (codes hot, vectors cold) a real
    deployment uses. Cosine ordering: all vectors are L2-normalized,
    so ascending squared-L2 ADC == descending approximate cosine.

    No SQL oracle (two k-means stages); recall and the
    duplicate-vector guarantee are property-tested against
    brute_force_top_k."""
    if dim % m != 0:
        # Faiss raises on d % m != 0 for the same reason: dsub = dim//m
        # slices would silently DROP the last dim % m components from
        # every code and every ADC LUT — vectors differing only in the
        # tail dims become indistinguishable to the shortlist.
        raise ValueError(f"ivfpq_top_k: m={m} must divide dim={dim}")
    # normalized BEFORE coarse training/assignment (cosine geometry —
    # see ivf_top_k) AND before PQ, keeping quantizer, codebooks, and
    # codes all in the same unit-sphere space.
    c = _l2_normalized(
        _spread(corpus).select(
            F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
        ),
        "cv",
        dim,
    )
    centers = _index_artifact(
        corpus, cache_key, ("ivf_centers", nlist, seed, dim),
        lambda: train_ivf_centers(c, nlist, seed),
    )
    if not centers:
        return _empty_topk(corpus, queries, id_col)
    vectors = c.withColumn("cell", _cell_ranking(centers, F.col("cv"))[0]["cell"])
    bkey = (nlist, m, ksub, seed, dim)
    books = _index_artifact(
        corpus, cache_key, ("pq_books", *bkey),
        lambda: train_pq_codebooks(vectors.select("neighbor_id", "cv"), dim, m, ksub, seed),
    )

    # the 100 TB shape: codes table narrow/hot, vector table wide/cold
    # (the in-memory twin of a persisted IVF-PQ index's two storage
    # tiers). Both are DERIVED INDEX ARTIFACTS of a static corpus
    # (built once at index time, like write_ivf_index's on-disk
    # layout), so with a cache_key they are materialized once per
    # (session, dataset) and every subsequent query pays only probe +
    # ADC scan + re-rank — never corpus re-normalization / re-encoding.
    def _index() -> tuple[DataFrame, DataFrame]:
        codes = vectors.select(
            "cell", "neighbor_id", pq_codes(books, F.col("cv")).alias("codes")
        )
        if cache_key is None:
            return vectors, codes
        return checkpoint(vectors)[0], checkpoint(codes)[0]

    vectors, codes = _index_artifact(corpus, cache_key, ("pq_index", *bkey), _index)
    # normalize BEFORE cell ranking and LUT building — centers and
    # codebooks live in the normalized space (see ivf_top_k)
    q = _l2_normalized(
        queries.select(
            F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
        ),
        "qv",
        dim,
    )
    probes = q.withColumn(
        "probe", F.explode(F.slice(_cell_ranking(centers, F.col("qv")), 1, nprobe))
    ).select("query_id", "qv", F.col("probe.cell").alias("cell")).withColumn(
        "__lut", _pq_luts(books, F.col("qv"))
    )
    adc = F.aggregate(
        F.zip_with(F.col("__lut"), F.col("codes"), lambda l, c_: F.element_at(l, c_ + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_d2", adc)
        .withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= k * refine)
        .select("query_id", "qv", "neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.join(vectors.select("neighbor_id", "cv"), "neighbor_id")
        .withColumn("cos_sim", dot(F.col("qv"), F.col("cv"), dim))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def merge_topk_states(*states: DataFrame, k: int = 5) -> DataFrame:
    """Merge per-batch top-k search results into the global top-k:
    union then re-rank per query. Top-k is a MERGEABLE aggregate
    (top-k of a union == top-k of per-part top-ks), so a continuously
    growing corpus never needs re-scoring against history — each new
    batch contributes its own k candidates per query and this merge
    keeps the winners. State per query is k rows, forever.

    (The incremental-top-k maintenance pattern of interactive
    similarity-search systems, e.g. EDBT'20 "Incremental Based
    Framework for Efficient Top-K Similarity Search"; here it is the
    streaming twin of ``brute_force_top_k``.)"""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    # a neighbor may appear in several states (replayed epoch, vector
    # re-emitted across batches): collapse to one row per (query,
    # neighbor) first, or duplicates would occupy multiple ranks —
    # this is also what makes the epoch merge replay-IDEMPOTENT
    out = out.groupBy("query_id", "neighbor_id").agg(F.max("cos_sim").alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        out.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("__r").alias("rank"))
    )


def mmr_rerank(
    scored_pairs: DataFrame, lam: float = 0.7, k: int = 5
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified rerank (Carbonell &
    Goldstein, SIGIR'98): greedily pick candidates maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_already_selected`` —
    the standard dedup-at-serving-time step a retrieval pipeline runs
    so the k results aren't k near-copies of the same document.

    Input: one row per ordered candidate pair within a query,
    ``(query_id, cid, rel, b, s)`` — candidate ``cid`` with relevance
    ``rel`` and its similarity ``s`` to co-candidate ``b``. Both
    ``rel`` and ``s`` should be pre-rounded by the caller so the
    greedy argmax is engine-reproducible. ``b`` may be NULL (left-join
    a 1-candidate shortlist so it still ranks); a missing (cid, b)
    pair is treated as similarity 0 (fully diverse) rather than a
    worker error, so callers may prune low-sim pairs. Output:
    ``(query_id, vec_id, mmr_rank, mmr_score)``, score unrounded
    (callers round).

    Scale split: this operator is the CHEAP end of retrieve-wide /
    rerank-small — each query's group is the candidate shortlist
    (tens of rows, one Arrow batch), the greedy is O(k * n_cand) in
    that batch, and queries parallelize across tasks by query_id. The
    expensive distributed part (the top-N candidate scan) stays in
    brute_force_top_k / ivf_top_k. Greedy selection is inherently
    sequential per query (each pick changes the next score), which is
    why this is an applyInPandas extension point, not a Column tree.

    Determinism: ties on score break to the LOWEST cid (ascending
    scan, strict >), matching an ORDER BY score DESC, cid LIMIT 1
    oracle; the score arithmetic is two IEEE ops on caller-rounded
    doubles, bit-identical across engines.
    """

    def _greedy(pdf):
        import pandas as pd

        rel = {}
        sim = {}
        for row in pdf.itertuples(index=False):
            rel[row.cid] = row.rel
            # a candidate may arrive with no co-candidate rows (b NULL
            # from a left join, e.g. a 1-candidate shortlist) — keep
            # its relevance, record no pair
            if row.b is not None and not pd.isna(row.b):
                sim[(row.cid, row.b)] = row.s
        remaining = sorted(rel)
        selected: list = []
        out = []
        qid = pdf["query_id"].iloc[0]
        for rank in range(1, min(k, len(remaining)) + 1):
            best_cid, best_score = None, None
            for cid in remaining:
                if selected:
                    # a missing (cid, selected) pair means the caller
                    # pruned it — treat as fully diverse (sim 0), not
                    # a worker KeyError
                    div = max(
                        (sim[(cid, s)] for s in selected if (cid, s) in sim),
                        default=0.0,
                    )
                    score = lam * rel[cid] - (1.0 - lam) * div
                else:
                    score = lam * rel[cid]
                if best_score is None or score > best_score:
                    best_cid, best_score = cid, score
            selected.append(best_cid)
            remaining.remove(best_cid)
            out.append((qid, best_cid, rank, best_score))
        return pd.DataFrame(
            out, columns=["query_id", "vec_id", "mmr_rank", "mmr_score"]
        )

    return scored_pairs.groupBy("query_id").applyInPandas(
        _greedy, "query_id long, vec_id long, mmr_rank int, mmr_score double"
    )
