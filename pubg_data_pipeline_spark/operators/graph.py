"""Distributed connected components over an edge list.

The reference has no graph operator at all; its dedup story stops at
"alert was already sent" set membership (reference:
monitoring/alert_manager.py:83-94). A corpus dedup pipeline needs the
next step: near-dup PAIRS (MinHash/SimHash/Jaccard candidates from
operators/dedup.py) must be closed into CLUSTERS so one canonical
document per duplicate group survives — pairs alone under-delete
(A~B, B~C but A!~C still means keep only one of {A,B,C}).

Algorithm: iterative min-label propagation with pointer DOUBLING
("hash-to-min", Rastogi et al. 2012, "Finding Connected Components in
Map-Reduce in Logarithmic Rounds"). Each round every node takes the
min component id over itself and its neighbors (fused into one
aggregate via per-node self-edges), then shortcuts through its
component pointer TWICE (label(label(label(n)))) — doubling cuts
chain depth ~4x per round, giving O(log d) rounds on diameter-d
components instead of O(d) for plain neighbor flooding.

Small graphs: every operator here (connected components, triangles,
clustering coefficients, PageRank) cuts its edge projection once and
hands it to :func:`_collect_bounded`. An edge list of at most
``_DRIVER_MAX_EDGES`` rows (about 8 MB of Arrow) comes back whole and
is labeled, counted or ranked on the driver with numpy and pyarrow:
one bounded collect instead of several scheduled jobs per round or
join. The bound is on the edge count alone, never on cores or
configuration; larger graphs run the Spark plans below.

Scale notes (100 TB): above the bound each round is one join+aggregate
on the node id plus two pointer self-joins, all over the *node/edge*
tables — no per-component serialization point, no driver-side graph.
Rounds localCheckpoint their result: iterative self-joins otherwise
double the Catalyst plan every round (analysis time goes exponential)
and replay the whole lineage on failure. Dedup graphs converge in 2-4
rounds (components are near-cliques of duplicates, diameter ~1-2).
The loop runs under the session's own settings (AQE on) and writes
no session conf.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# DataFrame.unpersist() is a NO-OP for localCheckpoint blocks (they
# are registered at the RDD layer, not the Dataset cache manager —
# verified: the persistent-RDD count is unchanged after
# df.unpersist()), so superseded per-round checkpoints must be
# released through the block manager's own registry or they
# accumulate for the process lifetime. ckpt.checkpoint returns the
# ids each checkpoint registered for exactly that release.
from pubg_data_pipeline_spark.operators.ckpt import checkpoint, release_rdds

#: Edge lists of at most this many rows are collected and labeled on
#: the driver (two id columns, about 8 MB of Arrow for longs). The
#: bound depends on the edge count alone, so the path a graph takes
#: does not change with the core count.
_DRIVER_MAX_EDGES = 500_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id in the node's connected
    component — a deterministic canonical cluster id.

    Edges are treated as undirected; self-loops and duplicates are
    fine (they collapse in the symmetrize-distinct step). A NULL
    endpoint is not a node: the edge adds only its non-null end.

    Edge lists of at most ``_DRIVER_MAX_EDGES`` rows are labeled on
    the driver (one bounded collect, see :func:`_driver_components`);
    larger ones run the distributed loop.

    Rounds truncate lineage through :func:`ckpt.checkpoint`:
    executor-local blocks by default, or reliable checkpoints into
    ``SPARK_GRAFT_CHECKPOINT_DIR`` on a real cluster (executor-loss
    tolerant, at the cost of one distributed write per round).
    """

    spark = edges.sparkSession

    # Materialize the raw edge projection EAGERLY before symmetrizing:
    # union(e, e.swapped) duplicates the entire upstream subtree in the
    # logical plan, so an expensive pair-generation pipeline (shingle
    # explode + 3 aggregates for the Jaccard case) would be analyzed
    # and executed twice — measured 2x the whole-query cost at sf0.1.
    # After the checkpoint the collect or the union reads cached blocks.
    e0, e0_ids = checkpoint(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    small = _collect_bounded(e0)
    if small is not None:
        release_rdds(spark, e0_ids)
        return _local_frame(spark, _driver_components(small))

    # Symmetrize, then append one SELF-EDGE (n, n) per node: the
    # per-round neighbor-min over this table sees the node's own
    # label through its self-edge, so a round is ONE join + ONE
    # aggregate — the former least(own, nbr) LEFT JOIN against the
    # labels and the separate singleton-node union branch both fold
    # into the aggregate (guide §2.4: two exchanges per round
    # removed). Self-loop-only nodes ride the same self-edge path
    # and keep their singleton component.
    sym = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        e0.select("a").union(e0.select(F.col("b").alias("a"))).distinct()
    )
    # Partition by "b" — the loop's only join against e keys on b
    # (labels renamed node->b), so the edge side never reshuffles
    # inside the loop; AQE sizes the width from the data.
    e, e_ids = checkpoint(
        sym.unionByName(nodes.select("a", F.col("a").alias("b"))).repartition("b")
    )
    # Initialize at least(node, min_neighbor) — the first half of a
    # propagation round folded into the init aggregate (the
    # self-edge makes min(b) include the node itself). Dup graphs
    # are near-cliques, and a clique is already at fixpoint after
    # this, so the loop's first round detects convergence
    # immediately (one full round saved on the dominant shape).
    init = e.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("comp"))
    # Convergence detection: labels only ever decrease. For NUMERIC
    # ids sum(comp) is strictly monotone until fixpoint — two equal
    # consecutive sums mean no label moved, one tiny aggregation per
    # round (which doubles as the action materializing the round's
    # checkpoint); decimal(38,0) keeps it exact under ANSI at any id
    # scale. Non-numeric ids (string doc keys) cannot be cast — ANSI
    # throws, and legacy NULL sums would fake instant convergence —
    # so they use an exact changed-row probe against the previous
    # labels (limit(1) short-circuits; one small join per round).
    labels, labels_ids = checkpoint(init, eager=False)
    numeric_comp = dict(labels.dtypes)["comp"] in (
        "tinyint", "smallint", "int", "bigint",
    ) or dict(labels.dtypes)["comp"].startswith("decimal")

    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    # Seed the convergence detector with the INIT labels' sum,
    # riding the very action that materializes the init checkpoint:
    # labels are monotone non-increasing, so round-1 sum == init sum
    # proves round 1 moved nothing and init was already the fixpoint.
    if numeric_comp:
        prev_sum = _label_sum(labels)
    else:
        prev_sum = None
        labels.count()  # materialize the lazy init checkpoint
    # e0 fed sym, nodes and e; dead weight once e materializes —
    # release its blocks so repeated CC calls in one session don't
    # accumulate checkpoint storage.
    release_rdds(spark, e0_ids)

    def _jump(frame: DataFrame) -> DataFrame:
        """comp'(n) = comp(comp(n)) — one pointer-jump shortcut.
        comp is always some node's id and every node carries a
        label, so the left join's coalesce is pure safety."""
        ptr = frame.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        return frame.join(ptr, "comp", "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("comp2"), F.col("comp"))
            ).alias("comp"),
        )

    for _ in range(max_iter):
        # 1. neighbor min fused with self: the self-edge contributes
        # the node's own label, so this single aggregate IS
        # least(comp(n), min_{m in N(n)} comp(m)) over every node.
        stepped = (
            e.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("comp"))
        )
        # 2. POINTER DOUBLING: two jump passes per round (quarters
        # chain depth per round instead of halving it). Each jump
        # references its input twice (self-join); persisting the
        # input makes the diamond compute once — AQE in Spark 4.1.2
        # never emits ReusedExchange for duplicated subtrees (round-8
        # probes), and the two exchanges hash different columns so
        # even static planning cannot share them. Plain persist (not
        # localCheckpoint) keeps lineage intact, so reliable-
        # checkpoint deployments stay executor-loss recoverable and
        # the blocks are releasable via the Dataset cache manager.
        stepped.persist()
        j1 = _jump(stepped)
        j1.persist()
        jumped, jumped_ids = checkpoint(_jump(j1), eager=False)
        if numeric_comp:
            cur_sum = _label_sum(jumped)
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = (
                jumped.join(
                    labels.select("node", F.col("comp").alias("__prev")), "node"
                )
                .filter(F.col("comp") != F.col("__prev"))
                .limit(1)
                .count()
                == 0
            )
        # the action above materialized `jumped`; the round's
        # intermediates and the superseded labels are now dead —
        # release before rebinding (the final round's checkpoint
        # blocks back the returned frame and stay)
        stepped.unpersist()
        j1.unpersist()
        release_rdds(spark, labels_ids)
        labels, labels_ids = jumped, jumped_ids
        if converged:
            break
    # only the final labels blocks back the returned frame; the edge
    # table is loop-internal
    release_rdds(spark, e_ids)
    return labels.select("node", F.col("comp").alias("component"))


def _collect_bounded(frame: DataFrame) -> pa.Table | None:
    """All of ``frame`` as Arrow when it has at most
    ``_DRIVER_MAX_EDGES`` rows, else None. One bounded collect decides
    a graph operator's path: a table within the bound is the whole
    graph, so the driver can finish it; the ``+ 1`` row is what tells
    a table at the bound from one above it."""
    tbl = frame.limit(_DRIVER_MAX_EDGES + 1).toArrow()
    return tbl if tbl.num_rows <= _DRIVER_MAX_EDGES else None


def _local_frame(spark: SparkSession, tbl: pa.Table) -> DataFrame:
    """A driver-side result as a DataFrame, column types read off the
    Arrow types (ids keep the type they were collected with).

    A local relation of many small rows is slow to scan, since each row
    is serialized into its task one by one: 392k three-long rows took
    about 1 s to reach a noop sink on 4 cores. So the columns travel as
    one row of arrays per default-parallelism slot, and
    ``inline(arrays_zip(...))`` unpacks them in the tasks (0.15 s for
    the same rows)."""
    k = spark.sparkContext.defaultParallelism
    offsets = pa.array([tbl.num_rows * i // k for i in range(k + 1)], pa.int32())
    packed = pa.table({
        name: pa.ListArray.from_arrays(offsets, col.combine_chunks())
        for name, col in zip(tbl.column_names, tbl.columns)
    })
    return spark.createDataFrame(packed).select(F.inline(F.arrays_zip(*tbl.column_names)))


def _dense_edges(tbl: pa.Table) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """Map a collected two-column edge table to dense node indices.

    Returns the distinct non-null ids in sorted order, and the two
    ends (int64 indices into those ids) of every edge whose ends are
    both non-null. Index order is id order for longs, strings and
    decimals alike, so the smallest index names the smallest id and an
    index comparison is an id comparison."""
    a, b = tbl.column(0), tbl.column(1)
    ids = pa.chunked_array(a.chunks + b.chunks, type=a.type).drop_null()
    uniq = pc.unique(ids)
    uniq = uniq.take(pc.sort_indices(uniq))
    ia = pc.index_in(a, value_set=uniq)
    ib = pc.index_in(b, value_set=uniq)
    both = pc.and_(pc.is_valid(ia), pc.is_valid(ib))
    u = ia.filter(both).to_numpy().astype(np.int64)
    v = ib.filter(both).to_numpy().astype(np.int64)
    return uniq, u, v


def _driver_components(tbl: pa.Table) -> pa.Table:
    """Label a collected ``(a, b)`` edge table on the driver.

    Nodes are the dense indices of :func:`_dense_edges`, so the
    minimum index of a component names its minimum id. Labels start at
    the own index; each round takes the neighbor minimum in both edge
    directions (``np.minimum.at``) and then shortcuts every label
    through its pointer until the labels stop moving. Labels only
    decrease, so the loop ends; at the fixpoint both ends of every
    edge agree and every label is its component's minimum index."""
    uniq, u, v = _dense_edges(tbl)
    lab = np.arange(len(uniq))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, u, lab[v])
        np.minimum.at(nxt, v, lab[u])
        nxt = nxt[nxt]
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return pa.table({"node": uniq, "component": uniq.take(pa.array(lab))})


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Close near-dup pairs into clusters: (cluster_id, n_members,
    max_member). ``cluster_id`` = min member id = the canonical keeper
    under the keep-lowest-id policy (the same deterministic policy as
    ``dedup.exact_text_dedup``). Singletons (docs in no pair) are not
    emitted — they are trivially their own keeper.

    ``components``: pass a precomputed (node, component) closure of the
    SAME pair set to skip the iterative CC — the expensive half of
    every closure consumer, so pipelines running several of them share
    one materialized closure (same derived-artifact pattern as the
    pair table itself)."""
    comp = (
        components
        if components is not None
        else connected_components(pairs, src=id_a, dst=id_b)
    )
    return comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


def deduped_corpus_by_quality(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Cluster dedup keeping the BEST-quality member per near-dup
    cluster (ties broken by min id) — what a real curation run wants:
    when a boilerplate-stripped page and its raw twin collide, keep
    the higher-quality one, not the lower doc id. One window over the
    (tiny) membership table picks keepers; the corpus-side removal is
    the same broadcast anti-join as ``deduped_corpus``. ``components``
    as in :func:`dedup_clusters`."""
    from pyspark.sql import Window

    comp = (
        components
        if components is not None
        else connected_components(pairs, src=id_a, dst=id_b)
    )
    members = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(quality_col).alias("__q")), "node"
    )
    w = Window.partitionBy("component").orderBy(F.col("__q").desc(), F.col("node").asc())
    losers = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(F.col("node").alias(id_col))
    )
    return df.join(F.broadcast(losers), id_col, "left_anti")


def deduped_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Apply cluster dedup to the corpus: drop every row whose id sits
    in a near-dup cluster but is not the cluster's minimum. One
    broadcast-able join against the (small) non-keeper set — at 100 TB
    the removal list is |duplicates|, orders below |corpus|.
    ``components`` as in :func:`dedup_clusters`."""
    comp = (
        components
        if components is not None
        else connected_components(pairs, src=id_a, dst=id_b)
    )
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(F.broadcast(losers), id_col, "left_anti")


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """All triangles in an undirected graph, one row per triangle with
    members sorted ``(id_a < id_b < id_c)``.

    Uses DEGREE ORIENTATION (each undirected edge directed from its
    lower-(degree, id) endpoint to the higher): the oriented graph is
    acyclic, every triangle appears exactly once as u->v, v->w, u->w,
    and — the scale property — out-degrees are bounded by O(sqrt(m)),
    so the wedge join materializes O(m^1.5) candidates worst-case
    instead of the O(sum deg^2) a naive id-orientation pays on skewed
    graphs (one celebrity node with degree d creates d^2/2 wedges
    under id-order; at most m under degree order). Two shuffles: one
    to attach degrees, one wedge equi-join + closing-edge semi pattern.

    The reference has no graph surface at all; this extends the
    near-dup pair/cluster layer (operators/dedup.py, graph.py) with
    the standard triangle primitive used for dup-cluster density and
    social-graph metrics.

    Edge lists within ``_DRIVER_MAX_EDGES`` are counted on the driver
    with the same orientation (:func:`_driver_triangles`).
    """
    spark = edges.sparkSession
    e0, e0_ids = _trio_cut(edges, src, dst)
    small = _collect_bounded(e0)
    if small is not None:
        release_rdds(spark, e0_ids)
        uniq, lo, hi, deg = _undirected(small)
        tri = _driver_triangles(lo, hi, deg)
        return _local_frame(spark, pa.table(
            {c: uniq.take(pa.array(tri[:, k])) for k, c in enumerate(("id_a", "id_b", "id_c"))}
        ))
    und = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    with_deg = _degree_oriented(und)
    release_rdds(spark, e0_ids)
    return _wedge_triangles(with_deg)


def _trio_cut(edges: DataFrame, src: str, dst: str) -> tuple[DataFrame, set[int]]:
    """The eager ``(u, v)`` edge cut that triangles, clustering
    coefficients and PageRank start from. ``u != v`` drops self-loops,
    and since it is NULL when either end is NULL it drops such an edge
    whole (connected components instead keeps an edge's non-null end
    as a node). Materialized EAGERLY: the Spark plans reference the
    edge list several times, and an expensive upstream pair pipeline
    (e.g. Jaccard candidate generation) would otherwise be re-executed
    once per reference — measured 4x the whole-query cost on the
    near-dup graph. Same rationale as connected_components' edge
    checkpoint above."""
    return checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _undirected(tbl: pa.Table) -> tuple[pa.Array, np.ndarray, np.ndarray, np.ndarray]:
    """A collected :func:`_trio_cut` as a simple undirected graph: the
    sorted node ids, every undirected edge once as dense indices
    ``(lo, hi)`` with ``lo < hi`` (reversed and duplicate edges
    collapse, as the Spark plans' symmetrize-distinct does), and each
    node's degree."""
    uniq, u, v = _dense_edges(tbl)
    n = len(uniq)
    key = np.unique(np.minimum(u, v) * n + np.maximum(u, v))
    lo, hi = key // n, key % n
    return uniq, lo, hi, np.bincount(np.concatenate([lo, hi]), minlength=n)


def _driver_triangles(lo: np.ndarray, hi: np.ndarray, deg: np.ndarray) -> np.ndarray:
    """Every triangle of the undirected graph ``(lo, hi)``, one row of
    three sorted dense indices each. Edges are degree-oriented as in
    :func:`_degree_oriented` (low (degree, id) to high; index order is
    id order), then two pyarrow hash joins find each triangle once:
    the wedge u->v->w, then its closing edge u->w."""
    up = deg[lo] <= deg[hi]  # lo < hi, so a degree tie orients by id
    d = pa.table({"u": np.where(up, lo, hi), "v": np.where(up, hi, lo)})
    wedges = d.join(d.rename_columns(["v", "w"]), "v", join_type="inner")
    tri = wedges.join(d.rename_columns(["u", "w"]), ["u", "w"], join_type="left semi")
    return np.sort(np.column_stack([tri.column(c).to_numpy() for c in "uvw"]), axis=1)


def _degree_oriented(und: DataFrame) -> DataFrame:
    """Degree-orient a symmetrized undirected edge list ``(u, v)``:
    attach both endpoint degrees, keep each undirected edge once,
    oriented low-(deg,id) -> high-(deg,id). Eagerly checkpointed — the
    wedge join reads it three times, and the caller may release the
    upstream edge blocks as soon as this returns."""
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    return checkpoint(
        und.join(deg, "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")),
            "v",
        )
        .filter(
            (F.col("deg") < F.col("deg_v"))
            | ((F.col("deg") == F.col("deg_v")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
    )[0]


def _wedge_triangles(with_deg: DataFrame) -> DataFrame:
    """The wedge equi-join + closing-edge pattern over an already
    degree-oriented (and materialized) edge list; one row per triangle,
    members sorted."""
    d1 = with_deg
    d2 = with_deg.select(F.col("u").alias("v"), F.col("v").alias("w"))
    d3 = with_deg.select(F.col("u").alias("u"), F.col("v").alias("w"))
    tri = d1.join(d2, "v").join(d3, ["u", "w"])
    sorted_ids = F.array_sort(F.array("u", "v", "w"))
    return tri.select(
        sorted_ids[0].alias("id_a"),
        sorted_ids[1].alias("id_b"),
        sorted_ids[2].alias("id_c"),
    )


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: 2*T(v) / (deg(v) *
    (deg(v)-1)) where T(v) counts triangles through v — THE density
    diagnostic for near-dup clusters (a clique of true duplicates has
    coefficient 1.0 everywhere; chance shingle collisions produce
    star-ish subgraphs near 0.0), and the standard social-graph
    metric.

    Reuses the degree-oriented ``triangles`` wedge join, explodes each
    triangle to its three members (3 rows per triangle — bounded), and
    joins counts back onto the degree table: one extra shuffle over
    the TRIANGLE list, never the corpus. Nodes on no triangle get 0.0;
    degree-1 nodes have an undefined denominator and report 0.0.

    Edge lists within ``_DRIVER_MAX_EDGES`` are counted on the driver
    (:func:`_driver_triangles`), and the same coefficient expression
    then runs over the local ``(node, degree, n_triangles)`` relation.
    """
    # one eager checkpoint serves BOTH the degree table and the
    # triangle join's references (see _trio_cut)
    spark = edges.sparkSession
    e0, e0_ids = _trio_cut(edges, src, dst)
    small = _collect_bounded(e0)
    if small is not None:
        release_rdds(spark, e0_ids)
        uniq, lo, hi, deg = _undirected(small)
        n_tri = np.bincount(_driver_triangles(lo, hi, deg).ravel(), minlength=len(uniq))
        return _with_coefficient(_local_frame(
            spark, pa.table({"node": uniq, "degree": deg, "n_triangles": n_tri})
        ))
    # Materialize the symmetrized edge list ONCE and share it between
    # the degree table and the orientation (previously this function
    # computed und/deg itself for the coefficient AND called the public
    # triangles(), which re-checkpointed e0 and recomputed und/deg from
    # scratch for the orientation — one whole union+distinct exchange,
    # one groupBy and one checkpoint materialization of pure double
    # work per execution).
    und, _ = checkpoint(
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    release_rdds(spark, e0_ids)
    deg = und.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    tri_nodes = (
        _wedge_triangles(_degree_oriented(und))
        .select(F.explode(F.array("id_a", "id_b", "id_c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return _with_coefficient(deg.join(tri_nodes, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    ))


def _with_coefficient(counts: DataFrame) -> DataFrame:
    """``(node, degree, n_triangles)`` plus ``clustering_coef``, rounded
    by Spark on both paths so they agree to the last digit."""
    return counts.select(
        "node",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.col("n_triangles") * 2.0 / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coef"),
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected graph — the
    centrality score that picks the most-representative member of a
    near-dup cluster (the "canonical doc" refinement over min-id /
    max-quality keepers) and completes the graph kit's iterative-
    dataflow trio (connected components, triangles, PageRank).

    Scale shape mirrors connected_components: the edge projection is
    checkpointed ONCE (an expensive upstream pair pipeline must not
    re-execute per iteration or per join leg), source degrees are
    attached once to that same cached edge list, and each iteration is
    a single equi-join on the source node + one aggregation keyed on
    the destination — O(m) per round, no growing lineage on the data
    path. Fixed iteration count keeps the plan finite (rank deltas
    converge geometrically at ``damping``^k; 5 rounds is the classic
    cluster-triage setting). The node count is one scalar driver agg,
    same justification as CC's convergence check.

    Nodes are the graph's vertices (isolated docs never enter the
    edge list); undirected edges contribute in both directions, so
    there are no dangling nodes and total rank mass stays 1.

    Edge lists within ``_DRIVER_MAX_EDGES`` (the empty one always) are
    ranked on the driver by the same iteration in numpy, one
    ``np.bincount`` per round.
    """
    spark = edges.sparkSession
    e0, e0_ids = _trio_cut(edges, src, dst)
    small = _collect_bounded(e0)
    if small is not None:
        release_rdds(spark, e0_ids)
        uniq, lo, hi, deg = _undirected(small)
        u, v = np.concatenate([lo, hi]), np.concatenate([hi, lo])
        n = max(len(uniq), 1)  # an empty graph has no rank to divide
        rank = np.full(len(uniq), 1.0 / n)
        for _ in range(iterations):
            c = np.bincount(v, weights=rank[u] / deg[u], minlength=len(uniq))
            rank = (1.0 - damping) / n + damping * c
        return _local_frame(spark, pa.table({"node": uniq, "rank": rank}))
    und = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    edges_deg, _ = checkpoint(und.join(deg, "u"))
    # e0's blocks fed the eager edges_deg materialization and are dead
    # weight afterwards — release them (via the block-manager registry;
    # DataFrame.unpersist() is a no-op for checkpoint blocks) so
    # repeated pagerank calls don't accumulate checkpoint storage.
    release_rdds(spark, e0_ids)
    nodes = edges_deg.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = (
            edges_deg.join(ranks, edges_deg["u"] == ranks["node"])
            .select(
                F.col("v").alias("node"),
                (F.col("rank") / F.col("degree")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        # No re-join against `nodes`: the symmetrized edge list contains
        # every node as a destination (each undirected edge contributes
        # both directions, and every vertex has degree >= 1), so
        # `contrib` covers the node set exactly each iteration — the
        # former nodes.join(contrib, "left") + coalesce(c, 0) was an
        # identity that cost one join + one exchange per iteration
        # (plan: 10 joins -> 5 for 5 iterations). Dangling-node mass
        # redistribution is exactly the case this would matter for, and
        # the symmetrization rules it out by construction.
        ranks = contrib.select(
            "node",
            (F.lit(base) + F.lit(damping) * F.col("c")).alias("rank"),
        )
    return ranks
