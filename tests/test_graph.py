"""Graph operators: connected components (planted structure, chain
diameter, cluster-dedup policy), triangles, clustering coefficients
and PageRank.

Every shape runs on both paths: the driver path of small edge lists
and the Spark path (forced by a bound of 0), which must agree row for
row."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators import ckpt, graph


def _components(edges, bound=None):
    """{node: component} of ``edges`` with the driver bound set to
    ``bound`` (None keeps the module's own)."""
    with pytest.MonkeyPatch.context() as mp:
        if bound is not None:
            mp.setattr(graph, "_DRIVER_MAX_EDGES", bound)
        rows = graph.connected_components(edges).collect()
    comp = {r["node"]: r["component"] for r in rows}
    assert len(comp) == len(rows), "a node was labeled twice"
    return comp


def _cc(spark, edge_tuples, schema="src long, dst long"):
    """The driver path's {node: component}, after checking that the
    distributed loop gives the same mapping."""
    edges = spark.createDataFrame(edge_tuples, schema)
    driver = _components(edges)
    assert _components(edges, bound=0) == driver
    return driver


def _rows(op, edges, bound=None, **kw):
    """Column types and sorted rows of ``op(edges, **kw)`` with the
    driver bound set to ``bound`` (None keeps the module's own)."""
    with pytest.MonkeyPatch.context() as mp:
        if bound is not None:
            mp.setattr(graph, "_DRIVER_MAX_EDGES", bound)
        out = op(edges, **kw)
        return out.dtypes, sorted(tuple(r) for r in out.collect())


def _assert_same(got, want):
    """Two ``_rows`` results agree: equal column types, ids and counts
    exactly, floats (PageRank's sums, added in another order on the
    two paths) within 1e-12."""
    assert got[0] == want[0]
    assert len(got[1]) == len(want[1])
    for g, w in zip(got[1], want[1]):
        for x, y in zip(g, w, strict=True):
            if isinstance(x, float):
                assert abs(x - y) < 1e-12, (g, w)
            else:
                assert x == y, (g, w)


def _both_paths(spark, op, edge_tuples, schema="src long, dst long", **kw):
    """The driver path's sorted rows of ``op``, after checking that the
    Spark path (bound 0) gives the same."""
    edges = spark.createDataFrame(edge_tuples, schema)
    driver = _rows(op, edges, **kw)
    _assert_same(driver, _rows(op, edges, bound=0, **kw))
    return driver[1]


def test_two_components(spark):
    comp = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # A 40-node path graph: diameter 39 — plain flooding would need 39
    # rounds (> max_iter); pointer jumping must close it well inside 25.
    chain = [(i, i + 1) for i in range(100, 140)]
    comp = _cc(spark, chain)
    assert set(comp.values()) == {100}
    assert len(comp) == 41


def test_duplicate_and_reversed_edges_collapse(spark):
    comp = _cc(spark, [(2, 1), (1, 2), (2, 1), (3, 3), (3, 4)])
    assert comp[1] == 1 and comp[2] == 1
    assert comp[3] == 3 and comp[4] == 3


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path, monkeypatch):
    # SPARK_GRAFT_CHECKPOINT_DIR routes lineage truncation through
    # fault-tolerant DataFrame.checkpoint instead of localCheckpoint;
    # results must be identical and checkpoint files must actually land
    # in the session's checkpoint dir (this test's dir if it set it
    # first, or an earlier test's: setCheckpointDir is once per session).
    # The bound of 0 forces the loop: the driver path would label this
    # small graph without a single reliable-checkpoint round.
    import os

    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)], "src long, dst long"
    )
    local = {
        r["node"]: r["component"]
        for r in graph.connected_components(edges).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "cc_ckpt"))
    reliable = {
        r["node"]: r["component"]
        for r in graph.connected_components(edges).collect()
    }
    assert reliable == local
    actual_dir = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    assert any(os.scandir(actual_dir.replace("file:", ""))), (
        "no checkpoint files written to the reliable dir"
    )


def test_dedup_clusters_and_corpus(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    clusters = {
        r["cluster_id"]: (r["n_members"], r["max_member"])
        for r in graph.dedup_clusters(pairs).collect()
    }
    assert clusters == {1: (3, 3), 10: (2, 11)}

    docs = spark.range(0, 13).select(F.col("id").alias("doc_id"))
    kept = graph.deduped_corpus(docs, pairs, "doc_id")
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # losers 2,3,11 dropped; singletons (0,4..9,12) and keepers (1,10) stay
    assert kept_ids == [0, 1, 4, 5, 6, 7, 8, 9, 10, 12]


def test_triangles_basic_shapes(spark):
    # K4 on {1,2,3,4} has exactly 4 triangles; the pendant edge (4,5)
    # and disconnected edge (10,11) add none.
    tris = _both_paths(
        spark,
        graph.triangles,
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (10, 11)],
    )
    assert tris == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_triangles_input_orientation_irrelevant(spark):
    # reversed / duplicated / self-loop edges collapse to the same set
    tris = _both_paths(spark, graph.triangles, [(2, 1), (1, 2), (3, 1), (2, 3), (3, 3)])
    assert tris == [(1, 2, 3)]


def test_triangles_star_has_none(spark):
    # a degree-skewed hub with no closing edges: the degree-oriented
    # wedge join generates zero candidates (every edge points INTO the
    # hub, so the hub has no out-wedges) — the skew property under test.
    assert _both_paths(spark, graph.triangles, [(0, i) for i in range(1, 30)]) == []


def test_clustering_coefficients(spark):
    # triangle {1,2,3} + pendant 4 off node 3, isolated edge (10,11)
    rows = {
        node: (degree, n_triangles, coef)
        for node, degree, n_triangles, coef in _both_paths(
            spark,
            graph.clustering_coefficients,
            [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)],
        )
    }
    assert rows[1] == (2, 1, 1.0)       # both neighbors connected
    assert rows[2] == (2, 1, 1.0)
    assert rows[3] == (3, 1, round(2 / 6, 4))  # one of three neighbor pairs closed
    assert rows[4] == (1, 0, 0.0)       # degree-1: undefined -> 0
    assert rows[10] == (1, 0, 0.0) and rows[11] == (1, 0, 0.0)


def test_connected_components_worst_case_chain(spark):
    """A 200-node path graph is the diameter worst case for label
    propagation; pointer jumping must still converge (O(log d) rounds
    within the max_iter budget) to a single component."""
    comp = _cc(spark, [(i, i + 1) for i in range(199)])
    assert len(comp) == 200
    assert set(comp.values()) == {0}


def test_connected_components_two_cliques_and_bridge(spark):
    # two 20-cliques joined by one bridge edge -> one component;
    # remove the bridge -> two
    c1 = [(a, b) for a in range(20) for b in range(a + 1, 20)]
    c2 = [(a, b) for a in range(100, 120) for b in range(a + 1, 120)]
    assert set(_cc(spark, c1 + c2 + [(19, 100)]).values()) == {0}
    assert set(_cc(spark, c1 + c2).values()) == {0, 100}


def test_init_fixpoint_component_mixed_with_live_chain(spark):
    """The convergence detector is seeded with the INIT labels' sum so
    an init-fixpoint graph (star/clique — the dominant dup-graph shape)
    converges after one round. The risk case of that seeding is a MIXED
    graph: one component already at fixpoint after init while another
    still needs propagation rounds — the global sum keeps moving, so
    the loop must NOT stop early and both components must come out
    exact."""
    star = [(1, k) for k in range(2, 8)]  # init-fixpoint: all label 1
    chain = [(i, i + 1) for i in range(100, 130)]  # needs ~log2(30) rounds
    comp = _cc(spark, star + chain)
    assert {comp[k] for k in range(1, 8)} == {1}
    assert {comp[k] for k in range(100, 131)} == {100}
    # pure init-fixpoint graph (single clique) stays exact too
    clique = [(a, b) for a in range(50, 56) for b in range(a + 1, 56)]
    comp2 = _cc(spark, clique)
    assert set(comp2.values()) == {50} and len(comp2) == 6


def test_pagerank_invariants_star_and_symmetry(spark):
    # star: hub 0 connected to 1..5, plus a symmetric pair (10, 11)
    edges = [(0, i) for i in range(1, 6)] + [(10, 11)]
    ranks = dict(_both_paths(spark, graph.pagerank, edges))
    # mass conservation over the 8 graph nodes
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # hub outranks every leaf; leaves are symmetric-equal
    assert all(ranks[0] > ranks[i] for i in range(1, 6))
    leaf = ranks[1]
    assert all(abs(ranks[i] - leaf) < 1e-12 for i in range(2, 6))
    # detached symmetric pair: equal ranks
    assert abs(ranks[10] - ranks[11]) < 1e-12


def test_pagerank_empty_graph(spark):
    assert _both_paths(spark, graph.pagerank, []) == []


def test_pagerank_matches_reference_on_path_graph(spark):
    """Pin the node-coverage property the r8 optimization relies on:
    each iteration's contribution aggregate covers EVERY vertex (the
    symmetrized edge list has each node as a destination), so dropping
    the per-iteration re-join against the node set changes nothing.
    A path graph exercises degree-1 endpoints — the nodes that would
    silently vanish if coverage ever broke — and values are checked
    against a pure-Python reference walker."""
    edges = [(1, 2), (2, 3), (3, 4)]
    got = dict(_both_paths(spark, graph.pagerank, edges, iterations=5))

    und = set()
    for a, b in edges:
        und |= {(a, b), (b, a)}
    nodes = sorted({x for e in und for x in e})
    deg = {n: sum(1 for u, _ in und if u == n) for n in nodes}
    ranks = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(5):
        contrib = {n: 0.0 for n in nodes}
        for u, v in und:
            contrib[v] += ranks[u] / deg[u]
        ranks = {n: 0.15 / len(nodes) + 0.85 * contrib[n] for n in nodes}

    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - ranks[n]) < 1e-12


def test_string_node_ids_converge_exactly(spark):
    """r5 review fix: component labels that can't cast to decimal must
    use the exact changed-row convergence probe — under ANSI the old
    sum-cast crashed, and under legacy mode NULL sums faked instant
    convergence, silently under-merging chains of length >= 5."""
    chain = [(chr(ord("a") + i), chr(ord("a") + i + 1)) for i in range(7)]
    comp = _cc(spark, chain, "src string, dst string")
    assert comp == {chr(ord("a") + i): "a" for i in range(8)}


def test_self_loop_only_nodes_keep_their_singleton_component(spark):
    """Contract: (node, component) for EVERY node appearing in edges —
    a node whose only edge is a self-loop must still be emitted."""
    comp = _cc(spark, [(5, 5), (1, 2)])
    assert comp == {1: 1, 2: 1, 5: 5}


def test_null_endpoints_are_dropped(spark):
    """A NULL endpoint is no node: the edge keeps only its non-null
    end, as a singleton unless another edge joins it."""
    comp = _cc(spark, [(1, 2), (None, 3), (4, None), (None, None), (2, None)])
    assert comp == {1: 1, 2: 1, 3: 3, 4: 4}
    assert _cc(spark, [(None, None)]) == {}
    assert _cc(spark, []) == {}


def test_random_graph_matches_union_find(spark):
    """The driver labeling on a seeded random sparse graph (ids
    unrelated to edge order, many small components) against a
    pure-Python union-find reference."""
    import random

    rng = random.Random(7)
    ids = rng.sample(range(10**6), 120)
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(90)]
    parent = {n: n for e in edges for n in e}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    got = _components(spark.createDataFrame(edges, "src long, dst long"))
    assert got == {n: find(n) for n in parent}


def test_driver_bound_boundary(spark, monkeypatch):
    """With the bound at N, an N-edge graph is labeled on the driver
    and an (N+1)-edge graph runs the loop; each gives the same mapping
    as the other path."""
    calls = []
    labeler = graph._driver_components

    def counting(tbl):
        calls.append(tbl.num_rows)
        return labeler(tbl)

    monkeypatch.setattr(graph, "_driver_components", counting)
    n = 6
    at = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    over = spark.createDataFrame(
        [(i, i + 1) for i in range(n)] + [(20, 21)], "src long, dst long"
    )
    driver = _components(at, bound=n)
    assert calls == [n]
    assert driver == _components(at, bound=0) == {i: 0 for i in range(n + 1)}
    loop = _components(over, bound=n)
    assert calls == [n]
    assert loop == _components(over, bound=n + 1) == {**driver, 20: 20, 21: 20}
    assert calls == [n, n + 1]


def test_driver_path_job_count(spark):
    """Pin: on a small graph CC runs the edge checkpoint and the one
    bounded collect — at most 2 Spark jobs, none per round."""
    sc = spark.sparkContext
    edges = spark.createDataFrame([(i, i + 1) for i in range(50)], "src long, dst long")
    group = "test_graph:driver_path_jobs"
    sc.setJobGroup(group, group)
    try:
        comp = graph.connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, f"driver path started {len(jobs)} jobs"
    assert {r["component"] for r in comp.collect()} == {0}


def test_cc_writes_no_session_conf(spark, monkeypatch):
    """Neither path may change session settings under a caller that
    shares the session."""
    from pyspark.sql.conf import RuntimeConfig

    writes = []
    real_set = RuntimeConfig.set

    def recording(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording)
    comp = _cc(spark, [(1, 2), (2, 3), (7, 8)], "src long, dst long")
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert writes == []


def test_repeated_cc_calls_leave_no_cached_blocks(spark):
    """Per-round checkpoints must be released: repeated calls in one
    session must not accumulate storage (the bench runs queries 4x).
    Ids, not counts: the context cleaner freeing RDDs that earlier
    tests left behind would otherwise hide a leak or fake one."""
    before = ckpt.persisted_rdd_ids(spark)
    for _ in range(2):
        _cc(spark, [(i, i + 1) for i in range(20)])
    new = ckpt.persisted_rdd_ids(spark) - before
    # the final labels frame of each loop call stays alive (it IS the
    # result); everything intermediate must be gone
    assert len(new) <= 2, f"leaked {len(new)} cached RDDs"


TRIO = (graph.triangles, graph.clustering_coefficients, graph.pagerank)
TRIO_IDS = ("triangles", "clustering", "pagerank")


def test_random_graph_triangles_match_enumeration(spark):
    """Both paths on a seeded random graph (ids unrelated to edge
    order, reversed duplicates and self-loops included) against a
    pure-Python enumeration of triangles and per-node counts."""
    import itertools
    import random

    rng = random.Random(11)
    ids = rng.sample(range(10**6), 40)
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(260)]
    adj = {n: set() for n in ids}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    want = sorted(
        t for t in itertools.combinations(sorted(ids), 3)
        if t[1] in adj[t[0]] and t[2] in adj[t[0]] and t[2] in adj[t[1]]
    )
    assert want, "the seed should plant triangles"
    assert _both_paths(spark, graph.triangles, edges) == want
    per_node = {n: sum(n in t for t in want) for n in ids if adj[n]}
    coef = _both_paths(spark, graph.clustering_coefficients, edges)
    assert {node: (deg, n_tri) for node, deg, n_tri, _ in coef} == {
        n: (len(adj[n]), per_node[n]) for n in per_node
    }


@pytest.mark.parametrize("op", TRIO, ids=TRIO_IDS)
def test_trio_string_ids(spark, op):
    """String ids keep their type and their order on both paths."""
    edges = [("b", "a"), ("a", "c"), ("c", "b"), ("c", "d")]
    rows = _both_paths(spark, op, edges, "src string, dst string")
    if op is graph.triangles:
        assert rows == [("a", "b", "c")]
    else:
        assert [r[0] for r in rows] == ["a", "b", "c", "d"]


@pytest.mark.parametrize("op", TRIO, ids=TRIO_IDS)
def test_trio_null_endpoints_drop_the_edge(spark, op):
    """Unlike connected components, the trio drops an edge with a NULL
    end whole: its non-null end is no node unless another edge adds it."""
    rows = _both_paths(spark, op, [(1, 2), (2, 3), (3, 1), (None, 7), (8, None), (None, None)])
    if op is graph.triangles:
        assert rows == [(1, 2, 3)]
    else:
        assert [r[0] for r in rows] == [1, 2, 3]


@pytest.mark.parametrize("op", TRIO, ids=TRIO_IDS)
def test_trio_empty_graph(spark, op):
    assert _both_paths(spark, op, []) == []
    assert _both_paths(spark, op, [(4, 4), (None, 5)]) == []


@pytest.mark.parametrize("op", TRIO, ids=TRIO_IDS)
def test_trio_driver_bound_boundary(spark, monkeypatch, op):
    """With the bound at N, an N-edge cut is counted on the driver and
    an (N+1)-edge cut runs on Spark; self-loops are not in the cut."""
    calls = []
    dense = graph._dense_edges

    def counting(tbl):
        calls.append(tbl.num_rows)
        return dense(tbl)

    monkeypatch.setattr(graph, "_dense_edges", counting)
    n = 6
    at = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (9, 9)], "src long, dst long"
    )
    over = at.union(spark.createDataFrame([(6, 7)], "src long, dst long"))
    driver = _rows(op, at, bound=n)
    assert calls == [n]
    _assert_same(driver, _rows(op, at, bound=0))
    on_spark = _rows(op, over, bound=n)
    assert calls == [n]
    _assert_same(_rows(op, over, bound=n + 1), on_spark)
    assert calls == [n, n + 1]


@pytest.mark.parametrize("op", TRIO, ids=TRIO_IDS)
def test_trio_driver_path_job_count(spark, op):
    """Pin: on a small graph each metric runs the edge cut and the one
    bounded collect — at most 2 Spark jobs, none per join or round."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, j) for i in range(8) for j in range(i + 1, 8)], "src long, dst long"
    )
    group = f"test_graph:trio_driver_jobs:{op.__name__}"
    sc.setJobGroup(group, group)
    try:
        out = op(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, f"driver path started {len(jobs)} jobs"
    assert out.count() > 0


@pytest.mark.parametrize("op", TRIO, ids=TRIO_IDS)
def test_trio_driver_path_leaves_no_cached_rdds(spark, op):
    """The driver path releases its edge cut: nothing it registered
    with the block manager outlives the call."""
    before = ckpt.persisted_rdd_ids(spark)
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    assert op(edges).count() > 0
    assert ckpt.persisted_rdd_ids(spark) - before == set()


def test_one_bounded_collect_site():
    """Every graph operator reaches the driver through _collect_bounded,
    the only Arrow collect in operators/graph.py."""
    path = os.path.join(os.path.dirname(graph.__file__), "graph.py")
    with open(path, encoding="utf-8") as f:
        src = f.read()
    assert src.count(".toArrow(") == 1
    owners = [
        node.name
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
        and ".toArrow(" in ast.get_source_segment(src, node)
    ]
    assert owners == ["_collect_bounded"]
