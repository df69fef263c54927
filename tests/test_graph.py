"""Connected-components operator: planted structure, chain diameter
(pointer-jump convergence), and cluster-dedup policy.

Every CC shape runs on both paths: the driver labeling of small edge
lists and the distributed loop (forced by a bound of 0), which must
agree row for row."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators import graph


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
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (10, 11)],
        "src long, dst long",
    )
    tris = sorted(
        (r["id_a"], r["id_b"], r["id_c"]) for r in graph.triangles(edges).collect()
    )
    assert tris == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_triangles_input_orientation_irrelevant(spark):
    # reversed / duplicated / self-loop edges collapse to the same set
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 1), (2, 3), (3, 3)], "src long, dst long"
    )
    tris = [(r["id_a"], r["id_b"], r["id_c"]) for r in graph.triangles(edges).collect()]
    assert tris == [(1, 2, 3)]


def test_triangles_star_has_none(spark):
    # a degree-skewed hub with no closing edges: the degree-oriented
    # wedge join generates zero candidates (every edge points INTO the
    # hub, so the hub has no out-wedges) — the skew property under test.
    hub = spark.createDataFrame([(0, i) for i in range(1, 30)], "src long, dst long")
    assert graph.triangles(hub).count() == 0


def test_clustering_coefficients(spark):
    # triangle {1,2,3} + pendant 4 off node 3, isolated edge (10,11)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    rows = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_coef"])
        for r in graph.clustering_coefficients(edges).collect()
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
    from pubg_data_pipeline_spark.operators import graph

    # star: hub 0 connected to 1..5, plus a symmetric pair (10, 11)
    edges = [(0, i) for i in range(1, 6)] + [(10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in graph.pagerank(df).collect()}
    # mass conservation over the 8 graph nodes
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # hub outranks every leaf; leaves are symmetric-equal
    assert all(ranks[0] > ranks[i] for i in range(1, 6))
    leaf = ranks[1]
    assert all(abs(ranks[i] - leaf) < 1e-12 for i in range(2, 6))
    # detached symmetric pair: equal ranks
    assert abs(ranks[10] - ranks[11]) < 1e-12


def test_pagerank_empty_graph(spark):
    from pubg_data_pipeline_spark.operators import graph

    df = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(df).count() == 0


def test_pagerank_matches_reference_on_path_graph(spark):
    """Pin the node-coverage property the r8 optimization relies on:
    each iteration's contribution aggregate covers EVERY vertex (the
    symmetrized edge list has each node as a destination), so dropping
    the per-iteration re-join against the node set changes nothing.
    A path graph exercises degree-1 endpoints — the nodes that would
    silently vanish if coverage ever broke — and values are checked
    against a pure-Python reference walker."""
    from pubg_data_pipeline_spark.operators import graph

    edges = [(1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(df, iterations=5).collect()}

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
    session must not accumulate storage (the bench runs queries 4x)."""
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    for _ in range(2):
        _cc(spark, [(i, i + 1) for i in range(20)])
    after = sc.getPersistentRDDs().size()
    # the final labels frame of each call stays alive (it IS the
    # result); everything intermediate must be gone
    assert after - before <= 2, f"leaked {after - before} cached RDDs"
