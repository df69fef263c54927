"""The shared materialize-once barrier (operators/ckpt.py): superseded
block release and the reliable-checkpoint cluster escape hatch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators import ckpt


def _key(spark, site):
    return (spark.sparkContext.applicationId, site)


def test_barrier_releases_superseded_site_blocks(spark):
    """Repeated executions of one query (the bench runs each 4+ times)
    must keep exactly ONE live copy per barrier site, not accumulate a
    corpus-scale checkpoint per call — DataFrame.unpersist() cannot
    release these blocks, only the site registry can. Ids, not counts:
    the context cleaner freeing RDDs that earlier tests left behind
    would otherwise hide a leak or fake one."""
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    before = ckpt.persisted_rdd_ids(spark)
    for _ in range(4):
        out = ckpt.barrier(df.groupBy("k").count(), site="test:release")
        out.write.format("noop").mode("overwrite").save()  # materialize
    growth = len(ckpt.persisted_rdd_ids(spark) - before)
    assert growth <= 1, f"leaked {growth} checkpoint RDDs over 4 calls"
    # cleanup the final live copy so other tests see a clean registry
    ckpt.release_rdds(spark, ckpt._SITE_BLOCKS.pop(_key(spark, "test:release"), set()))


def test_barrier_sites_are_independent(spark):
    """Releasing is per-site: two sites used in one query must not
    release each other's live blocks mid-plan."""
    df = spark.range(100)
    a = ckpt.barrier(df.select((F.col("id") * 2).alias("x")), site="test:a")
    b = ckpt.barrier(df.select((F.col("id") * 3).alias("x")), site="test:b")
    assert a.unionAll(b).count() == 200  # both still computable
    for site in ("test:a", "test:b"):
        ckpt.release_rdds(spark, ckpt._SITE_BLOCKS.pop(_key(spark, site), set()))


def test_barrier_leaves_rdds_recorded_under_another_context(spark):
    """RDD ids restart in a new SparkContext: ids a barrier site
    recorded under a stopped context name unrelated live RDDs in the
    new one, so the site must not release them."""
    before = ckpt.persisted_rdd_ids(spark)
    live = spark.range(100).localCheckpoint(eager=True)
    live_ids = ckpt.persisted_rdd_ids(spark) - before
    assert live_ids
    ckpt._SITE_BLOCKS[("stopped-app", "test:stale")] = set(live_ids)
    try:
        out = ckpt.barrier(spark.range(10), site="test:stale", eager=True)
        assert out.count() == 10
        assert live_ids <= ckpt.persisted_rdd_ids(spark)
        assert live.count() == 100
    finally:
        ckpt._SITE_BLOCKS.pop(("stopped-app", "test:stale"), None)
        ckpt.release_rdds(spark, ckpt._SITE_BLOCKS.pop(_key(spark, "test:stale"), set()))
        ckpt.release_rdds(spark, live_ids)


def test_scope_keeps_blocks_other_queries_register_during_its_cut(spark, monkeypatch):
    """An eager cut runs a whole job; a checkpoint another query takes
    meanwhile (several streams share one session) is that query's, so
    the scope must leave it persisted when it releases its own."""
    frame_cls = type(spark.range(1))  # the classic DataFrame subclass
    real = frame_cls.localCheckpoint
    theirs = []

    def racing(self, *args, **kwargs):
        if not theirs:  # the other query cuts while this cut runs
            theirs.append(real(spark.range(50), eager=True))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", racing)
    with ckpt.Scope(spark) as cuts:
        mine = cuts.cut(spark.range(10))
        assert mine.count() == 10
    monkeypatch.undo()
    mine_id = mine._jdf.queryExecution().logical().rdd().id()
    theirs_id = theirs[0]._jdf.queryExecution().logical().rdd().id()
    try:
        live = ckpt.persisted_rdd_ids(spark)
        assert mine_id not in live
        assert theirs_id in live
        assert theirs[0].count() == 50
    finally:
        ckpt.release_rdds(spark, {theirs_id})


def test_barrier_reliable_mode_preserves_results(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_CHECKPOINT_DIR set (cluster deployments) the
    barrier routes through a reliable DataFrame.checkpoint: results
    identical, files written under the directory, and no executor-local
    blocks registered for the site."""
    df = spark.range(500).select(F.col("id"), (F.col("id") % 5).alias("k"))
    expected = sorted(
        (r["k"], r["n"]) for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    )
    ckpt_dir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt_dir)
    assert ckpt.reliable_checkpoint_dir() == ckpt_dir
    out = ckpt.barrier(
        df.groupBy("k").agg(F.count("*").alias("n")), site="test:reliable", eager=True
    )
    got = sorted((r["k"], r["n"]) for r in out.collect())
    assert got == expected
    assert _key(spark, "test:reliable") not in ckpt._SITE_BLOCKS  # no local blocks registered
    # files land under the SESSION's checkpoint dir — ckpt_dir if this
    # test set it first, or an earlier test's dir the barrier correctly
    # reused (setCheckpointDir is once-per-session)
    import os

    actual_dir = spark.sparkContext._jsc.sc().getCheckpointDir().get()
    assert any(os.scandir(actual_dir.replace("file:", ""))), (
        "reliable checkpoint wrote nothing"
    )


def test_get_spark_cleans_superseded_checkpoints(spark):
    """Reliable mode writes a checkpoint directory per barrier call and
    per CC round; the session factory must let the context cleaner
    delete superseded ones, or the checkpoint dir grows without bound."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_connected_components_reliable_env_matches_local(spark, tmp_path, monkeypatch):
    """The CC loop picks up the session-level reliable-checkpoint dir
    (its only route to reliable checkpoints), and the switch does not
    change the result."""
    from pubg_data_pipeline_spark.operators import graph

    # force the distributed loop: the driver path would label this
    # small graph without a single reliable-checkpoint round
    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "src long, dst long"
    )
    local = {
        (r["node"], r["component"])
        for r in graph.connected_components(edges).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "cc_ckpt"))
    reliable = {
        (r["node"], r["component"])
        for r in graph.connected_components(edges).collect()
    }
    assert reliable == local == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)}
