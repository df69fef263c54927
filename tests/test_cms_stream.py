"""Streaming count-min sketch state: idempotent epoch replay,
cross-epoch merge at read, compaction invariance, and the live
foreachBatch pipeline end-to-end."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from pubg_data_pipeline_spark.streaming import app


def _probe(spark, state, keys):
    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    return {
        r["k"]: r["est"]
        for r in app.read_cms_estimates(spark, str(state), kdf, "k").collect()
    }


def test_cms_epochs_merge_and_replay_idempotent(spark, tmp_path):
    state = tmp_path / "cms_state"
    b1 = spark.createDataFrame([(1,)] * 50 + [(2,)] * 30 + [(9,)] * 5, "k long")
    b2 = spark.createDataFrame([(1,)] * 40 + [(3,)] * 35, "k long")
    app.cms_epoch(b1, 0, str(state), "k")
    app.cms_epoch(b2, 1, str(state), "k")
    truth = Counter({1: 90, 2: 30, 3: 35, 9: 5})
    est = _probe(spark, state, [1, 2, 3, 9])
    # one-sided error; exact here (4 keys in a 4x256 grid: no full-row
    # collision possible at this density)
    assert est == dict(truth)

    # at-least-once replay of epoch 1 overwrites its own partition —
    # estimates unchanged
    app.cms_epoch(b2, 1, str(state), "k")
    assert _probe(spark, state, [1, 2, 3, 9]) == dict(truth)


def test_cms_compaction_preserves_estimates(spark, tmp_path):
    state = tmp_path / "cms_state"
    for eid in range(4):
        batch = spark.range(100).select((F.col("id") % (eid + 2)).alias("k"))
        app.cms_epoch(batch, eid, str(state), "k")
    before = _probe(spark, state, [0, 1, 2, 3, 4])
    app.compact_cms(spark, str(state))
    assert _probe(spark, state, [0, 1, 2, 3, 4]) == before
    # state really did shrink to a single epoch
    epochs = (
        spark.read.parquet(f"{state}/grid").select("__epoch").distinct().collect()
    )
    assert [r["__epoch"] for r in epochs] == [0]


def test_streaming_cms_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    state = tmp_path / "cms_state"
    ckpt = tmp_path / "ckpt"
    spark.createDataFrame([(7,)] * 25 + [(8,)] * 10, "k long").write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("k long").parquet(str(src))
    q = app.streaming_cms(
        stream, str(state), "k", available_now=True, checkpoint=str(ckpt)
    )
    q.awaitTermination(120)
    est = _probe(spark, state, [7, 8])
    assert est[7] >= 25 and est[8] >= 10  # one-sided
    assert est == {7: 25, 8: 10}  # and exact at this density


def test_cms_read_recovers_from_crashed_compaction(spark, tmp_path):
    import os

    state = tmp_path / "cms_state"
    app.cms_epoch(spark.createDataFrame([(5,)] * 12, "k long"), 0, str(state), "k")
    # simulate a crash between the two renames of compact_cms: the
    # only copy of the grid sits at .grid.old
    os.rename(f"{state}/grid", f"{state}/.grid.old")
    assert _probe(spark, state, [5]) == {5: 12}  # reader restored it
    # and a subsequent epoch write also recovers rather than starting a
    # fresh history next to the orphaned aside
    os.rename(f"{state}/grid", f"{state}/.grid.old")
    app.cms_epoch(spark.createDataFrame([(5,)] * 3, "k long"), 1, str(state), "k")
    assert _probe(spark, state, [5]) == {5: 15}
