"""Streaming incremental join-view maintenance (foreachBatch IVM):
cross-epoch delta folding, the delta-delta cross term, replay
idempotency, and view == full rejoin of everything ingested."""

from __future__ import annotations

from pubg_data_pipeline_spark.streaming import app


def _run(spark, files_dir, paths, checkpoint):
    stream = spark.readStream.schema(
        "side string, k long, lv string, rv string"
    ).json(str(files_dir))
    q = app.streaming_join_view(
        stream,
        str(paths["left"]),
        str(paths["right"]),
        str(paths["view"]),
        ["k"],
        ["k", "lv"],
        ["k", "rv"],
        available_now=True,
        checkpoint=str(checkpoint),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


def _view_rows(spark, view_path):
    return sorted(
        (r["k"], r["lv"], r["rv"])
        for r in spark.read.parquet(str(view_path)).drop("__epoch").collect()
    )


def test_join_view_across_epochs_matches_full_rejoin(spark, tmp_path):
    src = tmp_path / "changes"
    src.mkdir()
    paths = {n: tmp_path / n for n in ("left", "right", "view")}
    ckpt = tmp_path / "ckpt"

    # epoch 1: left k=1, right k=1 (delta-delta cross term must join
    # exactly once), plus an unmatched left k=2
    (src / "b1.jsonl").write_text(
        '{"side": "left", "k": 1, "lv": "l1"}\n'
        '{"side": "right", "k": 1, "rv": "r1"}\n'
        '{"side": "left", "k": 2, "lv": "l2"}\n'
    )
    _run(spark, src, paths, ckpt)
    assert _view_rows(spark, paths["view"]) == [(1, "l1", "r1")]

    # epoch 2: late right k=2 joins the OLD left base; new right k=1
    # joins the old left too (second match for k=1)
    (src / "b2.jsonl").write_text(
        '{"side": "right", "k": 2, "rv": "r2"}\n'
        '{"side": "right", "k": 1, "rv": "r1b"}\n'
    )
    _run(spark, src, paths, ckpt)
    got = _view_rows(spark, paths["view"])
    left_all = spark.read.parquet(str(paths["left"])).drop("__epoch")
    right_all = spark.read.parquet(str(paths["right"])).drop("__epoch")
    want = sorted(
        (r["k"], r["lv"], r["rv"]) for r in left_all.join(right_all, "k").collect()
    )
    assert got == want
    assert (1, "l1", "r1b") in got and (2, "l2", "r2") in got


def test_join_view_epoch_replay_is_idempotent(spark, tmp_path):
    paths = {n: tmp_path / n for n in ("left", "right", "view")}
    batch = spark.createDataFrame(
        [("left", 1, "l1", None), ("right", 1, None, "r1")],
        "side string, k long, lv string, rv string",
    )
    args = (str(paths["left"]), str(paths["right"]), str(paths["view"]),
            ["k"], ["k", "lv"], ["k", "rv"])
    app.join_view_epoch(batch, 0, *args)
    first = _view_rows(spark, paths["view"])
    app.join_view_epoch(batch, 0, *args)  # at-least-once replay
    assert _view_rows(spark, paths["view"]) == first == [(1, "l1", "r1")]


def test_join_view_epoch_crash_between_view_and_base_writes(spark, tmp_path):
    """The documented crash window: epoch N dies after the view write
    but before the base writes. The replay must re-read bases < N
    (unchanged), recompute the identical delta, overwrite epoch N's
    view partition, and leave view == full rejoin."""
    import pytest
    import pyspark.sql.readwriter as rw

    paths = {n: tmp_path / n for n in ("left", "right", "view")}
    args = (str(paths["left"]), str(paths["right"]), str(paths["view"]),
            ["k"], ["k", "lv"], ["k", "rv"])
    b0 = spark.createDataFrame(
        [("left", 1, "l1", None), ("right", 1, None, "r1")],
        "side string, k long, lv string, rv string",
    )
    app.join_view_epoch(b0, 0, *args)

    b1 = spark.createDataFrame(
        [("right", 1, None, "r1b"), ("left", 3, "l3", None), ("right", 3, None, "r3")],
        "side string, k long, lv string, rv string",
    )
    orig = rw.DataFrameWriter.parquet
    calls = {"n": 0}

    def flaky(self, path, **kw):
        calls["n"] += 1
        if calls["n"] == 2:  # view written; crash before the left base write
            raise RuntimeError("injected crash")
        return orig(self, path, **kw)

    rw.DataFrameWriter.parquet = flaky
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            app.join_view_epoch(b1, 1, *args)
    finally:
        rw.DataFrameWriter.parquet = orig
    assert calls["n"] == 2  # the crash really hit the window

    app.join_view_epoch(b1, 1, *args)  # foreachBatch replay
    got = _view_rows(spark, paths["view"])
    left_all = spark.read.parquet(str(paths["left"])).drop("__epoch")
    right_all = spark.read.parquet(str(paths["right"])).drop("__epoch")
    want = sorted(
        (r["k"], r["lv"], r["rv"]) for r in left_all.join(right_all, "k").collect()
    )
    assert got == want
    assert (1, "l1", "r1b") in got and (3, "l3", "r3") in got


def test_join_view_epoch_survives_a_crashed_base_write(spark, tmp_path):
    """A left base whose only parquet file sits under a crashed
    dynamic overwrite's ``.spark-staging-*`` dir is empty to a reader;
    ``_epoch_table`` must return the empty template, not infer a
    schema, on the epoch and on its replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = {n: tmp_path / n for n in ("left", "right", "view")}
    staged = paths["left"] / ".spark-staging-abc" / "__epoch=0"
    staged.mkdir(parents=True)
    pq.write_table(pa.table({"k": [9], "lv": ["stale"]}), str(staged / "part-00000.parquet"))
    batch = spark.createDataFrame(
        [("left", 1, "l1", None), ("right", 1, None, "r1")],
        "side string, k long, lv string, rv string",
    )
    args = (str(paths["left"]), str(paths["right"]), str(paths["view"]),
            ["k"], ["k", "lv"], ["k", "rv"])
    app.join_view_epoch(batch, 1, *args)
    app.join_view_epoch(batch, 1, *args)  # replay
    assert _view_rows(spark, paths["view"]) == [(1, "l1", "r1")]
