"""Streaming dimension maintenance (SCD1 MERGE in foreachBatch):
cross-epoch latest-per-key semantics, within-batch tie-breaking, and
idempotent replay of an epoch body; and the prologue every stateful
epoch body shares (``app._open_epoch``): remote roots rejected before
any root is touched, idle triggers writing nothing."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.sources import commitproto
from pubg_data_pipeline_spark.streaming import app


def _run_batch(spark, files_dir, dim_path, checkpoint):
    stream = spark.readStream.schema("k string, ver long, v double").json(str(files_dir))
    q = app.streaming_dim_upsert(
        stream,
        str(dim_path),
        ["k"],
        "ver",
        available_now=True,
        checkpoint=str(checkpoint),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


def test_dim_upsert_across_epochs(spark, tmp_path):
    src = tmp_path / "changes"
    src.mkdir()
    dim = tmp_path / "dim"
    ckpt = tmp_path / "ckpt"

    (src / "b1.jsonl").write_text(
        '{"k": "a", "ver": 1, "v": 10.0}\n'
        '{"k": "b", "ver": 1, "v": 20.0}\n'
        '{"k": "b", "ver": 2, "v": 21.0}\n'  # within-batch dup: latest ver wins
    )
    _run_batch(spark, src, dim, ckpt)
    out = {r["k"]: (r["ver"], r["v"]) for r in spark.read.parquet(str(dim)).collect()}
    assert out == {"a": (1, 10.0), "b": (2, 21.0)}

    # second epoch: update one key, insert another; untouched key survives
    (src / "b2.jsonl").write_text(
        '{"k": "b", "ver": 3, "v": 22.0}\n{"k": "c", "ver": 1, "v": 30.0}\n'
    )
    _run_batch(spark, src, dim, ckpt)
    out = {r["k"]: (r["ver"], r["v"]) for r in spark.read.parquet(str(dim)).collect()}
    assert out == {"a": (1, 10.0), "b": (3, 22.0), "c": (1, 30.0)}


def test_dim_upsert_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the same epoch body
    with the same batch must leave the dim byte-identical in rows."""
    dim = tmp_path / "dim"
    batch = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0)], "k string, ver long, v double"
    )
    app.dim_upsert_epoch(batch, 0, str(dim), ["k"], "ver")
    first = sorted(map(tuple, spark.read.parquet(str(dim)).collect()))
    app.dim_upsert_epoch(batch, 0, str(dim), ["k"], "ver")  # replay
    assert sorted(map(tuple, spark.read.parquet(str(dim)).collect())) == first


def test_dim_upsert_empty_batch_is_noop(spark, tmp_path):
    dim = tmp_path / "dim"
    empty = spark.createDataFrame([], "k string, ver long, v double")
    app.dim_upsert_epoch(empty, 0, str(dim), ["k"], "ver")
    assert not dim.exists()  # no fileless unreadable table
    batch = spark.createDataFrame([("a", 1, 1.0)], "k string, ver long, v double")
    app.dim_upsert_epoch(batch, 1, str(dim), ["k"], "ver")
    app.dim_upsert_epoch(empty, 2, str(dim), ["k"], "ver")
    assert spark.read.parquet(str(dim)).count() == 1


def test_stream_dim_equals_batch_scd2_current_slice(spark, tmp_path):
    """Cross-layer invariant: maintaining a latest-per-key dim from a
    change stream (streaming SCD1) must agree with batch-compacting
    the SAME changelog into SCD2 history and slicing is_current."""
    from pubg_data_pipeline_spark.operators import cdc

    src = tmp_path / "changes"
    src.mkdir()
    dim = tmp_path / "dim"
    ckpt = tmp_path / "ckpt"
    (src / "b1.jsonl").write_text(
        '{"k": "a", "ver": 1, "v": "x", "ts": "2024-01-01 00:00:00"}\n'
        '{"k": "b", "ver": 2, "v": "y", "ts": "2024-01-01 01:00:00"}\n'
    )
    stream_schema = "k string, ver long, v string, ts timestamp"
    stream = spark.readStream.schema(stream_schema).json(str(src))
    q = app.streaming_dim_upsert(
        stream, str(dim), ["k"], "ver", available_now=True, checkpoint=str(ckpt)
    )
    q.awaitTermination(120)
    q.stop()
    (src / "b2.jsonl").write_text(
        '{"k": "a", "ver": 3, "v": "x2", "ts": "2024-01-02 00:00:00"}\n'
        '{"k": "c", "ver": 4, "v": "z", "ts": "2024-01-02 01:00:00"}\n'
    )
    stream = spark.readStream.schema(stream_schema).json(str(src))
    q = app.streaming_dim_upsert(
        stream, str(dim), ["k"], "ver", available_now=True, checkpoint=str(ckpt)
    )
    q.awaitTermination(120)
    q.stop()

    stream_latest = {
        r["k"]: r["v"] for r in spark.read.parquet(str(dim)).collect()
    }
    changelog = spark.read.schema(stream_schema).json(str(src))
    hist = cdc.scd2_from_changelog(changelog, ["k"], "ts", ["v"], order_cols=["ver"])
    batch_current = {
        r["k"]: r["v"] for r in hist.filter("is_current").collect()
    }
    assert stream_latest == batch_current == {"a": "x2", "b": "y", "c": "z"}


def test_dim_upsert_late_change_cannot_regress(spark, tmp_path):
    """Cross-batch monotonicity: an out-of-order change with a LOWER
    order_key than the stored row must not replace it (at-least-once
    upstreams deliver these routinely)."""
    dim = tmp_path / "dim"
    app.dim_upsert_epoch(
        spark.createDataFrame([("a", 5, "new")], "k string, ver long, v string"),
        0, str(dim), ["k"], "ver",
    )
    app.dim_upsert_epoch(
        spark.createDataFrame([("a", 4, "stale")], "k string, ver long, v string"),
        1, str(dim), ["k"], "ver",
    )
    out = spark.read.parquet(str(dim)).collect()
    assert [(r["k"], r["ver"], r["v"]) for r in out] == [("a", 5, "new")]
    # equal order_key: the incoming update wins the tie
    app.dim_upsert_epoch(
        spark.createDataFrame([("a", 5, "retagged")], "k string, ver long, v string"),
        2, str(dim), ["k"], "ver",
    )
    assert spark.read.parquet(str(dim)).collect()[0]["v"] == "retagged"


def test_dim_upsert_recovers_from_crash_between_renames(spark, tmp_path):
    """Simulate a crash after `dim -> .dim.old` but before
    `tmp -> dim`: the next epoch must restore the previous state, not
    rebuild from the micro-batch alone."""
    dim = tmp_path / "dim"
    app.dim_upsert_epoch(
        spark.createDataFrame([("a", 1, "x"), ("b", 1, "y")], "k string, ver long, v string"),
        0, str(dim), ["k"], "ver",
    )
    os.rename(str(dim), str(tmp_path / ".dim.old"))  # the crash window
    app.dim_upsert_epoch(
        spark.createDataFrame([("c", 1, "z")], "k string, ver long, v string"),
        1, str(dim), ["k"], "ver",
    )
    out = {r["k"]: r["v"] for r in spark.read.parquet(str(dim)).collect()}
    assert out == {"a": "x", "b": "y", "c": "z"}  # nothing lost
    assert not os.path.isdir(str(tmp_path / ".dim.old"))   # aside cleaned up


#: Every epoch body that owns state roots: its batch schema, one row of
#: it, one remote URI per root path argument, and the call that runs it
#: on a batch and those paths.
_ROOTED_EPOCHS = {
    "rollup_merge_epoch": (
        "ts timestamp, value double", (datetime(2024, 1, 1), 1.0), ("hdfs://nn/state",),
        lambda s, b, p: app.rollup_merge_epoch(b, 0, *p),
    ),
    "ingest_dedup_epoch": (
        "doc_id long, text string", (1, "a b c"), ("s3a://b/idx", "s3a://b/corpus"),
        lambda s, b, p: app.ingest_dedup_epoch(b, 0, *p),
    ),
    "ingest_neardup_epoch": (
        "doc_id long, text string", (1, "a b c"), ("s3a://b/bands", "s3a://b/corpus"),
        lambda s, b, p: app.ingest_neardup_epoch(b, 0, *p),
    ),
    "dim_upsert_epoch": (
        "k string, ver long, v double", ("a", 1, 1.0), ("s3a://bucket/dim",),
        lambda s, b, p: app.dim_upsert_epoch(b, 0, *p, ["k"], "ver"),
    ),
    "topk_search_epoch": (
        "vec_id long, embedding array<double>", (1, [1.0, 0.0]), ("s3a://b/topk",),
        lambda s, b, p: app.topk_search_epoch(
            b, 0, s.createDataFrame([], "query_id long, embedding array<double>"), *p
        ),
    ),
    "join_view_epoch": (
        "side string, k long, lv string, rv string", ("left", 1, "l", None),
        ("s3a://b/left", "s3a://b/right", "s3a://b/view"),
        lambda s, b, p: app.join_view_epoch(b, 0, *p, ["k"], ["k", "lv"], ["k", "rv"]),
    ),
    "heavy_hitters_epoch": (
        "k string", ("a",), ("s3a://b/hh",),
        lambda s, b, p: app.heavy_hitters_epoch(b, 0, *p, ["k"]),
    ),
    "span_flag_epoch": (
        "doc_id long, text string", (1, "a b c"), ("s3a://b/grams", "s3a://b/spans"),
        lambda s, b, p: app.span_flag_epoch(b, 0, *p),
    ),
    "drift_epoch": (
        "x long", (1,), ("s3a://b/drift",),
        lambda s, b, p: app.drift_epoch(b, 0, *p, F.col("x"), "bucket"),
    ),
    "dlq_etl_epoch": (
        "value string", ("{}",), ("s3a://b/good", "s3a://b/dlq"),
        lambda s, b, p: app.dlq_etl_epoch(b, 0, *p),
    ),
    "snapshot_sink_epoch": (
        "k long", (1,), ("s3a://b/snap",),
        lambda s, b, p: app.snapshot_sink_epoch(b, 0, *p, "app"),
    ),
    "cms_epoch": (
        "k string", ("a",), ("s3a://b/cms",),
        lambda s, b, p: app.cms_epoch(b, 0, *p, "k"),
    ),
    "moments_epoch": (
        "v array<double>", ([1.0, 2.0],), ("s3a://b/moments",),
        lambda s, b, p: app.moments_epoch(b, 0, *p, "v", 2),
    ),
}

#: (epoch, indexes of its remote roots): each root alone, then all of a
#: multi-root epoch's roots at once.
_REMOTE_CASES = [
    pytest.param(name, remote, id=f"{name}-{tag}")
    for name, (_, _, uris, _) in _ROOTED_EPOCHS.items()
    for tag, remote in [(str(i), {i}) for i in range(len(uris))]
    + ([("all", set(range(len(uris))))] if len(uris) > 1 else [])
]


@pytest.mark.parametrize("name,remote", _REMOTE_CASES)
def test_epoch_sinks_reject_remote_uris(spark, tmp_path, name, remote):
    """A remote URI in any root argument fails the epoch, on an idle
    trigger as on a busy one, before any root is touched: a crashed
    swap's aside beside each local root is still there, unrecovered."""
    schema, row, uris, call = _ROOTED_EPOCHS[name]
    paths = [uri if i in remote else str(tmp_path / f"root{i}") for i, uri in enumerate(uris)]
    asides = [commitproto.aside_dir(p) for i, p in enumerate(paths) if i not in remote]
    for aside in asides:
        os.makedirs(aside)
    for rows in ([], [row]):
        with pytest.raises(ValueError, match="local-filesystem"):
            call(spark, spark.createDataFrame(rows, schema), paths)
    assert sorted(os.listdir(tmp_path)) == sorted(os.path.basename(a) for a in asides)


@pytest.mark.parametrize("name", list(_ROOTED_EPOCHS))
def test_idle_trigger_leaves_every_root_absent(spark, tmp_path, name):
    """An empty micro-batch writes nothing under any root of any epoch."""
    schema, _, uris, call = _ROOTED_EPOCHS[name]
    paths = [str(tmp_path / f"root{i}") for i in range(len(uris))]
    call(spark, spark.createDataFrame([], schema), paths)
    assert os.listdir(tmp_path) == []


def test_dim_upsert_epoch_releases_its_checkpoint(spark, tmp_path):
    """The merged dimension's cut dies with the epoch that took it."""
    from pubg_data_pipeline_spark.operators import ckpt

    dim = str(tmp_path / "dim")
    before = ckpt.persisted_rdd_ids(spark)
    for epoch in range(3):
        batch = spark.createDataFrame(
            [("a", epoch, float(epoch)), (f"k{epoch}", 0, 1.0)], "k string, ver long, v double"
        )
        app.dim_upsert_epoch(batch, epoch, dim, ["k"], "ver")
        assert ckpt.persisted_rdd_ids(spark) - before == set()
    assert spark.read.parquet(dim).count() == 4
