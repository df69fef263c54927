"""Streaming change-data-feed over snapshot tables
(sources/snapshot_cdf.py): version-offset resume across restarts,
executor-side file reads, append-only fail-loud."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.sources import snapshot_cdf, snapshots


@pytest.fixture(autouse=True)
def _epochs_never_read_manifest_history(monkeypatch):
    """The change-feed epochs in streaming/app.py learn the target's
    head from the manifest listing (snapshots.retry_on_conflict).
    snapshot_history opens every manifest, so calling it per epoch
    makes epoch cost grow with the table's age; any call made from
    streaming/app.py fails the test that caused it."""
    from pubg_data_pipeline_spark.streaming import app

    real = snapshots.snapshot_history

    def guarded(path):
        if sys._getframe(1).f_globals.get("__name__") == app.__name__:
            raise AssertionError("streaming/app.py read the whole manifest history")
        return real(path)

    monkeypatch.setattr(snapshots, "snapshot_history", guarded)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )


def _drain(spark, table, ckpt, sink, extra_opts=None):
    """One availableNow run into a parquet sink (memory sinks cannot
    recover from checkpoints); returns the NEW rows this run appended."""
    import os

    before = set()
    if os.path.isdir(sink):
        before = {
            (r["id"], r["doubled"]) for r in spark.read.parquet(sink).collect()
        }
    reader = spark.readStream.format("snapshot_cdf").option("path", table)
    for k, v in (extra_opts or {}).items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    after = {(r["id"], r["doubled"]) for r in spark.read.parquet(sink).collect()}
    return after - before


def test_cdf_emits_each_commit_and_resumes_from_checkpoint(spark, tmp_path):
    snapshot_cdf.register(spark)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    snapshots.snapshot_commit(_df(spark, 0, 5), table)
    snapshots.snapshot_commit(_df(spark, 5, 8), table)

    sink = str(tmp_path / "sink")
    got = _drain(spark, table, ckpt, sink)
    assert got == {(i, 2 * i) for i in range(8)}

    # two more commits while the stream is DOWN; the restart resumes
    # from the checkpointed version and emits exactly the delta
    snapshots.snapshot_commit(_df(spark, 8, 10), table)
    snapshots.snapshot_commit(_df(spark, 10, 11), table)
    got2 = _drain(spark, table, ckpt, sink)
    assert got2 == {(i, 2 * i) for i in range(8, 11)}

    # idle restart: nothing new, nothing re-emitted
    assert _drain(spark, table, ckpt, sink) == set()

    # schema came from the head manifest, not a user hint, plus the
    # CDF metadata columns
    stream_df = (
        spark.readStream.format("snapshot_cdf").option("path", table).load()
    )
    assert stream_df.columns == ["id", "doubled", "_change_type", "_commit_version"]
    # appended rows are attributed to their commit as inserts
    rows = spark.read.parquet(sink)
    assert rows.filter(F.col("_change_type") != "insert").count() == 0
    assert {
        r["_commit_version"] for r in rows.select("_commit_version").collect()
    } == {1, 2, 3, 4}


def test_cdf_starting_version_latest_skips_history(spark, tmp_path):
    snapshot_cdf.register(spark)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    snapshots.snapshot_commit(_df(spark, 0, 100), table)  # history to skip
    # register stream AFTER the bulk load, starting at the head
    opts = {"starting_version": "latest"}
    first = _drain(spark, table, ckpt, sink, extra_opts=opts)
    assert first == set()
    snapshots.snapshot_commit(_df(spark, 100, 102), table)
    assert _drain(spark, table, ckpt, sink, extra_opts=opts) == {
        (100, 200),
        (101, 202),
    }


def test_cdf_fails_loud_on_legacy_overwrite_in_range(spark, tmp_path):
    """An overwrite that recorded NO change data (a raw
    snapshot_commit, not delete/merge/compact/restore) is unservable
    and must stop the stream, not under-report."""
    snapshot_cdf.register(spark)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    snapshots.snapshot_commit(_df(spark, 0, 3), table)
    _drain(spark, table, ckpt, sink)
    snapshots.snapshot_commit(_df(spark, 50, 52), table, mode="overwrite")
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="no recorded change data"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")
    q.stop()


def test_cdf_fails_loud_on_vacuumed_offset(spark, tmp_path):
    """Round-7 ADVICE: a vacuumed stream offset must raise — treating
    the missing version as an empty table would re-emit the whole head
    as inserts and silently duplicate every derived table."""
    snapshot_cdf.register(spark)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    snapshots.snapshot_commit(_df(spark, 0, 3), table)
    _drain(spark, table, ckpt, sink)  # checkpointed offset = version 1
    snapshots.snapshot_commit(_df(spark, 3, 5), table)
    snapshots.snapshot_commit(_df(spark, 5, 6), table)
    # vacuum past the stream's offset while it is down
    snapshots.snapshot_vacuum(
        table, keep_versions=1, retain_seconds=0, min_version_age_seconds=0
    )
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table)
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="vacuumed"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")
    q.stop()


def test_cdf_guards(spark, tmp_path):
    snapshot_cdf.register(spark)
    with pytest.raises(Exception, match="no snapshot commits"):
        (
            spark.readStream.format("snapshot_cdf")
            .option("path", str(tmp_path / "missing"))
            .load()
        )


def test_maintain_derived_table_exactly_once(spark, tmp_path):
    """Table-to-table maintenance: CDF tail -> per-row transform ->
    txn-deduped snapshot commits. Across restarts the target holds
    exactly transform(source head), all append lineage, and a manual
    epoch replay is a no-op."""
    from pubg_data_pipeline_spark.streaming import app

    src_tbl = str(tmp_path / "src")
    dst_tbl = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    snapshots.snapshot_commit(_df(spark, 0, 6), src_tbl)

    def run():
        q = app.maintain_derived_table(
            spark,
            src_tbl,
            dst_tbl,
            app_id="derive_even",
            transform=lambda df: df.filter(F.col("id") % 2 == 0).withColumn(
                "quad", F.col("doubled") * 2
            ),
            available_now=True,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)
        q.stop()

    run()
    got = {
        (r.id, r.quad) for r in snapshots.snapshot_read(spark, dst_tbl).collect()
    }
    assert got == {(0, 0), (2, 8), (4, 16)}
    # source grows while the maintainer is down; restart catches up
    snapshots.snapshot_commit(_df(spark, 6, 10), src_tbl)
    run()
    got2 = {
        (r.id, r.quad) for r in snapshots.snapshot_read(spark, dst_tbl).collect()
    }
    assert got2 == {(i, 4 * i) for i in range(0, 10, 2)}
    # idle restart commits nothing (no empty versions minted)
    run()
    hist = snapshots.snapshot_history(dst_tbl)
    assert [h["op"] for h in hist] == ["append", "append"]
    # manual replay of an already-committed epoch: txn dedup holds
    replay = _df(spark, 0, 6).filter(F.col("id") % 2 == 0).withColumn(
        "quad", F.col("doubled") * 2
    )
    app.snapshot_sink_epoch(replay, 0, dst_tbl, "derive_even")
    assert snapshots.snapshot_read(spark, dst_tbl).count() == 5


def test_maintain_derived_table_rides_through_compaction(spark, tmp_path):
    """Round 8 headline: a mid-stream snapshot_compact on the SOURCE is
    a provably-empty change set — the maintained table is untouched and
    the stream keeps serving later appends (round-7's residual #1: the
    lakehouse features no longer fight each other)."""
    from pubg_data_pipeline_spark.streaming import app

    src_tbl = str(tmp_path / "src")
    dst_tbl = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    # many small commits -> many files, then compact
    for lo in range(0, 12, 3):
        snapshots.snapshot_commit(
            _df(spark, lo, lo + 3).repartition(2), src_tbl
        )

    def run():
        q = app.maintain_derived_table(
            spark,
            src_tbl,
            dst_tbl,
            app_id="derive",
            transform=lambda df: df.filter(F.col("id") % 2 == 0),
            available_now=True,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)
        q.stop()

    run()
    assert {
        r.id for r in snapshots.snapshot_read(spark, dst_tbl).collect()
    } == set(range(0, 12, 2))
    stats = snapshots.snapshot_compact(spark, src_tbl, target_files=2)
    assert stats["files_after"] <= 2
    snapshots.snapshot_commit(_df(spark, 12, 15), src_tbl)
    run()  # drains the compact (nothing) + the append (one epoch)
    got = sorted(r.id for r in snapshots.snapshot_read(spark, dst_tbl).collect())
    assert got == sorted(set(range(0, 15, 2)))
    # the compaction minted no target version of its own
    assert [h["op"] for h in snapshots.snapshot_history(dst_tbl)] == [
        "append",
        "append",
    ]


def test_maintain_derived_table_propagates_deletes(spark, tmp_path):
    """A snapshot_delete_where on the source propagates row-level
    deletes into the derived table through the change feed; a MERGE's
    update preimage/postimage pair lands as delete+insert."""
    from pubg_data_pipeline_spark.streaming import app

    src_tbl = str(tmp_path / "src")
    dst_tbl = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    snapshots.snapshot_commit(_df(spark, 0, 10), src_tbl)

    def run():
        q = app.maintain_derived_table(
            spark,
            src_tbl,
            dst_tbl,
            app_id="derive",
            transform=lambda df: df.filter(F.col("id") % 2 == 0).withColumn(
                "quad", F.col("doubled") * 2
            ),
            available_now=True,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)
        q.stop()

    run()
    assert {
        r.id for r in snapshots.snapshot_read(spark, dst_tbl).collect()
    } == {0, 2, 4, 6, 8}
    # delete evens < 5 at the source; the derived table must forget them
    snapshots.snapshot_delete_where(spark, src_tbl, F.col("id") < 5)
    run()
    remaining = {
        (r.id, r.quad) for r in snapshots.snapshot_read(spark, dst_tbl).collect()
    }
    assert remaining == {(6, 24), (8, 32)}
    # MERGE an update (id=6 gets doubled=100) + an insert (id=20)
    upd = spark.createDataFrame([(6, 100), (20, 40)], "id long, doubled long")
    snapshots.snapshot_merge_upsert(spark, src_tbl, upd, ["id"])
    run()
    final = {
        (r.id, r.quad) for r in snapshots.snapshot_read(spark, dst_tbl).collect()
    }
    assert final == {(6, 200), (8, 32), (20, 80)}
    # target equals transform(source head) cell-exactly — the
    # materialized-view invariant through appends, deletes, and merges
    expect = {
        (r.id, r.doubled * 2)
        for r in snapshots.snapshot_read(spark, src_tbl).collect()
        if r.id % 2 == 0
    }
    assert final == expect


def test_maintain_rollup_table_equals_batch_recompute(spark, tmp_path):
    """Retraction-aware incremental AGGREGATE maintenance (round-8
    items 3+5): the hourly rollup maintained over the change feed
    equals the batch recompute cell-exactly after appends, a restart
    mid-history, a source DELETE, and a compaction."""
    from pubg_data_pipeline_spark.operators import incremental
    from pubg_data_pipeline_spark.streaming import app

    src_tbl = str(tmp_path / "src")
    dst_tbl = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")

    def events(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"),
            F.to_timestamp(
                F.concat(
                    F.lit("2024-01-01 0"),
                    (F.col("id") % 10).cast("string"),
                    F.lit(":15:00"),
                )
            ).alias("ts"),
            (F.col("id") % 7).cast("double").alias("value"),
        )

    snapshots.snapshot_commit(events(0, 40), src_tbl)
    snapshots.snapshot_commit(events(40, 60), src_tbl)

    def run():
        q = app.maintain_rollup_table(
            spark,
            src_tbl,
            dst_tbl,
            app_id="rollup",
            available_now=True,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)
        q.stop()

    def batch_recompute():
        raw = snapshots.snapshot_read(spark, src_tbl)
        return {
            tuple(r)
            for r in incremental.finalize_hourly(
                incremental.partial_hourly_state(raw)
            ).collect()
        }

    def maintained():
        return {
            tuple(r)
            for r in incremental.finalize_hourly(
                snapshots.snapshot_read(spark, dst_tbl)
            ).collect()
        }

    run()
    assert maintained() == batch_recompute()
    # source delete -> negative partials subtract exactly
    snapshots.snapshot_delete_where(spark, src_tbl, F.col("id") % 3 == 0)
    snapshots.snapshot_commit(events(60, 70), src_tbl)
    run()  # restart picks up delete + append epochs
    assert maintained() == batch_recompute()
    # compaction is a no-op for the rollup
    snapshots.snapshot_compact(spark, src_tbl, target_files=1)
    run()
    assert maintained() == batch_recompute()
    # fully-retracted hours drop out of the state instead of lingering
    # as zero rows
    state = snapshots.snapshot_read(spark, dst_tbl)
    assert state.filter(F.col("n") <= 0).count() == 0


def test_maintain_agg_view_table_retraction_streaming_twin(spark, tmp_path):
    """Round-8 item 5: the streaming keyed aggregate view maintained
    over the change feed equals the batch retraction arithmetic
    (event_agg_view_retractions' counting algorithm) after a
    delete-bearing replay — retract every 7th event via DELETE WHERE,
    re-insert every 5th via append, mid-stream restart included."""
    from pubg_data_pipeline_spark.streaming import app

    src_tbl = str(tmp_path / "src")
    dst_tbl = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")

    def events(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 4).cast("string")).alias(
                "event_type"
            ),
            ((F.col("id") % 13).cast("double") * 1.25).alias("value"),
        )

    snapshots.snapshot_commit(events(0, 150), src_tbl)
    snapshots.snapshot_commit(events(150, 280), src_tbl)

    def run():
        q = app.maintain_agg_view_table(
            spark,
            src_tbl,
            dst_tbl,
            app_id="aggview",
            key_cols=["event_type"],
            value_col="value",
            available_now=True,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)
        q.stop()

    def recompute():
        raw = snapshots.snapshot_read(spark, src_tbl)
        return {
            (r["event_type"], r["n"], r["total"])
            for r in raw.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("value") * 100, 0).cast("long")
                ).alias("total"),
            )
            .collect()
        }

    def view():
        return {
            (r["event_type"], r["n"], r["total"])
            for r in snapshots.snapshot_read(spark, dst_tbl).collect()
        }

    run()
    assert view() == recompute()
    # the delete-bearing replay: retract every 7th, re-insert every 5th
    snapshots.snapshot_delete_where(spark, src_tbl, F.col("event_id") % 7 == 0)
    snapshots.snapshot_commit(
        events(0, 280).filter(F.col("event_id") % 5 == 0), src_tbl
    )
    run()  # restart drains both epochs
    assert view() == recompute()
    # replayed epoch is a no-op (txn dedup on the view table)
    hist_len = len(snapshots.snapshot_history(dst_tbl))
    run()
    assert len(snapshots.snapshot_history(dst_tbl)) == hist_len


def test_cdf_max_versions_per_batch_bounds_each_bite(spark, tmp_path):
    """Admission control: once the stream is in steady state (cursor
    learned — the runner may call latestOffset before initialOffset, so
    the FIRST batch is a documented full catch-up), a 5-commit backlog
    that lands mid-run drains in bites of at most 2 versions per
    micro-batch — and nothing is lost or duplicated."""
    import json as _json
    import os as _os
    import time

    snapshot_cdf.register(spark)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    snapshots.snapshot_commit(_df(spark, 0, 5), table)  # v1: the catch-up
    q = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table)
        .option("starting_version", "0")
        .option("max_versions_per_batch", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )

    def sink_count():
        try:
            return spark.read.parquet(sink).count()
        except Exception:
            return 0

    deadline = time.time() + 60
    while time.time() < deadline and sink_count() < 5:
        time.sleep(1)
    assert sink_count() == 5  # catch-up batch done, cursor learned
    # the backlog lands while the stream runs: v2..v6
    for lo in range(5, 30, 5):
        snapshots.snapshot_commit(_df(spark, lo, lo + 5), table)
    while time.time() < deadline and sink_count() < 30:
        time.sleep(1)
    q.stop()
    assert sink_count() == 30  # nothing lost, nothing duplicated
    # offsets advanced by at most 2 versions per micro-batch past the
    # catch-up, and the backlog really was split across several batches
    offs = []
    odir = _os.path.join(ckpt, "offsets")
    for fname in sorted(_os.listdir(odir), key=lambda s: (len(s), s)):
        if not fname.isdigit():
            continue  # .crc companions are binary
        with open(_os.path.join(odir, fname)) as f:
            tail = f.read().strip().splitlines()[-1]
        try:
            offs.append(_json.loads(tail)["version"])
        except (ValueError, KeyError):
            pass
    assert offs[-1] == 6  # reached the head
    post_catchup = [v for v in offs if v >= 1]
    assert all(b - a <= 2 for a, b in zip(post_catchup, post_catchup[1:]))
    assert len(set(post_catchup)) >= 3  # split into multiple bites


def test_maintain_derived_table_one_drain_over_append_then_delete(spark, tmp_path):
    """Review finding (round 8): a SINGLE catch-up batch spanning an
    append AND a later DELETE of some of its rows must net them — the
    bootstrap drain of a table with delete history must not resurrect
    deleted rows into the derived table."""
    from pubg_data_pipeline_spark.streaming import app

    src_tbl = str(tmp_path / "src")
    dst_tbl = str(tmp_path / "dst")
    snapshots.snapshot_commit(_df(spark, 0, 10), src_tbl)          # v1
    snapshots.snapshot_delete_where(spark, src_tbl, F.col("id") < 4)  # v2
    snapshots.snapshot_commit(_df(spark, 10, 12), src_tbl)         # v3
    # fresh checkpoint: ONE availableNow batch covers v1+v2+v3
    q = app.maintain_derived_table(
        spark,
        src_tbl,
        dst_tbl,
        app_id="boot",
        available_now=True,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    q.stop()
    got = sorted(r.id for r in snapshots.snapshot_read(spark, dst_tbl).collect())
    assert got == sorted(
        r.id for r in snapshots.snapshot_read(spark, src_tbl).collect()
    )
    assert got == list(range(4, 12))
