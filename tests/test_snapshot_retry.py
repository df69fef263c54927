"""Conflict injection for the read-modify-write callers of
``snapshots.retry_on_conflict`` that rewrite a snapshot table from its
head: compaction and the three change-feed epochs. One lost race must
leave the table a run without a race leaves; ``max_retries`` lost races
in a row must raise the error that names the caller."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.sources import snapshots
from pubg_data_pipeline_spark.streaming import app

CDF = "_change_type string, _commit_version long"


def _events(spark, rows):
    return spark.createDataFrame(
        rows, f"id long, k string, value double, {CDF}"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 03:15:00")))


def _compact_setup(spark, path):
    for lo in range(0, 9, 3):
        snapshots.snapshot_commit(spark.range(lo, lo + 3).repartition(2), path)


def _cdf_setup(spark, path):
    snapshots.snapshot_commit(spark.range(0, 5), path)


def _cdf_run(spark, path):
    batch = spark.createDataFrame(
        [(1, "delete", 2), (3, "update_preimage", 3), (33, "update_postimage", 3), (7, "insert", 3)],
        f"id long, {CDF}",
    )
    app.cdf_apply_epoch(batch, 1, path, "cdf")


def _rollup_setup(spark, path):
    rows = [(i, "a", float(i), "insert", 1) for i in range(4)]
    app.rollup_cdf_epoch(_events(spark, rows), 0, path, "rollup")


def _rollup_run(spark, path):
    rows = [(1, "a", 1.0, "delete", 2), (9, "a", 9.0, "insert", 2)]
    app.rollup_cdf_epoch(_events(spark, rows), 1, path, "rollup")


def _agg_setup(spark, path):
    rows = [(i, "ab"[i % 2], float(i), "insert", 1) for i in range(4)]
    app.agg_view_cdf_epoch(_events(spark, rows), 0, path, "agg", ["k"], "value")


def _agg_run(spark, path):
    rows = [(1, "b", 1.0, "delete", 2), (3, "b", 3.0, "delete", 2)]
    app.agg_view_cdf_epoch(_events(spark, rows), 1, path, "agg", ["k"], "value")


CASES = {
    "snapshot_compact": (
        _compact_setup,
        lambda spark, path: snapshots.snapshot_compact(spark, path, target_files=1),
    ),
    "cdf_apply_epoch": (_cdf_setup, _cdf_run),
    "rollup_cdf_epoch": (_rollup_setup, _rollup_run),
    "agg_view_cdf_epoch": (_agg_setup, _agg_run),
}


def _table(spark, path):
    return sorted(tuple(r) for r in snapshots.snapshot_read(spark, path).collect())


def _lose_races(monkeypatch, n):
    """Make the next ``n`` pinned commits lose to a concurrent writer."""
    real = snapshots.snapshot_commit
    lost = []

    def racing(df, path, **kw):
        if kw.get("expected_parent") is not None and len(lost) < n:
            lost.append(kw["expected_parent"])
            raise snapshots.CommitConflict("injected race")
        return real(df, path, **kw)

    monkeypatch.setattr(snapshots, "snapshot_commit", racing)
    return lost


@pytest.mark.parametrize("what", sorted(CASES))
def test_one_lost_race_retries_to_the_same_table(spark, tmp_path, monkeypatch, what):
    setup, run = CASES[what]
    calm, raced = str(tmp_path / "calm"), str(tmp_path / "raced")
    for path in (calm, raced):
        setup(spark, path)
    run(spark, calm)
    lost = _lose_races(monkeypatch, 1)
    run(spark, raced)
    assert len(lost) == 1
    assert _table(spark, raced) == _table(spark, calm)
    head = snapshots._versions(raced)[-1]
    assert head == snapshots._versions(calm)[-1]


@pytest.mark.parametrize("what", sorted(CASES))
def test_max_retries_lost_races_name_the_caller(spark, tmp_path, monkeypatch, what):
    setup, run = CASES[what]
    path = str(tmp_path / "t")
    setup(spark, path)
    before = _table(spark, path)
    lost = _lose_races(monkeypatch, 99)
    with pytest.raises(RuntimeError, match=f"{what} lost the read-modify-write race 5 times"):
        run(spark, path)
    assert len(lost) == 5
    monkeypatch.undo()
    assert _table(spark, path) == before
