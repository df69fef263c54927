"""Mergeable Misra-Gries states: merge associativity, the
no-overestimate + bounded-undercount guarantees, and the streaming
epoch store (idempotent replay, cross-epoch merge at read, key types
through the driver-side commit, Spark jobs per epoch)."""

from __future__ import annotations

import datetime
import json
import os

from pubg_data_pipeline_spark.streaming import app


def _truth(rows):
    from collections import Counter

    return Counter(r[0] for r in rows)


def test_mg_states_merge_matches_single_pass_guarantees(spark):
    from pubg_data_pipeline_spark.operators import incremental as inc

    k = 10
    part1 = [(f"heavy{i}",) for i in range(3) for _ in range(300)] + [
        (f"n1_{i}",) for i in range(800)
    ]
    part2 = [(f"heavy{i}",) for i in range(3) for _ in range(200)] + [
        (f"n2_{i}",) for i in range(700)
    ]
    df1 = spark.createDataFrame(part1, "k string").repartition(3)
    df2 = spark.createDataFrame(part2, "k string").repartition(3)
    s1, n1 = inc.partial_mg_state(df1, ["k"], k)
    s2, n2 = inc.partial_mg_state(df2, ["k"], k)
    assert (n1, n2) == (len(part1), len(part2))
    assert s1.num_rows <= k and s2.num_rows <= k
    states = [spark.createDataFrame(s) for s in (s1, s2)]
    merged = {r["k"]: r["weight"] for r in inc.merge_mg_states(states, k).collect()}

    truth = _truth(part1 + part2)
    n = len(part1) + len(part2)
    assert len(merged) <= k
    for key, w in merged.items():
        assert w <= truth[key], f"{key} overestimated: {w} > {truth[key]}"
    # every planted heavy key (500 each, >> N/(k+1)) must survive with a
    # weight within the mergeable-summaries undercount bound
    bound = (n - sum(merged.values())) / (k + 1)
    for i in range(3):
        key = f"heavy{i}"
        assert key in merged, f"{key} lost by the merged summary"
        assert truth[key] - merged[key] <= bound + 1e-9


def test_streaming_heavy_hitters_epochs_and_replay(spark, tmp_path):
    state = tmp_path / "hh_state"
    b1 = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [(f"x{i}",) for i in range(40)], "k string"
    )
    b2 = spark.createDataFrame(
        [("a",)] * 40 + [("c",)] * 35 + [(f"y{i}",) for i in range(30)], "k string"
    )
    app.heavy_hitters_epoch(b1, 0, str(state), ["k"], counters=8)
    app.heavy_hitters_epoch(b2, 1, str(state), ["k"], counters=8)
    out = {
        r["k"]: (r["weight"], r["max_undercount"])
        for r in app.read_heavy_hitters(spark, str(state), ["k"], counters=8).collect()
    }
    assert "a" in out and out["a"][0] <= 90  # never overestimates
    assert out["a"][0] + out["a"][1] >= 90  # bound covers the true count
    assert "b" in out and "c" in out

    # at-least-once replay of epoch 1 must not change the answer
    app.heavy_hitters_epoch(b2, 1, str(state), ["k"], counters=8)
    out2 = {
        r["k"]: (r["weight"], r["max_undercount"])
        for r in app.read_heavy_hitters(spark, str(state), ["k"], counters=8).collect()
    }
    assert out2 == out


def test_streaming_heavy_hitters_end_to_end(spark, tmp_path):
    src = tmp_path / "hh_src"
    src.mkdir()
    state = tmp_path / "hh_state2"
    ckpt = tmp_path / "hh_ckpt"
    (src / "b1.jsonl").write_text(
        "\n".join(json.dumps({"k": "hot"}) for _ in range(60))
        + "\n"
        + "\n".join(json.dumps({"k": f"cold{i}"}) for i in range(30))
    )
    stream = spark.readStream.schema("k string").json(str(src))
    q = app.streaming_heavy_hitters(
        stream, str(state), ["k"], counters=8,
        available_now=True, checkpoint=str(ckpt),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    out = {r["k"]: r["weight"] for r in
           app.read_heavy_hitters(spark, str(state), ["k"], counters=8).collect()}
    assert "hot" in out and out["hot"] <= 60


def test_compact_heavy_hitters_preserves_answers(spark, tmp_path):
    state = tmp_path / "hh_compact"
    for eid in range(4):
        batch = spark.createDataFrame(
            [("hot",)] * (20 + eid) + [(f"e{eid}_{i}",) for i in range(15)], "k string"
        )
        app.heavy_hitters_epoch(batch, eid, str(state), ["k"], counters=6)
    before = {
        r["k"]: (r["weight"], r["max_undercount"])
        for r in app.read_heavy_hitters(spark, str(state), ["k"], counters=6).collect()
    }
    app.compact_heavy_hitters(spark, str(state), ["k"], counters=6)
    after = {
        r["k"]: (r["weight"], r["max_undercount"])
        for r in app.read_heavy_hitters(spark, str(state), ["k"], counters=6).collect()
    }
    assert after == before
    # physically one epoch now
    import os
    dirs = [d for d in os.listdir(state / "summary") if d.startswith("__epoch=")]
    assert dirs == ["__epoch=0"]


def _hive_rows(path):
    """Rows as pyarrow's hive-partitioned dataset reads them; the
    ``__epoch=N`` directories start with ``_``, which pyarrow skips by
    default."""
    import pyarrow.dataset as ds

    return ds.dataset(path, partitioning="hive", ignore_prefixes=[".", "_SUCCESS"]).to_table()


def _typed_batch(spark):
    ts1 = datetime.datetime(2024, 1, 1, 5, 0, 0)
    ts2 = datetime.datetime(2024, 3, 1, 12, 30, 1, 123456)
    rows = (
        [("a", 1, ts1)] * 6
        + [(None, None, None)] * 5
        + [("b", 2**40, ts2)] * 3
        + [("a", 2, None)] * 2
    )
    return spark.createDataFrame(rows, "s string, b bigint, ts timestamp")


def test_epoch_key_types_round_trip(spark, tmp_path):
    """String, bigint, null and timestamp keys written by the driver
    read back with Spark's types through Spark and through pyarrow;
    with counters above the distinct-key count no offset applies, so
    each weight is the exact count."""
    state = str(tmp_path / "hh_types")
    keys = ["s", "b", "ts"]
    batch = _typed_batch(spark)
    app.heavy_hitters_epoch(batch, 3, state, keys, counters=10)
    exact = batch.groupBy(*keys).count().withColumnRenamed("count", "weight")

    got = spark.read.parquet(f"{state}/summary")
    assert dict(got.dtypes) == {
        "s": "string", "b": "bigint", "ts": "timestamp", "weight": "bigint", "__epoch": "int"
    }
    assert sorted(got.drop("__epoch").collect(), key=str) == sorted(exact.collect(), key=str)
    totals = spark.read.parquet(f"{state}/totals")
    assert dict(totals.dtypes) == {"n_rows": "bigint", "__epoch": "int"}
    assert [tuple(r) for r in totals.collect()] == [(16, 3)]

    table = _hive_rows(f"{state}/summary")
    assert table.column("__epoch").to_pylist() == [3] * 4
    want = exact.toArrow().to_pylist()
    assert sorted(table.drop(["__epoch"]).to_pylist(), key=str) == sorted(want, key=str)
    assert _hive_rows(f"{state}/totals").to_pylist() == [{"n_rows": 16, "__epoch": 3}]


def test_driver_epoch_merges_with_compacted_epoch0(spark, tmp_path):
    """An epoch the driver writes after compaction sits beside the
    Spark-written epoch 0 (different writers, same read schema) and
    merges exactly: with counters above the distinct-key count every
    weight is the true total and the undercount bound is 0."""
    state = str(tmp_path / "hh_mixed")
    keys = ["s", "b", "ts"]
    batches = [_typed_batch(spark) for _ in range(2)]
    batches.append(_typed_batch(spark).filter("s = 'a'"))
    for eid in (0, 1):
        app.heavy_hitters_epoch(batches[eid], eid, state, keys, counters=10)
    app.compact_heavy_hitters(spark, state, keys, counters=10)
    app.heavy_hitters_epoch(batches[2], 2, state, keys, counters=10)
    parts = sorted(d for d in os.listdir(f"{state}/summary") if d.startswith("__epoch="))
    assert parts == ["__epoch=0", "__epoch=2"]

    truth = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = sorted(
        ((tuple(r[:3]), r[3], 0.0) for r in truth.groupBy(*keys).count().collect()), key=str
    )
    got = sorted(
        ((tuple(r[:3]), r["weight"], r["max_undercount"])
         for r in app.read_heavy_hitters(spark, state, keys, counters=10).collect()),
        key=str,
    )
    assert got == want


def test_epoch_replay_leaves_one_data_file(spark, tmp_path):
    """A replayed epoch replaces its own partition: one data file, no
    temp or aside dirs left behind; an empty batch commits nothing."""
    state = tmp_path / "hh_replay"
    batch = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "k string")
    for _ in range(3):
        app.heavy_hitters_epoch(batch, 1, str(state), ["k"], counters=4)
    app.heavy_hitters_epoch(batch.limit(0), 2, str(state), ["k"], counters=4)  # idle trigger
    for sub in ("summary", "totals"):
        assert sorted(os.listdir(state / sub)) == ["_SUCCESS", "__epoch=1"]
        files = os.listdir(state / sub / "__epoch=1")
        assert len([f for f in files if not f.startswith((".", "_"))]) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(str(state / "summary")).collect()) == [
        ("a", 5, 1), ("b", 2, 1)
    ]


def test_epoch_store_passes_warehouse_fsck(spark, tmp_path):
    """The driver-side commit marks both roots committed the way a
    Spark write does, so a healthy store has no fsck finding."""
    from pubg_data_pipeline_spark.sources.io import warehouse_fsck

    state = str(tmp_path / "hh_fsck")
    batch = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "k string")
    app.heavy_hitters_epoch(batch, 0, state, ["k"], counters=4)
    assert warehouse_fsck(state) == []


def test_epoch_replay_after_crash_in_commit_swap(spark, tmp_path, monkeypatch):
    """A replay of epoch 1 crashes inside _commit_epoch_partition's swap
    (each of its four renames in turn: totals aside, totals in, summary
    aside, summary in); replaying the epoch again must give exactly the
    answer of a run that never crashed, with no side dir left."""
    import pytest

    from pubg_data_pipeline_spark.sources.io import warehouse_fsck

    batches = [
        spark.createDataFrame(
            [("a",)] * (30 + 10 * e) + [("b",)] * 12 + [(f"e{e}_{i}",) for i in range(20)],
            "k string",
        )
        for e in range(2)
    ]

    def answer(state):
        return sorted(
            tuple(r) for r in app.read_heavy_hitters(spark, state, ["k"], counters=4).collect()
        )

    clean = str(tmp_path / "clean")
    for eid, batch in enumerate(batches):
        app.heavy_hitters_epoch(batch, eid, clean, ["k"], counters=4)
    want = answer(clean)

    real = os.rename
    for fail_on in (1, 2, 3, 4):
        state = str(tmp_path / f"crash{fail_on}")
        for eid, batch in enumerate(batches):
            app.heavy_hitters_epoch(batch, eid, state, ["k"], counters=4)
        calls = []

        def rename(src, dst, calls=calls, fail_on=fail_on):
            calls.append(dst)
            if len(calls) == fail_on:
                raise OSError("injected crash")
            real(src, dst)

        monkeypatch.setattr(os, "rename", rename)
        with pytest.raises(OSError, match="injected crash"):
            app.heavy_hitters_epoch(batches[1], 1, state, ["k"], counters=4)
        monkeypatch.undo()
        app.heavy_hitters_epoch(batches[1], 1, state, ["k"], counters=4)
        assert answer(state) == want, f"crash at rename {fail_on}"
        residue = [f for f in warehouse_fsck(state) if f["kind"] in ("tmp_orphan", "aside_orphan")]
        assert residue == [], residue


def _group_jobs(spark, group, fn):
    """Run ``fn`` in its own job group; return its job ids and the
    subset that ran outside any SQL execution. A parquet read without a
    schema starts exactly such a job: footer schema inference runs while
    the read is resolved, before any query executes."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    in_sql = set()
    n_exec = store.executionsCount()
    executions = store.executionsList(max(0, n_exec - 50), 50).iterator()
    while executions.hasNext():
        it = executions.next().jobs().keys().iterator()
        while it.hasNext():
            in_sql.add(int(it.next()))
    return jobs, jobs - in_sql


def test_epoch_job_counts(spark, tmp_path):
    """Pins: a heavy-hitter epoch is one native job plus its shuffle
    stage (at most 2 jobs, no Python worker); rollup and ingest epochs
    over existing state read it with a declared schema, so neither
    starts a schema-inference job."""
    events = spark.range(2000).selectExpr(
        "timestamp_seconds(id * 60) AS ts", "CAST(id % 50 AS DOUBLE) AS value",
        "id % 37 AS k",
    )
    docs = spark.range(100).selectExpr(
        "id AS doc_id", "CONCAT('doc ', CAST(id % 70 AS STRING)) AS text"
    )
    hh, rollup = str(tmp_path / "hh"), str(tmp_path / "rollup")
    index, corpus = str(tmp_path / "index"), str(tmp_path / "corpus")
    app.heavy_hitters_epoch(events, 0, hh, ["k"], counters=8)
    app.rollup_merge_epoch(events, 0, rollup)
    app.ingest_dedup_epoch(docs, 0, index, corpus)

    jobs, _ = _group_jobs(spark, "hh-epoch", lambda: app.heavy_hitters_epoch(
        events, 1, hh, ["k"], counters=8))
    assert 1 <= len(jobs) <= 2, f"heavy-hitter epoch started {len(jobs)} jobs"
    _, outside = _group_jobs(spark, "rollup-epoch", lambda: app.rollup_merge_epoch(
        events.filter("id % 2 = 0"), 1, rollup))
    assert not outside, f"rollup epoch started jobs outside a query: {outside}"
    _, outside = _group_jobs(spark, "ingest-epoch", lambda: app.ingest_dedup_epoch(
        docs.selectExpr("doc_id + 100 AS doc_id", "text"), 1, index, corpus))
    assert not outside, f"ingest epoch started jobs outside a query: {outside}"


def test_dim_and_topk_epochs_read_state_with_declared_schema(spark, tmp_path):
    """Pins: dim-upsert and top-k epochs over existing state read it
    with the batch's schema, so neither starts a job outside a query."""
    dim = str(tmp_path / "dim")
    changes = spark.range(50).selectExpr("CAST(id % 20 AS STRING) AS k", "id AS ver")
    app.dim_upsert_epoch(changes, 0, dim, ["k"], "ver")
    _, outside = _group_jobs(spark, "dim-epoch", lambda: app.dim_upsert_epoch(
        changes.selectExpr("k", "ver + 100 AS ver"), 1, dim, ["k"], "ver"))
    assert not outside, f"dim-upsert epoch started jobs outside a query: {outside}"

    def vecs(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS vec_id", "array(sin(id), cos(id), sin(id * 0.5)) AS embedding"
        )

    topk = str(tmp_path / "topk")
    queries = vecs(1000, 1002)
    app.topk_search_epoch(vecs(0, 30), 0, queries, topk, k=3)
    _, outside = _group_jobs(spark, "topk-epoch", lambda: app.topk_search_epoch(
        vecs(30, 60), 1, queries, topk, k=3))
    assert not outside, f"top-k epoch started jobs outside a query: {outside}"
