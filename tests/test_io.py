"""Storage-layout tests that assert PLAN SHAPE, not just results:
partition pruning reaches the scan, bucketed joins drop the shuffle —
the two storage levers that dominate 100 TB query cost."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.sources import io
from pubg_data_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_date_partitioned_write_prunes(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").limit(2000)
    path = str(tmp_path / "events_by_date")
    io.write_partitioned_by_date(ev, path, "ts")

    back = spark.read.parquet(path)
    one_day = back.filter(F.col("p_date") == "2024-01-03")
    plan = _plan(one_day)
    assert "PartitionFilters" in plan and "p_date" in plan
    # pruned scan reads fewer files than a full scan would
    assert one_day.count() > 0


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        orders = load_table(spark, SF_DIR, "orders")
        li = load_table(spark, SF_DIR, "lineitem")
        io.write_bucketed_table(
            orders, "orders_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"]
        )
        io.write_bucketed_table(
            li, "lineitem_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"]
        )
        a = spark.table("orders_b")
        b = spark.table("lineitem_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = _plan(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # same join on the raw (unbucketed) tables DOES shuffle
        raw = load_table(spark, SF_DIR, "orders").join(
            load_table(spark, SF_DIR, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        assert "Exchange" in _plan(raw)
        # and results agree
        assert joined.count() == raw.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_band_index_probe_is_shuffle_free_on_index_side(spark, tmp_path):
    """dedup.py's band-index docstring promise, plan-asserted: probing
    a band index written BUCKETED on (band_idx, band_key) must not
    exchange the index side — same probe against a plain parquet index
    pays exactly one more Exchange (the index re-shuffle), with
    identical survivor results."""
    from pubg_data_pipeline_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    hist = docs.filter(F.col("doc_id") % 4 < 3)
    batch = docs.filter(F.col("doc_id") % 4 == 3)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # index >> batch at scale
    try:
        dedup.write_band_index_table(hist, "band_index_b", "text", "doc_id", num_buckets=8)
        path = str(tmp_path / "band_index_plain")
        dedup.write_band_index(hist, path, "text", "doc_id")

        bucketed = dedup.incremental_neardup_ingest_table(
            spark, "band_index_b", batch, "text", "doc_id"
        )
        plain = dedup.incremental_neardup_ingest(spark, path, batch, "text", "doc_id")
        plan_b, plan_p = _plan(bucketed), _plan(plain)
        assert "Bucketed: true" in plan_b, plan_b  # the index scan really is bucket-aware
        n_ex_b = plan_b.count("Exchange") - plan_b.count("ReusedExchange")
        n_ex_p = plan_p.count("Exchange") - plan_p.count("ReusedExchange")
        assert n_ex_b == n_ex_p - 1, (
            f"bucketed index probe should drop exactly the index-side shuffle "
            f"(bucketed={n_ex_b}, plain={n_ex_p})\n{plan_b}"
        )
        got_b = {tuple(r) for r in bucketed.collect()}
        got_p = {tuple(r) for r in plain.collect()}
        assert got_b == got_p and got_b
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS band_index_b")


def test_csv_json_roundtrip(spark, tmp_path):
    csv = tmp_path / "t.csv"
    csv.write_text("k,v\na,1\nb,2\nnot-a-number-row,xyz")
    df = io.read_csv(spark, str(csv), schema="k string, v int")
    rows = {(r["k"], r["v"]) for r in df.collect()}
    assert ("a", 1) in rows and ("b", 2) in rows
    assert ("not-a-number-row", None) in rows  # PERMISSIVE null, no crash

    jl = tmp_path / "t.jsonl"
    jl.write_text('{"k": "a", "v": 1}\n{"k": "b", "v": 2}')
    jdf = io.read_json(spark, str(jl), schema="k string, v long")
    assert jdf.count() == 2


def test_bucket_key_aggregation_skips_exchange(spark):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, SF_DIR, "lineitem")
        io.write_bucketed_table(li, "lineitem_b2", ["l_orderkey"], 8)
        agg = spark.table("lineitem_b2").groupBy("l_orderkey").agg(F.sum("l_quantity"))
        assert "Exchange" not in _plan(agg)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS lineitem_b2")


def test_zorder_write_tiles_both_columns(spark, tmp_path):
    # 64x64 grid of (a, b): a linear sort on `a` gives each file the
    # FULL range of b (no skipping on b); z-order must give every file
    # a narrow span on BOTH columns.
    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("a"), (F.col("id") / n).cast("long").alias("b")
    )
    zpath = str(tmp_path / "zordered")
    io.write_zordered(grid, zpath, "a", "b", num_files=16)

    spans = (
        spark.read.parquet(zpath)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("a") - F.min("a")).alias("span_a"),
            (F.max("b") - F.min("b")).alias("span_b"),
        )
        .collect()
    )
    assert len(spans) >= 8
    avg_span_a = sum(r["span_a"] for r in spans) / len(spans)
    avg_span_b = sum(r["span_b"] for r in spans) / len(spans)
    # Perfect tiling of 16 files over a 64x64 grid = 16x16 tiles
    # (span 15). Allow slack for range-boundary sampling; the point is
    # BOTH spans are far below the full range (63), which a
    # single-column sort cannot achieve (span_b would be ~63).
    assert avg_span_a < 32, avg_span_a
    assert avg_span_b < 32, avg_span_b
    # and the data survives the layout intact
    assert spark.read.parquet(zpath).count() == n * n


def test_compact_parquet_reduces_files(spark, tmp_path):
    p = str(tmp_path / "frag")
    # simulate a streaming sink's fragmentation: 32 tiny files
    spark.range(1000).repartition(32).write.parquet(p)
    import glob

    assert len(glob.glob(f"{p}/*.parquet")) == 32
    io.compact_parquet(spark, p, target_files=4, sort_within_by=["id"])
    assert len(glob.glob(f"{p}/*.parquet")) == 4
    assert spark.read.parquet(p).count() == 1000


def test_observed_metrics_single_pass(spark):
    # Observation API: pipeline data-quality counters piggyback on the
    # write action — no second scan of the input.
    from pyspark.sql import Observation

    obs = Observation("quality")
    ev = load_table(spark, SF_DIR, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("value") < 0).alias("n_negative"),
        F.max("ts").alias("max_ts"),
    )
    ev.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] > 0
    assert got["n_negative"] == 0
    assert got["max_ts"] is not None


def test_dynamic_partition_pruning_on_date_join(spark, tmp_path):
    # A date-partitioned fact joined to a dim filtered on a NON-key
    # attribute must get a runtime partition filter (DPP): the dim's
    # matching dates are computed first and injected into the fact scan
    # as dynamicpruningexpression, so only matching date directories
    # are read. Note the dim filter must be "likely selective" to the
    # optimizer (equality/IN — a bare boolean attribute is not).
    ev = load_table(spark, SF_DIR, "events").limit(5000)
    path = str(tmp_path / "evp")
    io.write_partitioned_by_date(ev, path, "ts")
    fact = spark.read.parquet(path)
    dim = (
        fact.select("p_date")
        .distinct()
        .withColumn("dow", F.dayofweek(F.to_date("p_date")))
    )
    dim.write.parquet(str(tmp_path / "dim"))
    dim_back = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("dow") == 3)
    joined = fact.join(dim_back, "p_date").agg(F.sum("value").alias("s"))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = joined._jdf.queryExecution().explainString(mode)
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() == 1


def test_runtime_bloom_filter_prunes_join_probe_side(spark):
    # Runtime bloom-filter join pruning: the selective orders filter is
    # turned into a bloom filter applied to the lineitem scan BEFORE
    # the shuffle, cutting shuffle volume by the filter's selectivity.
    # Size thresholds are relaxed to demonstrate the mechanism at test
    # scale (defaults only engage it for >10MB creation sides, i.e.
    # real workloads).
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_drop_stale_managed_location_local_only(tmp_path, monkeypatch):
    # The stale-location sweep rm-rf's warehouse subdirs; that is only
    # valid when the warehouse is a local filesystem path. A remote URI
    # (hdfs/s3a) must be left strictly alone.
    import shutil

    from pubg_data_pipeline_spark.plans import analytic_queries as aq

    removed = []
    monkeypatch.setattr(shutil, "rmtree", lambda p, **kw: removed.append(str(p)))

    class _FakeSpark:
        def __init__(self, warehouse, known=()):
            self._wh = warehouse
            self.conf = type("C", (), {"get": lambda _s, k, d=None: warehouse})()
            self.catalog = type(
                "K", (), {"tableExists": lambda _s, t: t in known}
            )()

    stale = tmp_path / "stale_tbl"
    stale.mkdir()

    aq._drop_stale_managed_location(_FakeSpark("hdfs://nn:8020/warehouse"), "stale_tbl")
    assert removed == [], "remote warehouse must never be swept"

    aq._drop_stale_managed_location(_FakeSpark(f"file:{tmp_path}"), "stale_tbl")
    assert removed == [str(stale)]


def test_read_binary_files_glob_and_size_filter(spark, tmp_path):
    from pubg_data_pipeline_spark.sources import io as sio

    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.png").write_bytes(b"\x89PNG" + b"x" * 10)
    (d / "b.png").write_bytes(b"\x89PNG" + b"y" * 5000)
    (d / "c.txt").write_bytes(b"not an image")

    all_pngs = sio.read_binary_files(spark, str(d), glob="*.png")
    assert all_pngs.count() == 2
    small = sio.read_binary_files(spark, str(d), glob="*.png", max_bytes=100)
    rows = small.collect()
    assert len(rows) == 1
    assert rows[0]["path"].endswith("a.png")
    assert bytes(rows[0]["content"]).startswith(b"\x89PNG")
    # the size filter must reach the source as a pushed data filter
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "length" in plan and "binaryFile" in plan


def test_orc_roundtrip(spark, tmp_path):
    from pubg_data_pipeline_spark.sources import io as sio

    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double")
    p = str(tmp_path / "t.orc")
    sio.write_orc(df, p)
    back = sio.read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == [(1, "a", 1.5), (2, "b", 2.5)]
    assert dict(back.dtypes) == dict(df.dtypes)


def test_propagate_deletes_touches_only_affected_partitions(spark, tmp_path):
    import os

    from pubg_data_pipeline_spark.sources import io as sio
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(k, k % 3, f"v{k}") for k in range(30)], "user_id long, day int, v string"
    )
    df.write.partitionBy("day").parquet(path)

    # snapshot file states of the partition that will NOT be touched
    untouched_dir = os.path.join(path, "day=2")
    before = {
        f: os.stat(os.path.join(untouched_dir, f)).st_mtime_ns
        for f in os.listdir(untouched_dir)
    }

    # delete keys living in day=0 and day=1 only (all multiples of 3 and
    # key 1); wipe day=0 entirely (all user_id % 3 == 0 live there)
    kill = spark.createDataFrame(
        [(k,) for k in range(0, 30, 3)] + [(1,)], "user_id long"
    )
    stats = sio.propagate_deletes(spark, path, kill, "user_id", "day")
    assert stats == {"affected_partitions": 2, "deleted_rows": 11}

    back = spark.read.parquet(path)
    assert back.filter(F.col("user_id") % 3 == 0).count() == 0
    assert back.filter("user_id = 1").count() == 0
    assert back.count() == 19
    # day=0 died entirely -> directory removed
    assert not os.path.isdir(os.path.join(path, "day=0"))
    # day=2's files are byte-identical (never read for rewrite, never written)
    after = {
        f: os.stat(os.path.join(untouched_dir, f)).st_mtime_ns
        for f in os.listdir(untouched_dir)
    }
    assert after == before


def test_propagate_deletes_no_matches_is_noop(spark, tmp_path):
    from pubg_data_pipeline_spark.sources import io as sio

    path = str(tmp_path / "t2")
    spark.createDataFrame([(1, 0)], "user_id long, day int").write.partitionBy(
        "day"
    ).parquet(path)
    kill = spark.createDataFrame([(999,)], "user_id long")
    assert sio.propagate_deletes(spark, path, kill, "user_id", "day") == {
        "affected_partitions": 0,
        "deleted_rows": 0,
    }
    assert spark.read.parquet(path).count() == 1


def test_propagate_deletes_rejects_remote_uri(spark):
    import pytest

    from pubg_data_pipeline_spark.sources import io as sio

    kill = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(ValueError, match="DELETE"):
        sio.propagate_deletes(spark, "s3a://b/t", kill, "user_id", "day")


def test_propagate_deletes_guards_high_cardinality_partitions(spark, tmp_path):
    # A delete sweep hitting more partitions than the cap must fail
    # loudly (driver-OOM guard), leaving the table untouched.
    import pytest

    from pubg_data_pipeline_spark.sources import io as sio

    path = str(tmp_path / "t_hc")
    spark.createDataFrame(
        [(k, k) for k in range(8)], "user_id long, day int"
    ).write.partitionBy("day").parquet(path)
    kill = spark.createDataFrame([(k,) for k in range(8)], "user_id long")
    with pytest.raises(ValueError, match="max_affected_partitions"):
        sio.propagate_deletes(
            spark, path, kill, "user_id", "day", max_affected_partitions=3
        )
    assert spark.read.parquet(path).count() == 8  # nothing rewritten
    # raising the cap lets the same sweep through
    stats = sio.propagate_deletes(
        spark, path, kill, "user_id", "day", max_affected_partitions=8
    )
    assert stats == {"affected_partitions": 8, "deleted_rows": 8}


def test_expire_partitions_drops_old_without_reading(spark, tmp_path):
    from pubg_data_pipeline_spark.sources import io as sio

    path = str(tmp_path / "t3")
    spark.createDataFrame(
        [(1, "2024-01-10"), (2, "2024-01-15"), (3, "2024-01-20")], "id long, day string"
    ).write.partitionBy("day").parquet(path)
    dropped = sio.expire_partitions(path, "day", keep=lambda d: d >= "2024-01-15")
    assert dropped == ["2024-01-10"]
    back = spark.read.parquet(path)
    # (partition values type-infer to dates on read)
    assert sorted(str(r["day"]) for r in back.collect()) == ["2024-01-15", "2024-01-20"]


def test_vacuum_state_artifacts(spark, tmp_path):
    import os

    from pubg_data_pipeline_spark.sources import io as sio

    state = tmp_path / "state"
    state.mkdir()
    (state / "x").write_text("live")
    tmp1 = tmp_path / ".state.tmp-7"
    tmp1.mkdir()
    old = tmp_path / ".state.old"
    old.mkdir()
    removed = sio.vacuum_state_artifacts(str(state))
    assert len(removed) == 2
    assert os.path.isdir(str(state)) and not os.path.isdir(str(tmp1)) and not os.path.isdir(str(old))
    # the aside is PRESERVED when the main path is missing (recovery needs it)
    os.rename(str(state), str(tmp_path / ".state.old"))
    assert sio.vacuum_state_artifacts(str(state)) == []
    assert os.path.isdir(str(tmp_path / ".state.old"))


def test_vacuum_removes_crashed_compaction_tmp(spark, tmp_path, monkeypatch):
    """compact_parquet stages its rewrite under the same tmp naming rule
    as every other swap, so the tmp a crashed compaction strands is
    found and removed by vacuum_state_artifacts."""
    import os

    from pubg_data_pipeline_spark.sources import io as sio

    path = str(tmp_path / "tbl")
    spark.range(100).repartition(4).write.parquet(path)

    def crash(src, dst):
        raise OSError("injected crash")

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="injected crash"):
        sio.compact_parquet(spark, path, target_files=1)
    monkeypatch.undo()
    assert len(os.listdir(tmp_path)) == 2  # the table and a stranded tmp
    removed = sio.vacuum_state_artifacts(path)
    assert len(removed) == 1
    assert os.listdir(tmp_path) == ["tbl"]
    assert spark.read.parquet(path).count() == 100


def test_propagate_deletes_removes_escaped_partition_dirs(spark, tmp_path):
    """Hive-escaped partition values (':' -> '%3A' on disk): a fully
    deleted partition must still be found and removed."""
    import os

    from pubg_data_pipeline_spark.sources import io as sio

    path = str(tmp_path / "t4")
    spark.createDataFrame(
        [(1, "2024:A"), (2, "2024:A"), (3, "plain")], "user_id long, tag string"
    ).write.partitionBy("tag").parquet(path)
    escaped = [d for d in os.listdir(path) if d.startswith("tag=") and "%3A" in d]
    assert escaped, "precondition: the partition dir is percent-encoded"

    kill = spark.createDataFrame([(1,), (2,)], "user_id long")
    stats = sio.propagate_deletes(spark, path, kill, "user_id", "tag")
    assert stats["deleted_rows"] == 2
    assert not any("%3A" in d for d in os.listdir(path))  # emptied dir gone
    assert spark.read.parquet(path).count() == 1


def test_resilient_read_skips_corrupt_file(spark, tmp_path):
    import glob

    from pubg_data_pipeline_spark.sources import io as sio

    p = str(tmp_path / "t5")
    spark.range(100).repartition(4).write.parquet(p)
    # truncate one data file mid-footer: a plain read must fail, the
    # resilient read must return the other files' rows
    victim = sorted(glob.glob(f"{p}/part-*.parquet"))[0]
    data = open(victim, "rb").read()
    open(victim, "wb").write(data[: len(data) // 2])

    import pytest

    with pytest.raises(Exception):
        spark.read.parquet(p).count()
    n = sio.read_parquet_resilient(spark, p, schema="id long").count()
    assert 0 < n < 100  # survivors only, no crash


def test_read_evolving_parquet_surfaces_late_columns(spark, tmp_path):
    """Appends that ADD a column must not lose it (or crash) on read:
    mergeSchema unions footers; old rows see the new column as null."""
    from pubg_data_pipeline_spark.sources import io

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x")], "id long, a string").write.mode("append").parquet(p)
    spark.createDataFrame(
        [(2, "y", 7.5)], "id long, a string, score double"
    ).write.mode("append").parquet(p)

    out = {r["id"]: (r["a"], r["score"]) for r in io.read_evolving_parquet(spark, p).collect()}
    assert out == {1: ("x", None), 2: ("y", 7.5)}


def test_jsonl_export_roundtrip_sharded_and_checksummed(spark, tmp_path):
    """write_jsonl -> read_jsonl roundtrips the training export: shard
    directories exist, gzip is applied, and the order-independent
    manifest checksum recomputed from the READ-BACK export matches the
    one computed from the source — delivery-integrity end-to-end."""
    import os

    from pubg_data_pipeline_spark.functions.text import rolling_fingerprint
    from pubg_data_pipeline_spark.sources.io import read_jsonl, write_jsonl

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 4).alias("shard")
    )
    path = str(tmp_path / "export")
    write_jsonl(docs, path, shard_col="shard")
    shard_dirs = [d for d in os.listdir(path) if d.startswith("shard=")]
    assert sorted(shard_dirs) == ["shard=0", "shard=1", "shard=2", "shard=3"]
    gz = [
        f
        for d in shard_dirs
        for f in os.listdir(os.path.join(path, d))
        if f.endswith(".json.gz")
    ]
    assert gz, "expected gzip-compressed part files"

    back = read_jsonl(spark, path, schema="doc_id BIGINT, text STRING, shard INT")

    def checksum(df):
        return {
            r["shard"]: (r["n"], r["ck"])
            for r in df.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(rolling_fingerprint(F.col("text")), F.lit(1_000_003)))
                .cast("long")
                .alias("ck"),
            )
            .collect()
        }

    assert checksum(back) == checksum(docs)


def test_compaction_crash_is_recoverable(spark, tmp_path):
    """compact_parquet's rename-aside swap: simulate a crash between
    the two renames (table aside, fresh copy stranded at its tmp) —
    commitproto.recover restores the original and vacuum_state_artifacts
    drops the unpublished tmp."""
    import os

    from pubg_data_pipeline_spark.sources import commitproto
    from pubg_data_pipeline_spark.sources import io as sio

    path = str(tmp_path / "tbl")
    tmp = commitproto.tmp_dir(path, "compact")
    spark.range(100).write.parquet(path)
    spark.range(100).repartition(1).write.parquet(tmp)
    os.rename(path, commitproto.aside_dir(path))  # the crash window state

    assert commitproto.recover(path) is True
    assert spark.read.parquet(path).count() == 100
    assert sio.vacuum_state_artifacts(path) == [tmp]
    assert not os.path.isdir(tmp)
    assert commitproto.recover(path) is False  # healthy -> no-op
