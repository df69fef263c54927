"""Streaming/incremental NEAR-dup ingestion against the persisted
MinHash band index (operators/dedup.py:incremental_neardup_ingest,
streaming/app.py:ingest_neardup_epoch) — the fuzzy sibling of the
exact-fingerprint ingest path. The policy core is pinned on hand-built
band tables (no hashing involved, fully deterministic); the end-to-end
paths are pinned with identical-text duplicates (guaranteed band
collisions) plus a one-word-edit near-dup whose collision is
deterministic for fixed strings (xxhash64 has no RNG)."""

from __future__ import annotations

import json

from pyspark.sql.types import LongType, StringType, StructField, StructType

from pubg_data_pipeline_spark.operators import dedup
from pubg_data_pipeline_spark.streaming import app, sources

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "sleepy badgers watch from the mossy river bank at dawn"
)
NEAR = BASE.replace("seventeen", "nineteen")  # one-word edit: near-dup
OTHER = (
    "completely different subject matter entirely unrelated to any "
    "animal story lorem ipsum quantum flux capacitor manifold"
)


def _bt(spark, rows):
    return spark.createDataFrame(rows, "doc long, band_idx int, band_key long")


def test_survivor_bands_greedy_policy_is_bucket_min_everywhere(spark):
    # bucket (0, 10): {1, 3}; bucket (1, 20): {2, 3}; doc 4 alone.
    # Greedy-by-id: 3 loses to 1 in its first bucket -> dropped;
    # 2 is the min of its only bucket -> survives (single-linkage
    # closure would have kept only {1, 4}; the greedy policy keeps 2
    # because its sole collision partner is a larger id -- documented).
    bt = _bt(spark, [(1, 0, 10), (3, 0, 10), (2, 1, 20), (3, 1, 20), (4, 2, 30)])
    out = dedup.neardup_survivor_bands(bt, None)
    assert sorted(r.doc for r in out.select("doc").distinct().collect()) == [1, 2, 4]
    # a survivor keeps ALL its band rows (future batches must be able
    # to collide with it on any band)
    assert out.count() == 3


def test_survivor_bands_history_always_wins(spark):
    bt = _bt(spark, [(10, 0, 10), (10, 1, 99), (11, 5, 77)])
    index = _bt(spark, [(1, 0, 10)]).select("band_idx", "band_key")
    out = dedup.neardup_survivor_bands(bt, index)
    # doc 10 shares bucket (0, 10) with history -> dropped entirely
    # (including its non-colliding (1, 99) band); doc 11 survives.
    assert [r.doc for r in out.select("doc").distinct().collect()] == [11]


def test_incremental_neardup_ingest_against_persisted_index(spark, tmp_path):
    path = str(tmp_path / "bands")
    hist = spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id long, text string")
    dedup.write_band_index(hist, path, text_col="text", id_col="doc_id")
    batch = spark.createDataFrame(
        [(10, BASE), (11, NEAR), (12, "fresh unseen words about volcanic glass formations")],
        "doc_id long, text string",
    )
    out = dedup.incremental_neardup_ingest(spark, path, batch, "text", "doc_id")
    survivors = sorted(r.doc for r in out.select("doc").distinct().collect())
    # 10 is an exact dup of history (all bands collide); 11 is the
    # one-word-edit near-dup (collides on >=1 band for these fixed
    # strings); 12 is genuinely new.
    assert survivors == [12]


def test_ingest_neardup_epoch_retry_is_idempotent(spark, tmp_path):
    index, corpus = str(tmp_path / "idx"), str(tmp_path / "corp")
    b0 = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, OTHER)], "doc_id long, text string"
    )
    app.ingest_neardup_epoch(b0, 0, index, corpus)
    app.ingest_neardup_epoch(b0, 0, index, corpus)  # full replay
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert got == [1, 3]  # within-batch dup keeps min id; no replay dupes

    # next epoch: near-dup of an indexed survivor is dropped cross-epoch
    b1 = spark.createDataFrame([(4, NEAR), (5, "brand new glacier text")], "doc_id long, text string")
    app.ingest_neardup_epoch(b1, 1, index, corpus)
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert got == [1, 3, 5]


def test_compact_ingest_index_preserves_dedup_decisions(spark, tmp_path):
    # Two epochs build a multi-partition band index; compaction folds
    # it to one __epoch=0 partition. A later epoch must make the SAME
    # decisions against the compacted index (membership is unchanged).
    index, corpus = str(tmp_path / "idx"), str(tmp_path / "corp")
    app.ingest_neardup_epoch(
        spark.createDataFrame([(1, BASE)], "doc_id long, text string"), 0, index, corpus
    )
    app.ingest_neardup_epoch(
        spark.createDataFrame([(2, OTHER)], "doc_id long, text string"), 1, index, corpus
    )
    import os

    epochs_before = {d for d in os.listdir(index) if d.startswith("__epoch=")}
    assert epochs_before == {"__epoch=0", "__epoch=1"}
    app.compact_ingest_index(spark, index, ["band_idx", "band_key"])
    assert {d for d in os.listdir(index) if d.startswith("__epoch=")} == {"__epoch=0"}

    b2 = spark.createDataFrame(
        [(3, NEAR), (4, OTHER), (5, "entirely novel meteorite prose")],
        "doc_id long, text string",
    )
    app.ingest_neardup_epoch(b2, 2, index, corpus)
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert got == [1, 2, 5]  # 3 near-dups doc 1, 4 exact-dups doc 2 — both still caught

    # same protocol for the exact-fingerprint index
    fidx, fcorp = str(tmp_path / "fidx"), str(tmp_path / "fcorp")
    app.ingest_dedup_epoch(
        spark.createDataFrame([(1, "alpha")], "doc_id long, text string"), 0, fidx, fcorp
    )
    app.ingest_dedup_epoch(
        spark.createDataFrame([(2, "beta")], "doc_id long, text string"), 1, fidx, fcorp
    )
    app.compact_ingest_index(spark, fidx, ["fingerprint"])
    app.ingest_dedup_epoch(
        spark.createDataFrame([(3, "ALPHA "), (4, "gamma")], "doc_id long, text string"),
        2,
        fidx,
        fcorp,
    )
    assert sorted(r.doc_id for r in spark.read.parquet(fcorp).collect()) == [1, 2, 4]


def _write_docs(path, rows):
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_streaming_ingest_neardup_across_batches_and_runs(spark, tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    index = str(tmp_path / "band_index")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    _write_docs(src / "b0.json", [(1, BASE), (2, BASE), (3, OTHER)])
    stream = sources.json_file_stream(spark, str(src), SCHEMA, max_files_per_trigger=1)
    q = app.streaming_ingest_neardup(stream, index, corpus, available_now=True, checkpoint=ckpt)
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [1, 3]

    # Run 2 (same checkpoint): doc 4 is the near-dup edit of doc 1 ->
    # dropped via the persisted index; doc 5 is new.
    _write_docs(src / "b1.json", [(4, NEAR), (5, "unrelated basalt column essay")])
    q2 = app.streaming_ingest_neardup(stream, index, corpus, available_now=True, checkpoint=ckpt)
    q2.awaitTermination(120)
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [1, 3, 5]


def _staged_only(root, table) -> None:
    """What a dynamic overwrite that died mid-job leaves behind: its
    files under ``root/.spark-staging-*``, which Spark's reader never
    lists."""
    import pyarrow.parquet as pq

    staged = root / ".spark-staging-abc" / "__epoch=0"
    staged.mkdir(parents=True)
    pq.write_table(table, str(staged / "part-00000.parquet"))


def test_ingest_neardup_epoch_survives_a_crashed_index_write(spark, tmp_path):
    """An index dir whose only parquet file sits under a crashed
    write's staging dir holds nothing a reader can see; the epoch and
    its replay must treat it as empty, not infer a schema from it."""
    import pyarrow as pa

    index, corpus = tmp_path / "idx", str(tmp_path / "corp")
    _staged_only(index, pa.table({"band_idx": [0], "band_key": [10], "keeper_id": [9]}))
    b0 = spark.createDataFrame(
        [(1, BASE), (2, BASE), (3, OTHER)], "doc_id long, text string"
    )
    app.ingest_neardup_epoch(b0, 0, str(index), corpus)
    app.ingest_neardup_epoch(b0, 0, str(index), corpus)  # replay
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [1, 3]


def test_has_data_files_lists_what_spark_lists(tmp_path):
    """One hidden-name rule, shared by the sinks' stored-state probe
    and the snapshot tables' part-file listing."""
    import pyarrow as pa

    from pubg_data_pipeline_spark.sources import io, snapshots

    t = pa.table({"x": [1]})
    assert not io.has_data_files(str(tmp_path / "missing"))
    _staged_only(tmp_path / "t", t)
    (tmp_path / "t" / "_SUCCESS").touch()
    (tmp_path / "t" / ".part.parquet").touch()
    assert not io.has_data_files(str(tmp_path / "t"))
    assert snapshots._list_part_files(str(tmp_path / "t")) == []
    (tmp_path / "t" / "__epoch=3").mkdir()
    (tmp_path / "t" / "__epoch=3" / "part-0.parquet").touch()
    assert io.has_data_files(str(tmp_path / "t"))
    (tmp_path / "t" / "part-1.parquet").touch()
    assert snapshots._list_part_files(str(tmp_path / "t")) == [
        str(tmp_path / "t" / "part-1.parquet")
    ]
