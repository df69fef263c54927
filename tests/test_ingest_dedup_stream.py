"""Streaming corpus ingestion with dedup against the persisted
fingerprint index (streaming/app.py:streaming_ingest_dedup): each
micro-batch anti-joins history's fingerprints, keeps one keeper per
within-batch duplicate group, and appends survivors to corpus + index;
a LATER availableNow run (same checkpoint) ingests only new files and
dedups them against everything previously ingested."""

from __future__ import annotations

import json

from pyspark.sql.types import LongType, StringType, StructField, StructType

from pubg_data_pipeline_spark.streaming import app, sources

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _write_docs(path, rows):
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_streaming_ingest_dedup_across_batches_and_runs(spark, tmp_path):
    src = tmp_path / "docs"
    src.mkdir()
    index = str(tmp_path / "fp_index")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    # Run 1: two files -> two micro-batches (order between them is not
    # guaranteed, so their texts don't overlap; the within-batch dup
    # pair sits in one file and min-id keeps doc 1 either way; the
    # fingerprint normalizes case + whitespace, so docs 1 and 2 match).
    _write_docs(src / "b0.json", [(1, "alpha beta gamma"), (2, "ALPHA  beta gamma"), (3, "delta")])
    _write_docs(src / "b1.json", [(4, "epsilon zeta"), (5, "eta theta")])
    stream = sources.json_file_stream(spark, str(src), SCHEMA, max_files_per_trigger=1)
    q = app.streaming_ingest_dedup(
        stream, index, corpus, available_now=True, checkpoint=ckpt
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got == [1, 3, 4, 5]

    # Run 2: one new file; doc 6 duplicates doc 3's text (cross-RUN
    # duplicate -> dropped via the index), doc 7 is new. Docs from run 1
    # are not reprocessed (same checkpoint) and not re-appended.
    _write_docs(src / "b2.json", [(6, "  DELTA "), (7, "iota kappa")])
    q2 = app.streaming_ingest_dedup(
        stream, index, corpus, available_now=True, checkpoint=ckpt
    )
    q2.awaitTermination(120)
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert got2 == [1, 3, 4, 5, 7]
    idx = spark.read.parquet(index)
    assert idx.count() == idx.select("fingerprint").distinct().count() == 5


def test_ingest_dedup_epoch_retry_is_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: a replayed epoch (same epoch_id)
    # must leave corpus + index exactly as a single run would — both
    # for a full replay and for the nasty window where the corpus write
    # committed but the index write did not.
    import shutil

    from pubg_data_pipeline_spark.streaming.app import ingest_dedup_epoch

    index, corpus = str(tmp_path / "idx"), str(tmp_path / "corp")
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id long, text string")
    ingest_dedup_epoch(b0, 0, index, corpus)
    ingest_dedup_epoch(b0, 0, index, corpus)  # full replay (crash pre-checkpoint)
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [1, 2]

    b1 = spark.createDataFrame([(3, "alpha"), (4, "gamma")], "doc_id long, text string")
    ingest_dedup_epoch(b1, 1, index, corpus)
    # Simulate crash between the corpus and index writes of epoch 1,
    # then the retry: corpus epoch-1 data exists, its fingerprints don't.
    shutil.rmtree(f"{index}/__epoch=1")
    ingest_dedup_epoch(b1, 1, index, corpus)
    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    assert got == [1, 2, 4]  # doc 3 is a cross-epoch dup of doc 1; no double-appends
    idx = spark.read.parquet(index)
    assert idx.count() == idx.select("fingerprint").distinct().count() == 3


def test_ingest_dedup_epoch_releases_its_checkpoint(spark, tmp_path):
    """The survivors' cut dies with the epoch that took it: after each
    epoch no RDD it registered is still persisted."""
    from pubg_data_pipeline_spark.operators import ckpt

    index, corpus = str(tmp_path / "idx"), str(tmp_path / "corp")
    before = ckpt.persisted_rdd_ids(spark)
    for epoch, rows in enumerate([[(1, "alpha")], [(2, "alpha"), (3, "beta")], [(4, "gamma")]]):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        app.ingest_dedup_epoch(batch, epoch, index, corpus)
        assert ckpt.persisted_rdd_ids(spark) - before == set()
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [1, 3, 4]
