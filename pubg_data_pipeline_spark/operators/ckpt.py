"""Materialize-once lineage barriers with bounded block lifetime.

A subtree referenced more than once in a query plan re-executes once
per reference: AQE in Spark 4.1.2 never emits ReusedExchange for
duplicated subtrees (verified with minimal repros, see
OPTIMIZATION_r08.md:426), so the standard fix is a
checkpoint barrier the first consumer's own action materializes.
This module centralizes that barrier and fixes its two lifecycle
problems:

1. **Block release.** ``DataFrame.unpersist()`` is a NO-OP for
   localCheckpoint blocks (they register at the RDD layer, not the
   Dataset cache manager), so every barrier call pins one
   corpus-scale copy of its subtree for the process lifetime. The
   bench executes each query 4+ times per run — without release the
   posting/scored/tokenized intermediates accumulate one copy per
   execution. ``barrier(site=...)`` releases the blocks the PREVIOUS
   call at the same site registered, bounding each site to exactly
   one live copy. (Callers must not reuse a frame returned by an
   earlier call after re-invoking the same site — true for every
   query path: each bench/oracle execution builds a fresh plan.)

2. **Cluster fault tolerance.** localCheckpoint blocks have no
   lineage fallback: on a real cluster an executor loss mid-query
   fails the job. Setting ``SPARK_GRAFT_CHECKPOINT_DIR`` (HDFS/S3
   path on cluster deployments) routes every barrier through a
   reliable ``DataFrame.checkpoint`` into that directory instead —
   executor-loss tolerant at the cost of one distributed write. The
   local default stays localCheckpoint: fastest, and executor loss
   does not exist in local mode. :func:`checkpoint` is the only
   place that makes this choice; every eager or lazy lineage cut in
   ``operators/``, ``plans/`` and ``functions/`` goes through it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: RDD ids registered by the most recent barrier call, keyed by the
#: SparkContext's application id and the site: RDD ids restart in a
#: new context, so ids recorded under a stopped one must never be
#: released in its successor.
_SITE_BLOCKS: dict[tuple[str, str], set[int]] = {}

_CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def persisted_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently registered with the block manager.
    localCheckpoint registers its backing RDD here at CALL time (even
    eager=False), so diffing before/after a checkpoint identifies
    exactly the blocks that checkpoint owns."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.keysIterator()
    out: set[int] = set()
    while it.hasNext():
        out.add(it.next())
    return out


def release_rdds(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist the given RDD ids through the block manager's own
    registry (the only layer that can release checkpoint blocks)."""
    if not ids:
        return
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.valuesIterator()
    while it.hasNext():
        r = it.next()
        if r.id() in ids:
            r.unpersist(False)


def reliable_checkpoint_dir() -> str | None:
    """The configured reliable-checkpoint directory, or None (local
    mode default: executor-local checkpoints)."""
    return os.environ.get(_CHECKPOINT_DIR_ENV) or None


def checkpoint(df: DataFrame, eager: bool = True) -> tuple[DataFrame, set[int]]:
    """Cut ``df``'s lineage: a reliable ``DataFrame.checkpoint`` into
    ``SPARK_GRAFT_CHECKPOINT_DIR`` when it is set (the directory is
    installed once per session), otherwise ``localCheckpoint``.

    Returns the checkpointed frame and the block-manager RDD ids the
    checkpoint registered, the handle :func:`release_rdds` takes once
    the frame is dead. Reliable checkpoints register no blocks, so
    their set is empty."""
    spark = df.sparkSession
    before = persisted_rdd_ids(spark)
    ckpt_dir = reliable_checkpoint_dir()
    if ckpt_dir is None:
        out = df.localCheckpoint(eager=eager)
    else:
        if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
            spark.sparkContext.setCheckpointDir(ckpt_dir)
        out = df.checkpoint(eager=eager)
    return out, persisted_rdd_ids(spark) - before


def barrier(df: DataFrame, site: str, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` as a materialize-once barrier.

    ``site`` is a stable caller-chosen key (module:function); the
    blocks registered by the previous call at the same site are
    released, so repeated executions of one query keep exactly one
    live copy of each barrier instead of accumulating per run.

    ``eager=False`` (default) rides the first consumer's own action —
    zero extra jobs; ``eager=True`` materializes now (use when the
    barrier must exist before fan-out to independently-executed
    consumers)."""
    out, ids = checkpoint(df, eager)
    if ids:  # reliable checkpoints leave nothing to supersede
        spark = df.sparkSession
        key = (spark.sparkContext.applicationId, site)
        release_rdds(spark, _SITE_BLOCKS.get(key, set()))
        _SITE_BLOCKS[key] = ids
    return out
