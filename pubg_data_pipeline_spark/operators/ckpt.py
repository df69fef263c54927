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
   ``operators/``, ``plans/``, ``functions/`` and ``streaming/`` goes
   through it.

A cut owned by one call (an epoch, a compaction, a training loop) is
taken through :class:`Scope`, which releases it when that call
returns; ``barrier`` is for cuts whose frame outlives the call.
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
    """Ids of every RDD currently registered with the block manager,
    by every thread of the application. A before/after diff of this
    set is therefore no measure of what one checkpoint owns while
    other queries run; :func:`checkpoint` reads its id off the frame."""
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
    the frame is dead. A local checkpoint registers exactly one RDD,
    the one backing the returned frame's ``LogicalRDD`` plan, so its id
    is read off that frame: blocks that other threads register during
    an eager cut's job (another query's checkpoint, a cache first
    built then) are never counted as this cut's. Reliable checkpoints
    register no blocks, so their set is empty."""
    spark = df.sparkSession
    ckpt_dir = reliable_checkpoint_dir()
    if ckpt_dir is None:
        out = df.localCheckpoint(eager=eager)
        return out, {out._jdf.queryExecution().logical().rdd().id()}
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager), set()


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


class Scope:
    """Lineage cuts owned by one call, released when it returns.

    ``with Scope(spark) as cuts: df = cuts.cut(df)`` checkpoints
    through :func:`checkpoint` and releases every block the scope
    took when the ``with`` block exits, normally or by an exception.
    Frames cut here must not be used after that. There is no site key,
    unlike :func:`barrier`, and a scope holds only the ids its own
    cuts return: two streams running the same epoch body against
    different paths each own their blocks, so neither can release the
    other's mid-epoch."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._ids: set[int] = set()

    def __enter__(self) -> Scope:
        return self

    def __exit__(self, *exc) -> None:
        release_rdds(self._spark, self._ids)
        self._ids = set()

    def cut(self, df: DataFrame) -> DataFrame:
        """Eager :func:`checkpoint` of ``df``, owned by this scope."""
        out, ids = checkpoint(df)
        self._ids |= ids
        return out

    def supersede(self, df: DataFrame) -> DataFrame:
        """Cut ``df``, then release every earlier cut of this scope:
        an iterative loop keeps one live copy of its state."""
        old, self._ids = self._ids, set()
        out = self.cut(df)
        release_rdds(self._spark, old)
        return out
