"""SparkSession factory.

The reference builds its sessions ad hoc with a pinned Asia/Seoul
timezone (reference: spark_apps/pubg_streaming.py:7-16,
spark_apps/advanced_analytics.py:16-25). Here the timezone is an
explicit parameter, AQE is on by default, and the parquet
nanosecond-timestamp legacy flag is set so a timestamp[ns] encoding of
the synthetic ``events`` table stays readable (the generated data has
drifted between ns/us encodings across rounds; ``sources.tables``
normalizes whichever one it finds to session-zoned TimestampType).

Designed for scale: every config below is also safe on a large
cluster — AQE handles skew joins and coalesces small shuffle
partitions at runtime; the broadcast threshold stays at Spark's
default so Catalyst auto-broadcasts small dimension tables.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import SparkSession

_T = TypeVar("_T")

# Runtime SQL confs we require regardless of who built the session.
# Applied via configure_session() so the engine also works when handed
# a foreign SparkSession (e.g. the verification driver's).
_RUNTIME_CONFS: dict[str, str] = {
    # If events.parquet stores timestamp[ns], Spark reads it as LongType
    # under this flag and sources.tables converts to timestamp(us).
    # (Current generated data stores timestamp[us]-NTZ; tables.load_table
    # normalizes that encoding too. Keeping the flag costs nothing and
    # guards against the data regenerating back to ns.)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics matching the DuckDB oracle
    # (naive timestamps read as-is).
    "spark.sql.session.timeZone": "UTC",
    # Read parquet timestamp[us] isAdjustedToUTC=false as session-zoned
    # TimestampType instead of TimestampNTZType (the pre-3.4 behavior).
    # Under the pinned UTC session timezone the values are identical,
    # but the plan shape is not: with NTZ inference on, every consumer
    # pays a cast(ts as timestamp) ABOVE the scan, which blocks parquet
    # predicate pushdown on time filters (observed: PushedFilters lost
    # every ts range predicate; with this flag the same filter reaches
    # the scan as GreaterThan(ts, ...)). At 100 TB that pushdown is
    # row-group/file skipping on the primary clustering axis of an
    # events table — the single highest-leverage scan optimization
    # (optimization guide §6). load_table keeps its NTZ-normalizing
    # branch for robustness if a foreign session drops this conf.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Runtime re-planning: coalesce small partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold (one side much smaller AND its per-partition
    # build fits memory), and let AQE rewrite SMJ->SHJ at runtime when
    # every post-shuffle partition is under the threshold — skipping
    # both sort passes (optimization guide §3.1 and §9 recommend this
    # baseline). Measured on the SMJ-bearing queries: 9-query A/B at
    # sf0.1 went 21.2s -> 14.5s with no regression surviving re-probe.
    # Memory safety at cluster scale: the AQE rewrite is bounded by the
    # per-partition threshold below, and the static preference still
    # requires the planner's canBuildLocalHashMap check; both are
    # plain runtime confs a deployment can override.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "128m",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    Idempotent; call at every entry point that may receive a session
    built elsewhere. Memoized per session object: load_table calls
    this for every table it opens, and each conf.set is a py4j
    round-trip — a 5-table query was paying ~40 needless driver RPCs
    per construction. The flag lives on the session instance, so a new
    or foreign session is always configured on first touch.
    """
    if getattr(spark, "_pds_confs_applied", None) == id(_RUNTIME_CONFS):
        return spark
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-runtime conf on this build — best effort.
            pass
    try:
        spark._pds_confs_applied = id(_RUNTIME_CONFS)
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "pubg-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = "UTC",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster leave it unset and let AQE coalesce from a higher initial
    number (set e.g. 2000 for 100 TB inputs via ``extra_conf``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local[N] runs all N executor threads inside the driver JVM —
        # size the heap for N concurrent tasks' shuffle/broadcast state
        # (8g showed multi-second GC churn at local[32]; -Xmx reserves
        # address space only, so a generous cap is free on this box).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        # Reliable checkpoints (SPARK_GRAFT_CHECKPOINT_DIR) write a new
        # directory per barrier call and per CC round; let the context
        # cleaner delete each once its RDD is garbage-collected, or the
        # checkpoint dir grows without bound.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.sql.session.timeZone", timezone)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return configure_session(spark)


def artifact(spark: SparkSession, key: Hashable | None, build: Callable[[], _T]) -> _T:
    """Session-scoped memo for derived artifacts: return what
    ``build()`` made the first time ``key`` was asked for on this
    session, building it now if it was not. ``key=None`` builds
    without memoizing.

    The memo hangs off the session object, so a stopped session's
    frames die with it and a new session starts empty; keys never name
    the application, and nothing is evicted. Each caller keys by site
    and by dataset (``plans.base.dataset_cache_tag`` or an explicit
    cache key), so a regenerated dataset builds afresh."""
    if key is None:
        return build()
    memo = getattr(spark, "_pds_artifacts", None)
    if memo is None:
        memo = spark._pds_artifacts = {}
    if key not in memo:
        memo[key] = build()
    return memo[key]
