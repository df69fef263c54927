"""Query-spec registry shared by __spark_entry__, tests, and bench.

Each QuerySpec pairs a Spark query function with (when SQL-expressible)
an equivalent DuckDB oracle query over the same parquet tables. The
driver's correctness gate compares them by row count + schema +
order-insensitive value hash with columns sorted by name — so specs
must alias every computed column identically on both sides and make
every value deterministic across engines.

Cross-engine determinism rules used throughout the plans:
- Money-like double aggregates are summed as exact scaled integers
  (per-row ``CAST(ROUND(x * 10^s) AS BIGINT)``; per-row IEEE double
  arithmetic is bit-identical across engines, and integer sums are
  order-independent), then divided/rounded at the end.
- Ratios/averages are derived from exact integer sums by one double
  division (deterministic) rather than engine AVG over doubles.
- Rank/top-k orderings sort on ROUNDED scores and tie-break on a key
  column, so near-tie float noise cannot reorder across engines.
- Time bucket keys are emitted as formatted strings (second/hour
  granularity) — precision-safe vs the ns-resolution DuckDB view.
- stddev/zscore outputs are rounded to 4dp (cross-engine agg-order
  noise is ~1e-13, five orders below the rounding quantum).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    tags: tuple[str, ...] = field(default=())


def ensure_index_cache(path: str, build: Callable[[], object], marker_subdir: str | None = None) -> None:
    """Build-once gate for persisted derived indexes (fingerprint /
    band / IVF caches keyed by :func:`dataset_cache_tag`): an existing
    directory is trusted ONLY when Spark's ``_SUCCESS`` commit marker
    is present — under ``marker_subdir`` when the index has multiple
    components (pass the one written LAST, so its marker implies the
    rest committed). A bare ``isdir()`` check treats the partial
    leftovers of a crashed build as a complete index and silently
    serves wrong survivor sets until the cache is hand-deleted; here
    the partial directory is removed and the index rebuilt instead."""
    import os
    import shutil

    marker_dir = os.path.join(path, marker_subdir) if marker_subdir else path
    if os.path.exists(os.path.join(marker_dir, "_SUCCESS")):
        return
    if os.path.isdir(path):
        shutil.rmtree(path)
    build()


def dataset_cache_tag(sf_dir: str, *tables: str) -> str:
    """Cache key for per-dataset derived artifacts (persisted IVF /
    fingerprint indexes, bucketed tables): hashes the sf_dir PLUS the
    mtime and size of each source parquet, so a driver-side testdata
    regeneration (same paths, new content — the round-2 failure class)
    invalidates every cache instead of silently serving stale derived
    data."""
    import hashlib
    import os

    h = hashlib.sha1(sf_dir.encode())
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(path)
            h.update(f"{t}:{st.st_mtime_ns}:{st.st_size}".encode())
        except OSError:
            h.update(f"{t}:missing".encode())
    return h.hexdigest()[:12]


def disk_cache_path(cache_dir: str, name: str, sf_dir: str, table: str) -> str:
    """``<repo root>/<cache_dir>/<name>_<tag>``: where a persisted
    per-dataset artifact lives, ``tag`` being the
    :func:`dataset_cache_tag` of its source ``table``."""
    import os

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo_root, cache_dir, f"{name}_{dataset_cache_tag(sf_dir, table)}")


def exact_scaled(col: Column, digits: int = 2) -> Column:
    """Per-row exact fixed-point encoding: round(x * 10^digits) as long.

    The per-row double product is IEEE-deterministic, so both engines
    produce the same integer; integer sums are then order-independent.
    """
    return F.round(col * (10 ** digits), 0).cast("long")


def sql_scaled(expr: str, digits: int = 2) -> str:
    """DuckDB twin of exact_scaled."""
    return f"CAST(ROUND(({expr}) * {10 ** digits}, 0) AS BIGINT)"


def all_specs() -> dict[str, QuerySpec]:
    """All registered query specs, keyed by name (import-light so
    __spark_entry__ can call it without side effects)."""
    from pubg_data_pipeline_spark.plans import (
        analytic_queries,
        behavior_queries,
        cdc_queries,
        corpus_queries,
        quality_queries,
        curation_queries,
        events_queries,
        function_queries,
        graph_queries,
        llm_queries,
        relational_queries,
        sql_queries,
        stat_queries,
        tpch_queries,
        windowed_queries,
    )

    specs: dict[str, QuerySpec] = {}
    for module in (
        events_queries,
        relational_queries,
        tpch_queries,
        llm_queries,
        windowed_queries,
        sql_queries,
        function_queries,
        curation_queries,
        stat_queries,
        graph_queries,
        corpus_queries,
        analytic_queries,
        cdc_queries,
        quality_queries,
        behavior_queries,
    ):
        for spec in module.SPECS:
            if spec.name in specs:
                raise ValueError(f"duplicate query spec: {spec.name}")
            specs[spec.name] = spec
    return specs
