"""Batch table registry for the synthetic star schema (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. The
physical encoding of ``events.ts`` has drifted across data
regenerations (timestamp[ns], timestamp[us] without UTC adjustment,
timestamp[us] with it), so ``load_table`` normalizes every encoding to
session-zoned ``TimestampType``:

- ``bigint`` (timestamp[ns] read under
  ``spark.sql.legacy.parquet.nanosAsLong``): nanos -> micros with
  exact integer division (double division would lose precision at
  epoch-nanos magnitude), then ``timestamp_micros``.
- ``timestamp_ntz`` (timestamp[us], isAdjustedToUTC=false — what
  Spark 4 infers): cast to ``timestamp``. Under the engine's pinned
  UTC session timezone (session.py) this is value-identical, and it
  restores the numeric casts / ``unix_micros`` calls Spark 4 forbids
  on NTZ.
- ``timestamp`` (isAdjustedToUTC=true): already correct.

Downstream plans may therefore assume ``events.ts`` is TimestampType.

At 100 TB these reads stay efficient because every consumer selects
columns explicitly (parquet column pruning) and filters early
(predicate pushdown) — verify with ``df.explain()``: look for
``PushedFilters`` and a narrow ``ReadSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.session import artifact, configure_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Every timestamp-bearing column in the synthetic schema, normalized by
# load_table regardless of the physical parquet encoding the generator
# used this round (it has shipped both timestamp[ns] and
# timestamp[us]-NTZ variants).
_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing types.

    The constructed DataFrame (an immutable UNEXECUTED plan — no rows,
    no results) is memoized on the session (``session.artifact``),
    keyed by the parquet's mtime+size: ``spark.read.parquet`` re-reads
    footers and re-infers the schema on the driver every call, and
    with ~150 benched queries x 2-3 tables x 3 timed passes that
    synchronous driver work was a measurable slice of every query's
    constant cost.
    mtime/size keying means a regenerated dataset (same path, new
    content — the round-2 failure class) can never serve a stale
    schema; hanging the cache off the session object means it dies
    with the session and two sessions never share plans. Every
    consumer still scans the parquet itself on every action — this
    caches plan construction, not data."""
    configure_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = ("load_table", path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # missing/unstatable: let spark.read raise as before

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        for ts_col in _TS_COLUMNS.get(name, ()):
            ts_dtype = dict(df.dtypes).get(ts_col)
            if ts_dtype == "bigint":
                # nanos -> micros, truncating like DuckDB's ns->us display/cast
                # (bigint only arrives via the nanosAsLong flag, i.e. ns).
                df = df.withColumn(ts_col, F.expr(f"timestamp_micros({ts_col} div 1000)"))
            elif ts_dtype == "timestamp_ntz":
                # Value-identical under the pinned UTC session timezone.
                df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        return df

    return artifact(spark, key, build)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for spark.sql() access."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
