"""Round-8 optimization pins: load_table's per-session plan memo and
the bucket-vectorized grouped-map median.

load_table now memoizes the constructed DataFrame (an unexecuted
plan) on the session object keyed by the parquet's mtime+size — these
tests pin the two properties that make that safe: a regenerated file
is never served stale, and the cache dies with the session object it
hangs from. user_value_median now groups by a user bucket and
computes per-user medians vectorized inside; the null-user group is
the edge the rewrite could have dropped (pandas groupby drops NaN
keys unless dropna=False), so it gets an explicit equivalence pin
against the JVM aggregation.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from pubg_data_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_load_table_memoizes_per_session(spark):
    a = load_table(spark, SF_DIR, "events")
    b = load_table(spark, SF_DIR, "events")
    assert a is b  # same plan object, zero re-inference
    # distinct tables / sf dirs never collide
    c = load_table(spark, SF_DIR, "orders")
    assert c is not a


def test_load_table_invalidates_on_regeneration(spark, tmp_path):
    src = os.path.join(SF_DIR, "events.parquet")
    dst_dir = str(tmp_path)
    dst = os.path.join(dst_dir, "events.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    a = load_table(spark, dst_dir, "events")
    # simulate the driver regenerating the dataset in place
    os.utime(dst)
    b = load_table(spark, dst_dir, "events")
    assert a is not b


def test_load_table_cache_not_shared_across_sessions(spark):
    # the cache hangs off the session object (session.artifact's
    # memo), not the module
    assert isinstance(getattr(spark, "_pds_artifacts", None), dict)
    import pubg_data_pipeline_spark.sources.tables as T

    assert not hasattr(T, "_TABLE_CACHE")


def test_user_value_median_null_users_and_equivalence(spark):
    """The bucketed grouped-map must keep the null-user group and match
    the JVM exact median per user (same interpolated two-middle mean)."""
    from pubg_data_pipeline_spark.plans.base import all_specs

    rows = [(1, 1.0), (1, 2.0), (2, 5.0), (2, 7.0), (2, 9.0), (None, 3.0), (None, 4.0)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    sf_dir = None  # build the query's body directly against df

    import pandas as pd  # noqa: F401  (mirrors the query's import)

    spec = all_specs()["user_value_median"]
    # run the registered query against a temp dataset dir
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r["user_id"], r["n_events"], r["median_value"])
            for r in spec.fn(spark, d).collect()
        }
    want = {
        (r["user_id"], r["n_events"], r["median_value"])
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.median("value"), 4).alias("median_value"),
        )
        .collect()
    }
    assert got == want
    assert (None, 2, 3.5) in got  # the null-user group survived
