"""Data-quality profiling and expectation checks.

The reference validates nothing on ingest: malformed envelopes become
all-null rows via PERMISSIVE from_json (spark_apps/
pubg_streaming.py:138-145) and flow straight into the sink; its only
"quality gate" is Python-side try/except logging in the collectors
(monitoring/metrics_collector.py). A pipeline feeding a 100 TB
training corpus needs the standard two primitives instead:

- ``profile_columns``: one-pass per-column statistics (nulls, exact
  distincts, min/max) — the table-health report.
- ``expectations_report``: declarative row-level rules evaluated as a
  SINGLE aggregate pass — the ingest gate.

Scale notes: both are one full-scan aggregation with map-side partial
aggregation and no shuffle wider than one row per (partition); the
multi-countDistinct in ``profile_columns`` plans as Catalyst's Expand
(rows × |cols| intermediates, each partially aggregated) — for
hundreds of columns at 100 TB, split the profile into column batches
or swap ``exact_distinct=False`` to HLL approx_count_distinct, which
removes the Expand entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _check_safe_names(names) -> None:
    """The stack() unpivot interpolates names into a SQL expression;
    restrict to plain identifiers so an exotic column/rule name can't
    break (or smuggle syntax into) the generated expression."""
    import re

    for n in names:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n):
            raise ValueError(f"unsupported name for profiling: {n!r} (alias it first)")


def profile_columns(
    df: DataFrame, cols: Sequence[str], exact_distinct: bool = True
) -> DataFrame:
    """Per-column profile: one row per column with ``n_rows``,
    ``n_nulls``, ``null_frac`` (6dp), ``n_distinct`` (null-excluded),
    ``min_value``/``max_value`` (stringified AFTER the typed min/max,
    so numeric/timestamp ordering is semantic, not lexicographic).

    One aggregation job regardless of column count; the wide single
    row is then unpivoted driver-free via ``stack``.

    ``df`` must be a pure scan (or otherwise deterministic): with
    ``exact_distinct`` the plan reads it twice, once for the basic
    stats and once for the distinct counts, so a ``sample()`` or
    ``rand()``-derived input would profile two different row sets.
    Materialize such an input first (``ckpt.barrier``).
    """
    if not cols:
        raise ValueError("profile_columns: empty column list")
    _check_safe_names(cols)
    nd = F.countDistinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    nd_aggs = []
    for c in cols:
        # coalesce: F.sum over ZERO rows is NULL — an empty (healthy)
        # table must report n_nulls = 0, not NULL
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0).cast("long")
            ).alias(f"__nulls_{c}")
        )
        nd_aggs.append(nd(F.col(c)).alias(f"__nd_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    if exact_distinct:
        # The exact multi-countDistinct and the min/max aggregates must
        # NOT share one Aggregate: min/max over string-typed columns
        # carry variable-width buffers that disqualify hash aggregation,
        # so the combined plan degraded to SortAggregate — a full sort
        # of the Expand's |cols|+1-times-replicated rows on the 6-part
        # distinct key, twice (before partial and final aggregation).
        # Split, the distinct side is a pure HashAggregate over the
        # Expand (string GROUPING keys hash fine; only buffers must be
        # fixed-width) and the basic side is a keyless SortAggregate —
        # no grouping keys, so it requires NO sort at all. The two
        # 1-row results recombine with a broadcast nested-loop join.
        # Measured at sf0.1 events (100k rows x 5 cols): 2.17 -> ~1.1 s
        # and the two Sorts of 600k wide rows leave the plan; at 100 TB
        # the trade is one extra columnar scan against sorting a
        # 6x-replicated corpus. (approx_count_distinct keeps the single
        # aggregate: HLL buffers are object-hash-aggregable and there
        # is no Expand to amplify.)
        wide = df.agg(*aggs).crossJoin(F.broadcast(df.agg(*nd_aggs)))
    else:
        wide = df.agg(*aggs, *nd_aggs)
    stack_args = ", ".join(
        f"'{c}', __nulls_{c}, __nd_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return wide.selectExpr(
        "__n",
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        F.col("__n").alias("n_rows"),
        "n_nulls",
        # guard the ANSI 0/0 on an empty table: null_frac of 0 rows is 0
        F.round(
            F.when(F.col("__n") > 0, F.col("n_nulls") / F.col("__n")).otherwise(0.0),
            6,
        ).alias("null_frac"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def expectations_report(
    df: DataFrame, rules: Sequence[tuple[str, Column]]
) -> DataFrame:
    """Evaluate declarative quality rules in ONE aggregate pass over
    the table: each rule is (name, boolean Column that should hold per
    row). Returns one row per rule: ``n_rows``, ``n_violations``
    (rows where the rule is false OR NULL — an unevaluable rule is a
    violation, matching SQL CHECK semantics inverted for safety), and
    ``passed``.

    All rules share a single scan + partial agg — adding a rule costs
    one projected expression, never another job.
    """
    _check_safe_names([name for name, _ in rules])
    if not rules:
        raise ValueError("expectations_report: empty rule list")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules:
        aggs.append(
            F.coalesce(
                F.sum((~F.coalesce(cond, F.lit(False))).cast("long")),
                F.lit(0).cast("long"),
            ).alias(f"__v_{name}")
        )
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{name}', __v_{name}" for name, _ in rules)
    return wide.selectExpr(
        "__n", f"stack({len(rules)}, {stack_args}) AS (rule_name, n_violations)"
    ).select(
        "rule_name",
        F.col("__n").alias("n_rows"),
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def distribution_drift(
    base: DataFrame,
    current: DataFrame,
    key: Column,
    key_name: str = "bucket",
    eps: float = 1e-6,
) -> DataFrame:
    """Population-Stability-Index drift report between a baseline and a
    current dataset over any discretization ``key`` (a ``width_bucket``
    expression for numeric columns, the raw column for categoricals):

        PSI contribution per key = (p_cur - p_base) * ln(p_cur / p_base)

    with ``eps`` additive smoothing so keys present on only one side
    contribute a large-but-finite score instead of infinity. The
    classic model/data-monitoring gate (PSI > 0.2 = population shift)
    the reference's dashboards approximate by eyeballing overlaid
    histograms — here it is an engine-side query over full history.

    Shape: one count aggregation per side, a tiny full-outer join on
    the key (bucket/category cardinality, not data size), totals via
    one-row broadcast — O(data) scan, O(keys) everything after;
    proportions derive from exact integer counts so both engines see
    bit-identical doubles into the log.
    """
    b = base.groupBy(key.alias(key_name)).agg(F.count(F.lit(1)).alias("n_base"))
    c = current.groupBy(key.alias(key_name)).agg(F.count(F.lit(1)).alias("n_cur"))
    joined = b.join(c, key_name, "full_outer").select(
        key_name,
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
    )
    tot = joined.agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    out = joined.crossJoin(F.broadcast(tot))
    # an EMPTY side (first deployment day, new category universe) must
    # yield NULL psi_contrib, not an ANSI DIVIDE_BY_ZERO that kills the
    # monitor the moment it has nothing to compare against
    p_base = (
        F.when(F.col("t_base") > 0, F.col("n_base") / F.col("t_base")) + F.lit(eps)
    )
    p_cur = (
        F.when(F.col("t_cur") > 0, F.col("n_cur") / F.col("t_cur")) + F.lit(eps)
    )
    return out.select(
        key_name,
        "n_base",
        "n_cur",
        ((p_cur - p_base) * F.log(p_cur / p_base)).alias("psi_contrib"),
    )


def k_anonymize(
    df: DataFrame, quasi_cols: Sequence[str], k: int
) -> DataFrame:
    """Suppression-based k-anonymity: drop every row whose
    quasi-identifier combination appears fewer than ``k`` times, so no
    released row can be narrowed to fewer than ``k`` individuals via
    those columns. Callers generalize first (bucket values, truncate
    timestamps, drop direct identifiers) — generalization is a
    projection, suppression is the operator.

    Scale: one window count partitioned by the quasi columns — a single
    hash-partition shuffle on the same keys a groupBy would use, no
    join, no second scan of the fact table."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in quasi_cols])
    return (
        df.withColumn("__qi_n", F.count(F.lit(1)).over(w))
        .filter(F.col("__qi_n") >= k)
        .drop("__qi_n")
    )


def l_diversity_report(
    df: DataFrame, quasi_cols: Sequence[str], sensitive_col: str, l: int
) -> DataFrame:
    """Per-quasi-group l-diversity audit: k-anonymity alone leaks when
    everyone in a group shares the sensitive value (homogeneity
    attack), so each released group must carry >= ``l`` DISTINCT
    sensitive values. One grouped aggregate; returns group size,
    distinct-sensitive count, and the pass flag per group."""
    if l < 1:
        raise ValueError("l must be >= 1")
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct(sensitive_col).alias("n_sensitive_values"),
        (F.countDistinct(sensitive_col) >= l).alias("l_diverse"),
    )


def t_closeness_report(
    df: DataFrame, quasi_cols: Sequence[str], sensitive_col: str, t: float
) -> DataFrame:
    """Per-quasi-group t-closeness audit — the third leg of the release
    gate after k-anonymity (size) and l-diversity (distinct count): a
    group can be large and diverse yet still leak if its sensitive-value
    DISTRIBUTION deviates from the corpus-wide one (skewness attack —
    e.g. one day's releases being 90% 'error' reveals that day's users
    were error-prone). Distance is total variation
    ``0.5 * sum_v |p_group(v) - p_global(v)|`` — the t-closeness
    paper's metric for unordered categorical attributes.

    Plan: one (quasi..., sensitive) cell aggregate; group totals via a
    window over the cell table (no re-scan); the |sensitive|-row global
    distribution broadcast back. Values absent from a group contribute
    their global mass (the ``1 - sum(present q)`` term), so no dense
    group x value expansion is materialized.

    NULL sensitive values must be filtered or mapped to an explicit
    category by the caller first: a NULL cell survives the group-size
    window but drops at the equi-join on the sensitive column, leaving
    that group's masses summing below 1 and overstating the distance."""
    from pyspark.sql import Window

    if not 0 < t <= 1:
        raise ValueError("t must be in (0, 1]")
    cell = df.groupBy(*list(quasi_cols), sensitive_col).agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    wq = Window.partitionBy(*list(quasi_cols))
    cell = cell.withColumn("group_size", F.sum("o").over(wq))
    glob = (
        df.groupBy(sensitive_col)
        .agg(F.count(F.lit(1)).cast("double").alias("g"))
        .crossJoin(df.groupBy().agg(F.count(F.lit(1)).cast("double").alias("tot")))
        .select(sensitive_col, (F.col("g") / F.col("tot")).alias("q"))
    )
    joined = cell.join(F.broadcast(glob), sensitive_col)
    # Values absent from the group contribute q_v each to sum|p-q|;
    # total absent mass = 1 - sum(present q), folded in without ever
    # materializing the absent cells.
    per_group = joined.groupBy(*list(quasi_cols)).agg(
        F.first("group_size").cast("long").alias("group_size"),
        F.sum(F.abs(F.col("o") / F.col("group_size") - F.col("q"))).alias("present_dist"),
        F.sum("q").alias("present_q"),
    )
    tvd = 0.5 * (F.col("present_dist") + (1.0 - F.col("present_q")))
    return per_group.select(
        *list(quasi_cols),
        "group_size",
        F.round(tvd, 4).alias("tvd"),
        (F.round(tvd, 4) <= t).alias("t_close"),
    )
