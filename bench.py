#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
the full result JSON line {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec}, "sf": ...} followed by a compact
(<200 char) summary line without the per-query map — the driver
captures only the last ~2000 chars of stdout, and with 121 queries the
full line alone overflows that window (round-4 postmortem). The full
per-query detail is also written to BENCH_DETAIL.json.

Each query is materialized through the noop sink (computes every
column, writes nothing) so timings reflect full plan execution, not a
count-only shortcut.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pubg_data_pipeline_spark.plans import all_specs
from pubg_data_pipeline_spark.session import get_spark

HEADLINE = [
    "player_ranking_top10",
    "pricing_summary",
    "top_revenue_nations",
    "shipping_priority",
    "customer_order_stats",
    "hourly_event_aggregates",
    "moving_avg_trend",
    "zscore_anomalies",
    "order_priority_rollup",
    "user_sessions",
    "tumbling_10min_counts",
    "lineitem_running_totals",
    "doc_text_stats",
    "doc_ngram_jaccard_pairs",
    "minhash_near_dups",
    "embedding_topk_cosine",
    "doc_multimodal_features",
    "user_value_median",
    "corpus_curation_pipeline",
    "volume_shipping",
    "small_quantity_revenue",
    "customer_orders_histogram",
    "disjunctive_brand_revenue",
    "top2_orders_lateral",
    "user_sessions_native",
    "embedding_ivf_topk",
    "embedding_ivfpq_topk",
    "local_supplier_volume",
    "doc_repetition_metrics",
    "token_shard_packing",
    "benchmark_contamination",
    "purchase_last_signup_asof",
    "doc_dup_clusters",
    "embedding_semantic_dedup",
    "embedding_knn_graph",
    "incremental_hourly_distinct",
    "corpus_vocabulary",
    "paragraph_block_dedup",
    "incident_window_purchases",
    "doc_ngram_jaccard_pairs_capped",
    "doc_prefix_jaccard_pairs",
    "doc_bigram_ppl_filter",
    "embedding_ivf_index_topk",
    "part_name_fuzzy_pairs",
    "doc_length_global_rank",
    "curriculum_shard_packing",
    "incremental_ingest_dedup",
    "incremental_neardup_ingest",
    "event_feed_freshness",
    "daily_from_hourly_rollup",
    "event_type_salted_agg",
    "bucketed_segment_order_stats",
    "event_enrich_salted_join",
    "big_order_customers_right_join",
    "customer_snapshot_diff",
    "purchase_band_scd2",
    "neardup_triangles",
    "bigram_pmi_collocations",
    "events_column_profile",
    "doc_unigram_logprob",
    "event_user_skew_report",
    "event_value_histogram_quantiles",
    "customer_merge_upsert",
    "user_sessions_dynamic_gap",
    "user_purchase_funnel",
    "weekly_retention_cohorts",
    "user_value_ewma",
    "hourly_linear_interp",
    "event_user_heavy_hitters",
    "doc_bm25_search",
    "image_phash_near_dups",
    "incremental_join_view",
    "event_agg_view_retractions",
    "bpe_merge_candidates",
    "alert_severity_sqlfn",
    "event_value_psi_drift",
    "event_type_drift",
    "min_cost_supplier",
    "nation_profit",
    "important_stock",
    "supplier_part_counts",
    "excess_stock_suppliers",
    "rfm_segments",
    "part_basket_pairs",
    "seasonal_anomalies",
    "nullsafe_segment_match",
    "neardup_pagerank",
    "neardup_clustering_coefficients",
    "error_events_with_band",
    "doc_winnowing_fingerprints",
    "event_transition_matrix",
    "hourly_value_ohlc",
    "doc_duplicate_spans",
    "doc_corpus_despanned",
    "doc_hybrid_search",
    "doc_importance_weights",
    "context_window_packing",
    "purchase_attribution",
    "signup_purchase_latency",
    "source_vocab_diversity",
    "embedding_hard_negatives",
    "alert_notification_payloads",
    "waiting_suppliers",
    "doc_leakage_safe_split",
    "shard_output_manifest",
    "source_capped_sample",
    "source_epoch_mixing",
    "embedding_covariance",
    "doc_softdedup_weights",
    "user_conversation_examples",
    "event_user_cms_frequency",
    "order_price_bootstrap_ci",
    "embedding_mmr_rerank",
    "ab_cuped_adjusted_means",
    "embedding_ann_recall",
    "minhash_dedup_recall",
    "quality_lang_bias_auc",
    "quality_model_calibration",
    "ab_srm_check",
    "dup_cluster_size_histogram",
    "dedup_threshold_sweep",
    "doremi_domain_weights",
    "embedding_ivf_balanced_topk",
    "retrieval_eval_bm25",
    "quality_rater_agreement",
    "quality_token_budget_sample",
    "daily_spine_rcte",
    "event_bitwise_bool_aggs",
    "ab_welch_ttest",
    "event_hour_chi2",
    "preference_pairs",
    "session_incident_overlap",
    "events_t_closeness",
    "user_value_gini",
    "session_conversion_rate",
    "part_name_collation_counts",
    "sliding_3h_distinct_users",
    "doc_token_counts_arrow",
    "events_daily_backfill",
    "corpus_data_card",
    "part_entity_resolution",
    "user_modal_event_type",
]

# HEADLINE is FROZEN for round-over-round comparability (its per-query
# map is the regression tracker's baseline population). Queries
# registered after it froze get timed in the headline run via this
# forward list — bench reports BOTH totals (`value` = frozen HEADLINE,
# comparable to every prior round; `value_v2` = HEADLINE + V2_EXTRA,
# the forward-comparable total). V2_EXTRA itself only ever APPENDS.
HEADLINE_V2_EXTRA = [
    "session_pattern_match",
    "funnel_step_latency",
    "funnel_conversion_values",
    "error_burst_sessions",
    "events_daily_backfill_log",
    "customer_cdf_net_changes",
    "hourly_rollup_retraction_merge",
    "customer_snapshot_pruned_read",
    "customer_dv_delete_state",
    "customer_dv_cdf_replay",
    "customer_dv_merge_state",
    "lineitem_zorder_pruned_read",
]

#: Quiet-host reading of the calibration probe (min-of-8 on an idle
#: local[32] VM, 2026-08-16). The probe is fixed CPU work — no IO, no
#: Spark, no allocation growth — so anchor_ms / ANCHOR_BASELINE_MS ≈
#: how contended the host's CPU was during THIS sweep. A reader can
#: divide reported timings by that load ratio before calling a drift a
#: regression (round-6 postmortem: a contended driver VM inflated all
#: three min-of-3 passes and fabricated 18 regressions; nothing in the
#: artifact let a reader see the contention).
ANCHOR_BASELINE_MS = 9.75

#: A query is flagged as regressed when its min-of-3 exceeds the last
#: recorded reading by this factor (and the re-measure verdict uses
#: the SAME factor, so "stands" means exactly "still flagged").
_REGRESSION_FACTOR = 1.5

#: Upper bound on the isolated re-measure pass (below): a whole-run
#: contamination can flag dozens of queries; re-measuring the worst N
#: by ratio bounds the extra wall clock while still classifying every
#: extreme reading.
_REMEASURE_MAX = 20


def _cpu_anchor_ms(rounds: int = 5) -> float:
    """Fixed CPU-bound calibration probe: a 20k-link sha256 chain over
    64 bytes (~10 ms quiet), min-of-``rounds``. Deterministic work with
    no IO and no Spark state, timed with the same perf_counter as the
    queries — its inflation IS the host contention during the sweep."""
    import hashlib

    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = b"\x00" * 64
        for _ in range(20000):
            h = hashlib.sha256(h).digest()
        best = min(best, (time.perf_counter() - t0) * 1000.0)
    return round(best, 2)


def main(argv: list[str] | None = None) -> None:
    # --all: opt-in sweep of EVERY registered query (the headline list
    # stays unchanged for round-over-round comparability) — closes the
    # "correct but never timed" blind spot for the non-headline
    # remainder. Detail goes to --out (default BENCH_FULL.json), never
    # to BENCH_DETAIL.json; the regression tracker compares against the
    # previous FULL sweep and re-measures outliers the same way the
    # headline run does. Two timed passes instead of three: this is a
    # coverage sweep, not the round-over-round signal.
    argv = list(sys.argv[1:] if argv is None else argv)
    all_mode = "--all" in argv
    out_path = None
    if "--out" in argv:
        out_path = argv[argv.index("--out") + 1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Core count determines which detail/baseline FILES this run uses:
    # the driver benches at 32 cores AND at a lower count for scaling,
    # and a low-core run writing the 32-core BENCH_DETAIL.json poisons
    # the regression tracker's baseline (round-8 postmortem: an 8-core
    # pre-flight between two 32-core runs fabricated a "stands" flag).
    cpus = str(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 32)
    core_suffix = "" if cpus == "32" else f"_c{cpus}"
    # Neutralize the cross-run derived-index disk caches BEFORE the
    # session starts: every bench invocation must compute from the
    # parquet inputs alone. The first timed pass at the target SF
    # rebuilds them (its reading is recorded in "first_pass" below and
    # discarded by the min-of-3), so the reported timings are the
    # declared probe-only semantics while a fresh clone's first run
    # and the committed numbers now agree by construction.
    import shutil

    here = os.path.dirname(os.path.abspath(__file__))
    for cache_dir in (".ivf_cache", ".index_cache"):
        shutil.rmtree(os.path.join(here, cache_dir), ignore_errors=True)
    spark = get_spark(app_name="pubg-pipeline-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    names = sorted(specs) if all_mode else HEADLINE + HEADLINE_V2_EXTRA
    metric = "all_queries_total" if all_mode else "headline_queries_total"
    timed_passes = 2 if all_mode else 3
    anchor_start_ms = _cpu_anchor_ms()

    # Warmup pass: run every headline query once at the smallest scale
    # factor first. This warms JIT (the regex/text paths are ~8x slower
    # interpreted), codegen caches, and the Python Arrow-UDF workers,
    # so the timed runs measure steady-state throughput rather than
    # one-time JVM warmup.
    warm_dir = sf_dir.rsplit("sf", 1)[0] + "sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # Per-query error isolation everywhere: one broken query must never
    # zero the whole benchmark signal (round-2 postmortem — a warmup
    # crash produced an empty BENCH file for every query).
    errors: dict[str, str] = {}
    for name in names:
        try:
            specs[name].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - report, keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    # The explicit GC drains the warmup loop's garbage outside the
    # timed window (a deferred full-GC otherwise lands on the first
    # timed query — observed 12s on a 1s agg).
    try:
        spark._jvm.System.gc()
    except Exception:
        pass

    # Each query is timed three times and the minimum is reported: the
    # host shows multi-second intermittent noise (shared VM — observed
    # 10x spikes under CPU steal), and min-of-N is the standard
    # steady-state estimator under one-sided noise. The FIRST timed
    # pass doubles as the at-scale warmup (size-dependent JIT tiers,
    # shuffle buffers, parquet footers): its inflated readings are
    # discarded by the min, so a separate untimed sf-target pass would
    # only add a fourth full execution to the wall clock — with ~100
    # headline queries that pass alone is ~1.5 min of driver budget.
    timings: dict[str, float] = {}
    # First-pass (cold) readings are recorded separately in the detail
    # file: with the disk caches wiped above, pass 0 at the target SF
    # pays every index/derived-artifact build, so first_pass - min IS
    # the per-query build cost a reader can audit (the min stays the
    # declared steady-state probe semantics).
    first_pass: dict[str, float] = {}
    for pass_i in range(timed_passes):
        for name in names:
            start = time.perf_counter()
            try:
                specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - report, keep benching
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                # A query that succeeded in an earlier pass but broke in
                # this one must not keep its stale min timing — it would
                # inflate the headline total AND appear in errors.
                timings.pop(name, None)
                continue
            elapsed = round(time.perf_counter() - start, 3)
            if pass_i == 0:
                first_pass[name] = elapsed
            timings[name] = min(timings.get(name, elapsed), elapsed)
            # Symmetric consistency: a timed success supersedes an error
            # from an earlier (warmup or timed) pass.
            errors.pop(name, None)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Regressions are computed BEFORE BENCH_DETAIL.json is overwritten so
    # the comparison baseline is the previous completed run, not this one.
    # --all mode compares against the previous FULL sweep (BENCH_FULL*):
    # round 7's sweep "regressed" 1.27x purely from host noise and only
    # judge-side re-timing could prove it — the same outlier re-measure
    # protocol now runs in both modes, so every flagged entry carries a
    # verdict a reader can trust without independent re-timing.
    regressions = _regressions_vs_last_recorded(
        timings, sf=sf_val, full_mode=all_mode, core_suffix=core_suffix
    )
    # Outlier re-measure pass (round-6 postmortem): when contention
    # spans the whole sweep, every min-of-3 is inflated and the tracker
    # reports the contention as fact. Each flagged query gets ONE more
    # isolated min-of-3 round at the end of the run — a different
    # contention window — and the entry records BOTH readings plus a
    # verdict ("stands" = still slow when re-measured, "vanished" =
    # the sweep reading was environmental). The healed minimum also
    # replaces the query's timing so totals self-correct.
    if regressions:
        order = sorted(regressions, key=lambda n: -regressions[n]["ratio"])
        for name in order[_REMEASURE_MAX:]:
            regressions[name]["verdict"] = "not_remeasured"
        for name in order[:_REMEASURE_MAX]:
            best = None
            for _ in range(3):
                start = time.perf_counter()
                try:
                    specs[name].fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:  # noqa: BLE001 - report, keep benching
                    # The sweep timing succeeded (that's how the query got
                    # flagged) — a re-measure crash is its own class, not a
                    # query error: keep the sweep timing in totals and mark
                    # the flag explicitly so every entry carries a verdict.
                    # the sweep timing stays in timings/totals (every
                    # flagged name succeeded in the sweep); the crash is
                    # recorded on the regression entry itself
                    regressions[name]["verdict"] = "remeasure_error"
                    regressions[name]["remeasure_error"] = (
                        f"{type(exc).__name__}: {exc}"[:200]
                    )
                    break
                elapsed = time.perf_counter() - start
                best = elapsed if best is None else min(best, elapsed)
            if best is None:
                continue
            entry = regressions[name]
            entry["remeasured"] = round(best, 3)
            entry["verdict"] = (
                "stands" if best > entry["prev"] * _REGRESSION_FACTOR else "vanished"
            )
            if best < timings.get(name, float("inf")):
                timings[name] = round(best, 3)
    # Calibration anchor: same fixed CPU probe at sweep start and end;
    # against the recorded quiet-host baseline it tells any reader how
    # contended THIS run's host was (load_ratio ~1.0 = quiet).
    anchor = {
        "start_ms": anchor_start_ms,
        "end_ms": _cpu_anchor_ms(),
        "baseline_ms": ANCHOR_BASELINE_MS,
    }
    anchor["load_ratio"] = round(
        max(anchor["start_ms"], anchor["end_ms"]) / ANCHOR_BASELINE_MS, 2
    )
    if all_mode:
        total = round(sum(timings.values()), 3)
    else:
        # `value` sums ONLY the frozen HEADLINE so it stays comparable
        # with BENCH_r01..r06; `value_v2` adds the post-freeze queries.
        frozen = set(HEADLINE)
        total = round(sum(t for n, t in timings.items() if n in frozen), 3)
    result = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "anchor": anchor,
    }
    if not all_mode:
        result["value_v2"] = round(sum(timings.values()), 3)
    if regressions:
        result["regressions"] = regressions
    if errors:
        result["errors"] = errors
    # Full per-query detail goes to a repo file: the driver's BENCH_r{N}
    # artifact captures only the last ~2000 chars of stdout, and the full
    # JSON line passed ~3KB at 121 queries (round-4 postmortem: the head
    # of the line — including "value" — was cut off and the driver
    # recorded parsed: null). The regression tracker reads this file.
    detail_name = out_path or (
        f"BENCH_FULL{core_suffix}.json" if all_mode else f"BENCH_DETAIL{core_suffix}.json"
    )
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name)
    # The detail file additionally records the cold (pass-0) readings
    # and which disk caches were wiped, so the steady-state min-of-3
    # semantics are self-documenting in the artifact.
    detail_obj = dict(result)
    detail_obj["first_pass"] = first_pass
    # Without the sf0.001 warmup dir the warmup ran at the target SF and
    # already built its disk caches, so first_pass is not a cold reading.
    detail_obj["warmup_at_target_sf"] = warm_dir == sf_dir
    detail_obj["cache_dirs_wiped"] = [".ivf_cache", ".index_cache"]
    detail_obj["cpus"] = cpus
    try:
        with open(detail_path, "w") as f:
            json.dump(detail_obj, f, indent=1, sort_keys=True)
    except OSError as exc:
        # re-bind into result: when no query errors preceded this,
        # `errors` was empty at the binding above and the message would
        # otherwise vanish from every printed artifact.
        errors["__detail_write__"] = f"{type(exc).__name__}: {exc}"[:200]
        result["errors"] = errors
    print(json.dumps(result))
    # Final COMPACT summary line (<200 chars, no per-query map): always
    # fully inside any stdout tail window, so the driver's parse finds a
    # complete metric line even when the full line above is truncated.
    compact = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_regressions": len(regressions),
        "load": anchor["load_ratio"],
        "detail": detail_name,
    }
    if not all_mode:
        compact["value_v2"] = result["value_v2"]
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


def _regressions_vs_last_recorded(
    timings: dict[str, float],
    factor: float = _REGRESSION_FACTOR,
    min_sec: float = 0.3,
    root: str | None = None,
    sf: float | str | None = None,
    full_mode: bool = False,
    core_suffix: str = "",
) -> dict[str, dict[str, float]]:
    """Per-query comparison against the most recent recorded run:
    BENCH_DETAIL.json (written by the previous completed bench run —
    the driver's BENCH_r{N}.json tail no longer carries the per-query
    map) first, then BENCH_r{N}.json files in the repo root (``root``
    overrides, for tests). ``full_mode`` compares against the previous
    full sweep instead (BENCH_FULL.json, then BENCH_FULL_r{N}.json) —
    headline and sweep populations/pass counts differ, so their
    baselines must not cross. ``core_suffix`` (e.g. ``"_c8"``) keys the
    baseline files by core count for the same reason — low-core runs
    compare only against low-core baselines (round-8 postmortem: an
    8-core detail file between two 32-core runs fabricated a
    cross-core "stands" flag). Queries now > ``factor``× slower are
    flagged so an environment/testdata drift is caught by the builder
    before the driver sees it. Sub-``min_sec`` queries are ignored
    (pure scheduling noise at that magnitude)."""
    import glob
    import re

    here = root or os.path.dirname(os.path.abspath(__file__))
    stem = "BENCH_FULL" if full_mode else "BENCH"
    candidates = []
    detail = os.path.join(
        here,
        f"BENCH_FULL{core_suffix}.json" if full_mode else f"BENCH_DETAIL{core_suffix}.json",
    )
    if os.path.exists(detail):
        candidates.append(detail)
    rounds = []
    for path in glob.glob(os.path.join(here, f"{stem}_r*{core_suffix}.json")):
        m = re.search(rf"{stem}_r(\d+){core_suffix}\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    candidates += [p for _, p in sorted(rounds, reverse=True)]
    out: dict[str, dict[str, float]] = {}
    for path in candidates:
        try:
            with open(path) as f:
                prev = json.load(f)
            # The driver records bench stdout inside a "tail" field;
            # the metric line is the last '{"metric"...}' in it.
            if "queries" not in prev and '{"metric"' in prev.get("tail", ""):
                prev = json.loads(prev["tail"][prev["tail"].rindex('{"metric"'):])
            prev_q = prev.get("queries") or {}
        except (OSError, ValueError, IndexError):
            continue
        if not prev_q:
            continue  # crashed round (e.g. r02) — fall back further
        if sf is not None and prev.get("sf") is not None and prev["sf"] != sf:
            continue  # recorded at a different scale factor — not comparable
        for name, now in timings.items():
            before = prev_q.get(name)
            if before and before >= min_sec and now > before * factor:
                out[name] = {"prev": before, "now": now, "ratio": round(now / before, 2)}
        return out
    return out


if __name__ == "__main__":
    main()
