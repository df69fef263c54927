"""Benchmark entry point: one named workload per invocation.

    python3 perfbench/run.py --workload dedup_graph --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` (numpy and pyarrow, before the clock starts), starts one
``local[4]`` Spark session, runs one cold pass and one untimed warm
pass (set-up), then timed passes as one closed-loop client: as many
whole passes as fill ``--seconds`` at the workload's nominal pass time
(``PASS_S``), at least one. Then it checks every op's output.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``, names and units
as listed in ``BENCHMARK.json``. The line before it records the input
content hash and the raw op and pass times.

A ``--trace 1`` run alternates untraced and traced passes, at least
three in all; per-layer numbers come from the traced ones,
``trace.overhead_ratio`` is the median traced pass over the median
untraced pass, and ``bench.drift_ratio`` compares the untraced ones.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout, together with the engine's on-disk caches, and is removed
before and after the run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import dedup_graph, stream_ingest  # noqa: E402
from perfbench import harness as h  # noqa: E402

CPUS = 4
WORKLOADS = {"dedup_graph": dedup_graph, "stream_ingest": stream_ingest}


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Metric names and units, end-to-end and per-layer, from
    ``BENCHMARK.json`` at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _end_to_end(setup_s, passes):
    # Failed ops are counted in ``failed``, not timed.
    ops = [o for p in passes for o in p["ops"] if o.ok]
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.seconds)
    return {
        "setup_s": setup_s,
        "pass_s": h.median([p["seconds"] for p in passes]),
        "op_geomean_s": h.geomean([h.median(v) for v in by_name.values()]),
    }


def _per_layer(wl, session_s, cold, passes, anchors):
    traced = [p["layers"] for p in passes if p["traced"]]
    out: dict[str, float] = {}
    for key in {k for layers in traced for k in layers}:
        vals = [layers.get(key, 0.0) for layers in traced]
        out[key] = max(vals) if key == "jvm.heap_used_bytes" else h.median(vals)
    warm: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            warm.setdefault(o.name, []).append(o.seconds)
    out["artifacts.build_s"] = sum(o.seconds - h.median(warm[o.name])
                                   for o in cold if o.name in warm)
    out["session.start_s"] = session_s
    out.update(wl.stream_layers())
    out["host.load_ratio"] = max(anchors) / h.ANCHOR_QUIET_MS
    out["bench.drift_ratio"] = h.drift_ratio([p["seconds"] for p in passes if not p["traced"]])
    out["trace.overhead_ratio"] = (
        h.median([p["seconds"] for p in passes if p["traced"]])
        / h.median([p["seconds"] for p in passes if not p["traced"]])
    )
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    # The engine is imported first, so a checkout without it fails
    # before any input is generated.
    import pubg_data_pipeline_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work")
    h.clear_derived_state(ROOT, work)
    os.makedirs(os.path.join(work, "tmp"))
    os.chdir(work)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": "4g",
        "TMPDIR": os.path.join(work, "tmp"),
        # Takes precedence over ``spark.local.dir``.
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Every JVM the launcher starts keeps its temp files in the run
        # directory and writes no perf-data file under /tmp.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    wl = WORKLOADS[args.workload].Workload(ROOT, work, args.seed)
    spark = None
    try:
        anchors = [h.cpu_anchor_ms()]
        inputs_hash = wl.prepare()
        t0 = time.perf_counter()
        spark = h.Spark(work, CPUS)
        session_s = time.perf_counter() - t0
        wl.start(spark.session)
        tracer = h.Tracer(spark.session) if args.trace else None
        cold, _ = wl.run_pass(reference=True)
        # One untimed warm pass: the pass right after the cold one is
        # still on the steep part of the JIT warm-up curve.
        warmup, _ = wl.run_pass()
        # Drain set-up garbage before the clock starts, so a deferred
        # full collection does not land on the first timed op.
        spark.session.sparkContext._jvm.System.gc()
        setup_s = time.perf_counter() - t0

        # A fixed number of whole passes, sized so they fill the window
        # at the workload's nominal speed: every run does the same work,
        # and a pass count that flipped with host speed would move the
        # medians, as later passes are still warming up.
        n_passes = max(1, int(args.seconds // wl.PASS_S))
        if tracer is not None:
            n_passes = max(3, n_passes)
        passes = []
        for i in range(n_passes):
            traced = tracer is not None and i % 2 == 1
            gc0 = tracer.gc_seconds() if traced else 0.0
            t = time.perf_counter()
            ops, layers = wl.run_pass(tracer if traced else None)
            seconds = time.perf_counter() - t
            if traced:
                layers["jvm.gc_s"] = tracer.gc_seconds() - gc0
                layers["artifacts.persisted_rdds"] = tracer.persisted_rdds()
                layers["artifacts.disk_bytes"] = wl.artifact_bytes()
            passes.append({"seconds": seconds, "ops": ops, "traced": traced, "layers": layers})
        setup_ops = cold + warmup
        failed = sum(not o.ok for o in setup_ops)
        failed += sum(not o.ok for p in passes for o in p["ops"])
        failed += wl.verify()
        anchors.append(h.cpu_anchor_ms())
        end_to_end, per_layer = _metric_units()
        if tracer is None:
            metrics = _end_to_end(setup_s, passes)
            units = end_to_end
        else:
            metrics = _per_layer(wl, session_s, cold, passes, anchors)
            units = per_layer
        attempted = len(setup_ops) + sum(len(p["ops"]) for p in passes)
    finally:
        if spark is not None:
            spark.close()
        os.chdir(ROOT)
        h.clear_derived_state(ROOT, work)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "inputs_sha256": inputs_hash,
        "cold_ops_s": {o.name: round(o.seconds, 3) for o in cold},
        "passes_s": [round(p["seconds"], 4) for p in passes],
        "ops_s": [[round(o.seconds, 3) for o in p["ops"]] for p in passes],
        "anchor_ms": anchors,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
