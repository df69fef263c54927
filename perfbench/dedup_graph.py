"""``dedup_graph``: near-dup, graph and dedup-index queries at scale 0.01.

Their time goes to the engine's construction layer: eager checkpoints,
the connected-components loop, index builds and the process caches,
all run while the query's DataFrame is still being built. One op is
one query, built with ``plans.all_specs()[name].fn`` and executed
through the noop sink. An ``observe`` on the same action records the
row count and an order-insensitive hash of the rows, which must equal
the cold pass's on every later pass.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import CACHE_DIRS, Op, dir_bytes

#: Eager-checkpointed near-dup pairs (a process cache), the
#: connected-components loop, an on-disk fingerprint index built through
#: ``plans.base.ensure_index_cache``, and a sweep over the cached pairs.
QUERIES = (
    "neardup_triangles",
    "part_entity_resolution",
    "incremental_ingest_dedup",
    "dedup_threshold_sweep",
)
SCALE = 0.01


def _observed(df, obs):
    """``df`` with a row count and an order-insensitive row hash
    collected by the same action that executes it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType)
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0)).alias("h"),
    )


class Workload:
    name = "dedup_graph"
    #: Nominal seconds per warm pass on a 4-core host; sizes the number
    #: of timed passes in a run.
    PASS_S = 5.0

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.data = os.path.join(work, "data")
        self.reference: dict[str, tuple] = {}

    def prepare(self) -> str:
        gen.generate(self.data, self.seed, SCALE)
        return gen.content_hash(self.data)

    def start(self, spark) -> None:
        from pubg_data_pipeline_spark.plans import all_specs

        self.spark = spark
        specs = all_specs()
        self.fns = {name: specs[name].fn for name in QUERIES}

    def run_pass(self, tracer=None, reference: bool = False):
        """One op per query; with a tracer, also the pass's per-layer
        sums (the heap reading is the pass's peak)."""
        ops = [self._op(name, tracer, reference) for name in QUERIES]
        layers: dict[str, float] = {}
        for op in ops:
            for key, val in op.layers.items():
                if key == "jvm.heap_used_bytes":
                    layers[key] = max(layers.get(key, 0), val)
                else:
                    layers[key] = layers.get(key, 0.0) + val
        return ops, layers

    def _op(self, name: str, tracer, reference: bool) -> Op:
        from pyspark.sql import Observation

        obs = Observation()
        layers: dict[str, float] = {}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = _observed(self.fns[name](self.spark, self.data), obs)
                df.write.format("noop").mode("overwrite").save()
            else:
                try:
                    g_build = tracer.new_group("construct")
                    df = _observed(self.fns[name](self.spark, self.data), obs)
                    t1 = time.perf_counter()
                    g_exec = tracer.new_group("execute")
                    layers["catalyst.plan_s"] = tracer.plan(df)
                    t2 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                finally:
                    tracer.end_group()
                layers["plans.construct_s"] = t1 - t0
                layers["plans.construct_jobs"] = len(tracer.group_jobs(g_build))
                layers["operators.exec_s"] = t3 - t2
                for key, val in tracer.job_stats(tracer.group_jobs(g_exec)).items():
                    prefix = "sources" if key.startswith("input") else "operators"
                    layers[f"{prefix}.{key}"] = val
                layers["jvm.heap_used_bytes"] = tracer.heap_used()
            seconds = time.perf_counter() - t0
            got = obs.get
            result = (int(got["n"]), str(got["h"]))
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"op {name} failed: {type(exc).__name__}: {str(exc)[:300]}")
            return Op(name, time.perf_counter() - t0, False, layers)
        if reference:
            self.reference[name] = result
            return Op(name, seconds, True, layers)
        ok = self.reference.get(name) == result
        if not ok:
            print(f"op {name}: result {result} != cold pass {self.reference.get(name)}")
        return Op(name, seconds, ok, layers)

    def artifact_bytes(self) -> int:
        warehouse = os.path.join(self.work, "spark-warehouse")
        bkt = [os.path.join(warehouse, d) for d in os.listdir(warehouse)
               if d.startswith("bkt_")] if os.path.isdir(warehouse) else []
        return dir_bytes(*[os.path.join(self.root, d) for d in CACHE_DIRS], *bkt)

    def verify(self) -> int:
        """Checks made after the timed window; returns how many ops
        failed them. Every op was already compared with the cold pass."""
        return 0

    def stream_layers(self) -> dict[str, float]:
        return {}
