"""Run isolation, statistics, the host CPU anchor and the per-layer tracer.

Everything here is benchmark-side: the engine is driven only through
its public functions, and the tracer reads Spark's own status store and
the JVM's management beans around each call.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

#: Derived state the engine keeps between queries: three cache
#: directories under the checkout root (keyed by input path, mtime and
#: size) plus ``bkt_*`` tables under the working directory's
#: ``spark-warehouse``. A run starts and ends with none of them.
CACHE_DIRS = (".ivf_cache", ".index_cache", ".snap_cache")

#: Quiet reading of :func:`cpu_anchor_ms` on a 4-core x86-64 VM
#: (min of 5, idle host). ``host.load_ratio`` is a run's reading over
#: this; it is reported, never used to rescale a metric.
ANCHOR_QUIET_MS = 10.0


def clear_derived_state(root: str, work: str) -> None:
    """Remove every on-disk cache the engine may reuse across runs,
    and the run's own directory (working directory, warehouse,
    stream state, checkpoints, generated inputs)."""
    for name in CACHE_DIRS:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)


def dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for dirpath, _, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def cpu_anchor_ms(rounds: int = 5) -> float:
    """Fixed CPU work (a 20k-link sha256 chain), min of ``rounds``: its
    inflation over the quiet reading is the host's contention."""
    best = math.inf
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = b"\x00" * 64
        for _ in range(20000):
            h = hashlib.sha256(h).digest()
        best = min(best, (time.perf_counter() - t0) * 1000.0)
    return best


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


@dataclass
class Op:
    """One timed operation: a query or an epoch, with its per-layer
    numbers when traced."""

    name: str
    seconds: float
    ok: bool
    layers: dict[str, float] = field(default_factory=dict)


def drift_ratio(pass_seconds: list[float]) -> float:
    """Median of the second half of the timed passes over the median
    of the first half (1.0 = no drift). With an odd count the middle
    pass belongs to neither half."""
    if len(pass_seconds) < 2:
        return 1.0
    half = len(pass_seconds) // 2
    return median(pass_seconds[-half:]) / median(pass_seconds[:half])


class Spark:
    """One ``local[4]`` session for the whole run, with its JVM process
    stopped and waited for on :meth:`close`."""

    def __init__(self, work: str, cpus: int):
        from pubg_data_pipeline_spark.session import get_spark

        self.session = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            },
        )
        self.session.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.session.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                # The gateway JVM exits when its stdin closes.
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


class Tracer:
    """Per-layer counters read from Spark's status store and the JVM's
    management beans. Only a ``--trace 1`` run creates one; timed ops of
    a ``--trace 0`` run never call into it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._mf = jvm.java.lang.management.ManagementFactory
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._group = 0

    # -- jobs, stages, tasks -------------------------------------------
    def last_job_id(self) -> int:
        jobs = self.store.jobsList(self._empty)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def new_group(self, phase: str) -> str:
        self._group += 1
        group = f"perfbench-{phase}-{self._group}"
        self.sc.setJobGroup(group, phase)
        return group

    def end_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids) -> dict[str, float]:
        """Jobs, stages, completed tasks and the stage-level I/O of the
        given jobs, from ``statusStore().stageList`` (newest first, so
        the walk stops at the oldest stage of interest)."""
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "input_bytes", "input_records"), 0.0)
        out["jobs"] = float(len(job_ids))
        if not stage_ids:
            return out
        oldest = min(stage_ids)
        stages = self.store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
        it = stages.iterator()
        while it.hasNext():
            sd = it.next()
            sid = sd.stageId()
            if sid < oldest:
                break
            if sid not in stage_ids:
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
            out["input_records"] += sd.inputRecords()
        return out

    def jobs_since(self, last_job: int) -> list[int]:
        return list(range(last_job + 1, self.last_job_id() + 1))

    # -- JVM -------------------------------------------------------------
    def gc_seconds(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def heap_used(self) -> int:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()

    def persisted_rdds(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()

    def plan(self, df) -> float:
        """Catalyst planning time: analysis, optimisation and physical
        planning up to ``executedPlan``."""
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        return time.perf_counter() - t0
