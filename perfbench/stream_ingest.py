"""``stream_ingest``: micro-batch files of events and documents drained
by ``availableNow`` streams, one file per trigger.

Each events epoch runs ``streaming.app.rollup_merge_epoch`` and
``streaming.app.heavy_hitters_epoch``; each documents epoch runs
``streaming.app.ingest_dedup_epoch``; both streams go through
``streaming.sinks.foreach_batch_sink``. Every epoch reads and rewrites
state tables. One op is one epoch; one pass is one full drain of both
streams into fresh state and checkpoint directories.

Inputs, from the seed: the scale-0.1 ``events`` split in time order
into files, with a share of rows held back into a later file (out of
order); the scale-0.1 ``documents`` split in id order, with a share of
exact duplicates planted under new, higher ids.

Checks, after the timed window, for every drain: the rollup state
(hour, count, scaled sum, which fix every finalized column) equals a
batch recompute over all events; every heavy hitter's weight bounds its
true count; the ingested corpus equals batch keep-min-id dedup on the
normalized-text fingerprint.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Op, dir_bytes, median

SCALE = 0.1
EVENT_FILES = 2
DOC_FILES = 2
LATE_SHARE = 0.05
DUP_SHARE = 0.10
HH_KEYS = ["user_id"]
HH_COUNTERS = 200
#: Bound on one stream's drain, so a stuck query cannot hold the run
#: past its time limit.
DRAIN_TIMEOUT_S = 60
PROGRESS_KEYS = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
_WS = re.compile(r"\s+")


def _fingerprint(text: str) -> str:
    """Python twin of ``functions.text.doc_fingerprint``."""
    return hashlib.md5(_WS.sub(" ", text.strip().lower()).encode()).hexdigest()


def _write_batches(tables: list[pa.Table], out_dir: str) -> None:
    """One parquet file per micro-batch, with strictly increasing
    modification times so the file source reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    for k, tbl in enumerate(tables):
        path = os.path.join(out_dir, f"batch_{k:03d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))


class Workload:
    name = "stream_ingest"
    #: Nominal seconds per warm pass on a 4-core host; sizes the number
    #: of timed passes in a run.
    PASS_S = 7.0

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.data = os.path.join(work, "data")
        self.src_events = os.path.join(work, "src", "events")
        self.src_docs = os.path.join(work, "src", "documents")
        self.drains: list[dict] = []

    # -- inputs and expectations (no Spark) ------------------------------
    def prepare(self) -> str:
        gen.generate(self.data, self.seed, SCALE)
        rng = np.random.default_rng([self.seed, 31])
        events = pq.read_table(os.path.join(self.data, "events.parquet"))
        events = events.sort_by("ts")
        home = (np.arange(events.num_rows) * EVENT_FILES) // events.num_rows
        late = rng.random(events.num_rows) < LATE_SHARE
        batch = np.where(late, np.minimum(home + rng.integers(1, 3, events.num_rows),
                                          EVENT_FILES - 1), home)
        _write_batches([events.filter(pa.array(batch == k)) for k in range(EVENT_FILES)],
                       self.src_events)

        docs = pq.read_table(os.path.join(self.data, "documents.parquet"),
                             columns=["doc_id", "text"]).sort_by("doc_id")
        n = docs.num_rows
        home = (np.arange(n) * DOC_FILES) // n
        n_dup = int(n * DUP_SHARE)
        src = np.sort(rng.choice(n, n_dup, replace=False))
        dup_batch = np.minimum(home[src] + rng.integers(0, 2, n_dup), DOC_FILES - 1)
        dups = pa.table({
            "doc_id": pa.array(n + np.arange(n_dup), type=pa.int64()),
            "text": docs["text"].take(pa.array(src)),
        })
        _write_batches([
            pa.concat_tables([docs.filter(pa.array(home == k)),
                              dups.filter(pa.array(dup_batch == k))])
            for k in range(DOC_FILES)
        ], self.src_docs)

        self.expected_rollup = self._rollup_oracle(events)
        self.true_counts = Counter(events["user_id"].to_pylist())
        self.n_events = events.num_rows
        all_docs = pa.concat_tables([docs, dups])
        first: dict[str, int] = {}
        for doc_id, text in zip(all_docs["doc_id"].to_pylist(), all_docs["text"].to_pylist()):
            fp = _fingerprint(text)
            if fp not in first or doc_id < first[fp]:
                first[fp] = doc_id
        self.expected_corpus = sorted(first.values())
        self.planted_dups = all_docs.num_rows - len(first)
        self.n_docs_in = all_docs.num_rows
        return gen.content_hash(self.data)

    @staticmethod
    def _rollup_oracle(events: pa.Table) -> list[tuple]:
        """Batch recompute of the hourly rollup state: (hour, n,
        scaled-integer sum), which fixes every finalized column."""
        hours = pc.strftime(pc.floor_temporal(events["ts"], unit="hour"), format="%Y-%m-%d %H")
        scaled = np.round(events["value"].to_numpy() * 100.0).astype(np.int64)
        acc: dict[str, list[int]] = {}
        for h, s in zip(hours.to_pylist(), scaled.tolist()):
            a = acc.setdefault(h, [0, 0])
            a[0] += 1
            a[1] += s
        return sorted((h, n, s) for h, (n, s) in acc.items())

    # -- Spark side ------------------------------------------------------
    def start(self, spark) -> None:
        from pubg_data_pipeline_spark.streaming import app, sinks, sources

        self.spark = spark
        self.app, self.sinks, self.sources = app, sinks, sources
        ev = pq.read_schema(os.path.join(self.src_events, "batch_000.parquet"))
        dc = pq.read_schema(os.path.join(self.src_docs, "batch_000.parquet"))
        self.ev_schema = spark.createDataFrame([], _spark_schema(ev)).schema
        self.doc_schema = spark.createDataFrame([], _spark_schema(dc)).schema

    def _drain(self, stream, body, checkpoint: str, tag: str, ops: list[Op], samples):
        marks = [time.perf_counter()]

        def on_batch(batch_df, epoch_id):
            body(batch_df, epoch_id)
            marks.append(time.perf_counter())

        q = self.sinks.foreach_batch_sink(
            stream, on_batch, available_now=True, checkpoint=checkpoint
        )
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"{tag} drain did not finish in {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        for k in range(1, len(marks)):
            ops.append(Op(f"{tag}#{k - 1}", marks[k] - marks[k - 1], True))
        for p in q.recentProgress:
            if p.numInputRows:
                for key in PROGRESS_KEYS:
                    samples.setdefault(_snake(key), []).append(
                        (p.durationMs or {}).get(key, 0) / 1000.0)

    def run_pass(self, tracer=None, reference: bool = False):
        app = self.app
        d = os.path.join(self.work, "state", f"drain_{len(self.drains):03d}")
        paths = {k: os.path.join(d, k) for k in
                 ("rollup", "hh", "index", "corpus", "ckpt_events", "ckpt_docs")}
        first_job = tracer.last_job_id() if tracer is not None else None
        t0 = time.perf_counter()
        ops: list[Op] = []
        # Seconds per streaming step and per epoch-function call, by
        # metric name stem.
        samples: dict[str, list[float]] = {}

        def timed(fn_name, fn, *args):
            t = time.perf_counter()
            fn(*args)
            samples.setdefault(fn_name, []).append(time.perf_counter() - t)

        def events_epoch(batch_df, epoch_id):
            timed("rollup_merge_epoch", app.rollup_merge_epoch, batch_df, epoch_id, paths["rollup"])
            timed("heavy_hitters_epoch", app.heavy_hitters_epoch, batch_df, epoch_id,
                  paths["hh"], HH_KEYS, HH_COUNTERS)

        def docs_epoch(batch_df, epoch_id):
            timed("ingest_dedup_epoch", app.ingest_dedup_epoch, batch_df, epoch_id,
                  paths["index"], paths["corpus"])

        try:
            self._drain(
                self.sources.parquet_file_stream(self.spark, self.src_events, self.ev_schema, 1),
                events_epoch, paths["ckpt_events"], "events", ops, samples)
            self._drain(
                self.sources.parquet_file_stream(self.spark, self.src_docs, self.doc_schema, 1),
                docs_epoch, paths["ckpt_docs"], "docs", ops, samples)
        except Exception as exc:  # noqa: BLE001 - a failed drain is counted, not fatal
            print(f"drain failed: {type(exc).__name__}: {str(exc)[:300]}")
            ops.append(Op("drain", 0.0, False))
        layers: dict[str, float] = {}
        if tracer is not None:
            layers["operators.exec_s"] = time.perf_counter() - t0
            for key, val in tracer.job_stats(tracer.jobs_since(first_job)).items():
                prefix = "sources" if key.startswith("input") else "operators"
                layers[f"{prefix}.{key}"] = val
            layers["streaming.state_bytes"] = dir_bytes(*paths.values())
            for stem, xs in samples.items():
                layers[f"streaming.{stem}_s"] = median(xs)
            layers["jvm.heap_used_bytes"] = tracer.heap_used()
        self.drains.append({"paths": paths, "ops": ops})
        return ops, layers

    # -- checks ----------------------------------------------------------
    def verify(self) -> int:
        """Check every drain's final state; a wrong table fails every
        epoch that wrote it."""
        failed = 0
        for drain in self.drains:
            p, ops = drain["paths"], drain["ops"]
            ev_ops = [o for o in ops if o.name.startswith("events#")]
            doc_ops = [o for o in ops if o.name.startswith("docs#")]
            if ev_ops and not (self._rollup_ok(p["rollup"]) and self._hh_ok(p["hh"])):
                print(f"{p['rollup']}: rollup or heavy hitters differ from batch recompute")
                failed += len(ev_ops)
            if doc_ops:
                kept = self._corpus_ids(p["corpus"])
                drain["kept"] = len(kept)
                if kept != self.expected_corpus:
                    print(f"{p['corpus']}: corpus differs from batch keep-min-id dedup")
                    failed += len(doc_ops)
        return failed

    def _rollup_ok(self, path: str) -> bool:
        state = pq.read_table(path)
        rows = zip(state["hour_key"].to_pylist(), state["n"].to_pylist(),
                   state["scaled_sum"].to_pylist())
        return sorted(rows) == self.expected_rollup

    def _hh_ok(self, path: str) -> bool:
        summary = _dataset(os.path.join(path, "summary")).to_table()
        totals = _dataset(os.path.join(path, "totals")).to_table()
        if sum(totals["n_rows"].to_pylist()) != self.n_events:
            return False
        keys = summary["user_id"].to_pylist()
        weights = summary["weight"].to_pylist()
        merged: Counter = Counter()
        for k, w in zip(keys, weights):
            merged[k] += w
        # Misra-Gries: each epoch summary undercounts by at most its
        # rows / (counters + 1); a merged weight never overcounts.
        slack = self.n_events / (HH_COUNTERS + 1)
        return all(w <= self.true_counts[k] <= w + slack for k, w in merged.items())

    @staticmethod
    def _corpus_ids(path: str) -> list[int]:
        corpus = _dataset(path).to_table(columns=["doc_id"])
        return sorted(corpus["doc_id"].to_pylist())

    # -- per-layer -------------------------------------------------------
    def artifact_bytes(self) -> int:
        return 0

    def stream_layers(self) -> dict[str, float]:
        """Run-level streaming ratios: epoch growth over the warm
        drains, and duplicates dropped over duplicates planted."""
        out = {}
        growth = []
        for d in self.drains[1:]:
            for tag in ("events#", "docs#"):
                xs = [o.seconds for o in d["ops"] if o.name.startswith(tag)]
                q = max(1, len(xs) // 4)
                if len(xs) >= 2:
                    growth.append(median(xs[-q:]) / median(xs[:q]))
        out["streaming.epoch_growth"] = median(growth) if growth else 1.0
        kept = [d["kept"] for d in self.drains if "kept" in d]
        dropped = self.n_docs_in - median(kept) if kept else 0
        out["streaming.dup_drop_ratio"] = dropped / self.planted_dups if self.planted_dups else 1.0
        return out


def _snake(key: str) -> str:
    return re.sub(r"(?<!^)(?=[A-Z])", "_", key).lower()


def _spark_schema(schema: pa.Schema) -> str:
    types = {pa.int64(): "bigint", pa.string(): "string", pa.float64(): "double",
             pa.timestamp("us"): "timestamp"}
    return ", ".join(f"{f.name} {types[f.type]}" for f in schema)


def _dataset(path: str) -> ds.Dataset:
    """A table written with ``partitionBy("__epoch")``; the partition
    directories start with ``_``, which pyarrow skips by default."""
    return ds.dataset(path, partitioning="hive", ignore_prefixes=[".", "_SUCCESS"])
