"""Streaming change-data-feed over snapshot tables (Spark 4 Python
DataSource API): ``spark.readStream.format("snapshot_cdf")`` tails a
manifest-committed table (sources/snapshots.py) and emits each
version's row-level changes as a micro-batch — the Delta CDF /
``readStream``-on-a-table capability, built on the engine's own
transactional log.
(Reference contrast: the reference has no table metadata layer at all
— downstream consumers re-list raw HDFS directories and cannot tell
"new since last read" from "everything"; spark_apps/
pubg_streaming.py:236-244.)

Why this shape:

- **Offsets ARE table versions.** The stream's offset ``{"version":
  N}`` means "everything through manifest vN has been emitted".
  ``latestOffset`` re-reads the manifest log — a durable, external
  source of truth — so a driver restart cannot regress or re-mint
  offsets (the hazard that forces the poll-counter REST source onto
  the simple-reader contract does not exist here, which is why this
  source can use the full ``DataSourceStreamReader`` and read files
  in EXECUTOR tasks instead of on the driver).
- **One input partition per file, attributed per commit.** Each
  version in the offset range contributes its own partitions: an
  APPEND's added files (data files are immutable, so the version
  delta is exactly the file-list delta) are emitted as ``insert``
  rows; a REWRITE that recorded change data at commit time
  (``snapshot_delete_where`` / ``snapshot_merge_upsert`` /
  ``snapshot_restore``) emits exactly its change files — rows already
  carrying ``_change_type`` — and a compaction's recorded-empty
  change set emits nothing, so the stream rides through maintenance
  instead of breaking on it. Every row also carries
  ``_commit_version``. Parallelism scales with the commits' file
  counts, not the driver.
- **Fail-loud on unservable history.** A rewrite commit that predates
  change recording raises (no change data exists to serve — silently
  under-reporting a change set is worse than stopping the stream),
  and a VACUUMED offset raises too: if the stream's start version is
  gone, diffing against "empty table" would re-emit the entire head
  as inserts and permanently duplicate derived tables (the round-7
  ADVICE hazard). Restart such streams from
  ``starting_version=latest`` after rebuilding the target.

Schema comes from the head manifest's recorded schema (every commit
records one since the schema-enforcement round) plus the two change
columns; tables predating that must pass an explicit ``.schema(...)``
INCLUDING ``_change_type string`` / ``_commit_version long``. Local/
shared filesystem only — the same scope as the snapshot tables
themselves.

Options: ``path`` (required), ``starting_version`` (int, default 0 =
emit the whole table first; ``"latest"`` = only new commits),
``max_versions_per_batch`` (int, default 0 = unbounded) — admission
control: each micro-batch advances the offset by at most N table
versions (Delta's ``maxFilesPerTrigger`` analog at version
granularity), so a fast-committing source drains in bounded bites
instead of ever-growing plans. The cursor is in-memory, learned from
``partitions``/``commit`` (the Python stream API has no
admission-control hook and may call ``latestOffset`` before
``initialOffset``), so the FIRST batch of a (re)started query is a
full catch-up — capping it blindly could regress below a checkpointed
offset and re-emit rows, which is strictly worse; steady-state
batches are bounded.

Trigger note: Spark's Python micro-batch stream wrapper does not yet
implement ``Trigger.AvailableNow`` natively and falls back to a
single catch-up batch per start (logged warning) — each start drains
offset->head once, which is exactly the drain-and-stop contract the
tests pin; continuous / processingTime triggers tail normally.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from pubg_data_pipeline_spark.sources.commitproto import require_local_path

#: Metadata columns every CDF row carries (Delta CDF's column names).
META_COLS = ("_change_type", "_commit_version")


def _versions(manifest_dir: str) -> list[int]:
    if not os.path.isdir(manifest_dir):
        return []
    out = []
    for entry in os.listdir(manifest_dir):
        if entry.startswith("v") and entry.endswith(".json"):
            digits = entry[1:-5]
            if digits.isdigit():
                out.append(int(digits))
    return sorted(out)


def _manifest(manifest_dir: str, version: int) -> dict:
    with open(
        os.path.join(manifest_dir, f"v{version:012d}.json"), encoding="utf-8"
    ) as f:
        return json.load(f)


def plan_changes(
    mdir: str, lo: int, hi: int, label: str, hint: str
) -> list[tuple[int, str | None, list[str]]]:
    """THE per-version change enumeration, shared by the batch reader
    (snapshots.snapshot_table_changes) and the streaming source so the
    two can never disagree about the same history. Returns
    ``(version, change_type, relpaths)`` triples for versions in
    (lo, hi]: an APPEND contributes its added data files tagged
    ``"insert"``; a rewrite with recorded change data contributes its
    change files tagged ``None`` (rows carry their own _change_type;
    a compaction's empty list contributes nothing). Raises on a
    vacuumed range (the delta cannot be attributed — and a missing
    ``lo`` would otherwise diff against 'empty table' and re-emit the
    whole head) and on rewrites that predate change recording."""
    have = set(_versions(mdir))
    missing = [v for v in range((lo or 1), hi + 1) if v not in have]
    if missing:
        raise ValueError(
            f"{label}: versions {missing} in the {lo}->{hi} delta were "
            f"vacuumed — the change feed cannot be served; {hint}"
        )
    out: list[tuple[int, str | None, list[str]]] = []
    for v in range(lo + 1, hi + 1):
        m = _manifest(mdir, v)
        if m["op"] == "append":
            before = set(_manifest(mdir, v - 1)["files"]) if v > 1 else set()
            out.append((v, "insert", [f for f in m["files"] if f not in before]))
        elif "change" in m:
            out.append((v, None, list(m["change"]["files"])))
        else:
            raise ValueError(
                f"{label}: version {v} is '{m['op']}' with no recorded "
                f"change data — the {lo}->{hi} delta cannot be served; {hint}"
            )
    return out


class _FilePartition(InputPartition):
    def __init__(self, file_path: str, change_type: str | None, version: int):
        self.file_path = file_path
        # 'insert' for an append's data files; None for change files,
        # whose rows carry their own _change_type column
        self.change_type = change_type
        self.version = version


class SnapshotCdfStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.table_path = require_local_path(
            options["path"],
            "snapshot_cdf (tails a snapshot table)",
            "tail it from a local or shared filesystem.",
        )
        self.mdir = os.path.join(self.table_path, "_manifests")
        self.field_names = [f.name for f in schema.fields]
        self.data_fields = [n for n in self.field_names if n not in META_COLS]
        self.start_opt = str(options.get("starting_version", "0"))
        self.max_versions = int(options.get("max_versions_per_batch", 0))
        self._cursor: int | None = None  # last planned end (see module doc)

    def initialOffset(self):
        if self.start_opt == "latest":
            versions = _versions(self.mdir)
            offset = versions[-1] if versions else 0
        else:
            offset = int(self.start_opt)
        if self._cursor is None:
            self._cursor = offset
        return {"version": offset}

    def latestOffset(self):
        versions = _versions(self.mdir)
        head = versions[-1] if versions else 0
        if self.max_versions > 0 and self._cursor is not None:
            # never below the cursor: a capped offset that regressed
            # under the checkpointed offset would re-emit rows
            head = min(head, self._cursor + self.max_versions)
        return {"version": head}

    def partitions(self, start, end):
        lo, hi = int(start["version"]), int(end["version"])
        # rate-limit cursor learns the planned end (and never regresses)
        if self._cursor is None or max(lo, hi) > self._cursor:
            self._cursor = max(lo, hi)
        if hi <= lo:
            return []
        return [
            _FilePartition(os.path.join(self.table_path, f), ct, v)
            for v, ct, relpaths in plan_changes(
                self.mdir,
                lo,
                hi,
                f"snapshot_cdf at {self.table_path!r}",
                "restart the stream from the new head "
                "(starting_version=latest) after rebuilding the derived "
                "state.",
            )
            for f in relpaths
        ]

    def read(self, partition):
        # executor-side: one immutable parquet file -> ARROW RECORD
        # BATCHES in declared field order (the Python DataSource API's
        # fast path — zero per-row Python; the tuple-yield form costs a
        # Python object per cell, which is the difference between
        # tailing a 100-file commit in seconds vs minutes).
        # Spark-written parquet timestamps arrive tz-naive (and as
        # NANOSECONDS when the file is Spark's default INT96 encoding);
        # Spark's Arrow ingest accepts only tz-aware MICROSECOND
        # timestamps (session tz UTC, µs internal precision), so
        # timestamp columns are cast to timestamp[us, UTC] — for
        # Spark-written values a lossless relabel (they carry µs
        # precision regardless of the on-disk unit).
        import pyarrow as pa
        import pyarrow.parquet as pq

        want = list(self.data_fields)
        if partition.change_type is None:
            want.append("_change_type")
        table = pq.read_table(partition.file_path, columns=want)
        n = table.num_rows
        cols = []
        for name in self.field_names:
            if name == "_change_type":
                if partition.change_type is not None:
                    cols.append(pa.array([partition.change_type] * n, pa.string()))
                else:
                    cols.append(table.column("_change_type").cast(pa.string()))
                continue
            if name == "_commit_version":
                cols.append(pa.array([partition.version] * n, pa.int64()))
                continue
            col = table.column(name)
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.timestamp(col.type.unit, tz=col.type.tz or "UTC"))
                col = col.cast(pa.timestamp("us", tz=col.type.tz))
            cols.append(col)
        yield from pa.table(dict(zip(self.field_names, cols))).to_batches()

    def commit(self, end):
        # offsets live in the table's own manifest log + Spark's
        # checkpoint; nothing external to acknowledge — but the
        # rate-limit cursor learns the committed end
        v = int(end["version"])
        if self._cursor is None or v > self._cursor:
            self._cursor = v


class SnapshotCdfSource(DataSource):
    @classmethod
    def name(cls):
        return "snapshot_cdf"

    def schema(self):
        mdir = os.path.join(self.options["path"], "_manifests")
        versions = _versions(mdir)
        if not versions:
            raise ValueError(
                f"snapshot_cdf: no snapshot commits at {self.options['path']!r}"
            )
        head = _manifest(mdir, versions[-1])
        if "schema" not in head:
            raise ValueError(
                "snapshot_cdf: this table's manifests predate recorded "
                "schemas — pass an explicit .schema(...) to readStream "
                "(include _change_type string and _commit_version long)."
            )
        from pyspark.sql.types import LongType, StringType, StructType

        st = StructType.fromJson(json.loads(head["schema"]))
        st = st.add("_change_type", StringType()).add("_commit_version", LongType())
        return st

    def streamReader(self, schema):
        return SnapshotCdfStreamReader(schema, self.options)


def register(spark) -> None:
    """Make the format available: ``register(spark)`` then
    ``spark.readStream.format("snapshot_cdf").option("path", ...)``."""
    spark.dataSource.register(SnapshotCdfSource)
