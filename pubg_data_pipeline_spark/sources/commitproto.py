"""The shared commit protocol behind every storage-maintenance write.

Each subsystem below publishes state the same way — write a tmp copy,
atomically install it, sweep what the new state obsoletes:

- directory swaps (:func:`swap_dir` + :func:`recover`): the
  rename-aside swap that installs a rewritten table — streaming state
  epochs and compactions (:mod:`streaming.app`), small-file
  compaction (:func:`sources.io.compact_parquet`) and the
  heavy-hitter epoch-partition commit; side dirs follow one naming
  rule (:func:`tmp_dir`, :func:`aside_dir`);
- snapshot manifests (:mod:`sources.snapshots`): create-only slot
  publish via ``os.link`` (losing a version race is detected, not
  clobbered);
- the backfill manifest (:func:`sources.io.backfill_stale_partitions`):
  last-writer-wins publish via ``os.replace``;
- partition sweeps (:func:`sources.io.propagate_deletes`,
  ``expire_partitions``, backfill's doomed-partition prune): remove
  ``col=value`` directories matched against the ACTUAL on-disk
  Hive-escaped names;
- the JSONL sink's two-phase commit (:mod:`sources.jsonl_sink`):
  tmp-per-task, driver-side rename publish.

This module is the ONE place those disciplines live, so a lake-format
backend (Delta/Iceberg MERGE, conditional PUT, catalog commit) replaces
this module — not one hand-rolled protocol per subsystem. Everything
here is plain local-filesystem code by design; :func:`require_local_path`
is the shared fail-loud gate every caller runs first.

(Reference contrast: the reference appends to HDFS with no commit
protocol at all — a crashed job leaves partial files readers serve;
spark_apps/pubg_streaming.py's parquet sink.)
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote


def require_local_path(path: str, op: str, hint: str) -> str:
    """Fail-loud gate for every local-filesystem commit protocol: the
    tmp-then-rename/link disciplines below are only atomic on a real
    (driver-and-executor-shared) local filesystem, so a ``scheme://``
    URI must be rejected BEFORE any state is written. ``op`` names the
    caller, ``hint`` says what to use instead on an object store."""
    if "://" in path:
        raise ValueError(f"{op} uses local-filesystem atomic commits; got remote URI {path!r} — {hint}")
    return path


def _side_dir(path: str, suffix: str) -> str:
    head, base = os.path.split(os.path.normpath(path))
    return os.path.join(head, f".{base}.{suffix}")


def tmp_dir(path: str, tag) -> str:
    """Where a writer stages the replacement for directory ``path``:
    ``dirname/.{base}.tmp-{tag}``. The dot prefix keeps it out of
    Spark's and pyarrow's listings of the parent (which matters when
    ``path`` is itself a ``col=value`` partition); ``tag`` tells
    concurrent or successive writers apart (an epoch id, "compact")."""
    return _side_dir(path, f"tmp-{tag}")


def aside_dir(path: str) -> str:
    """Where :func:`swap_dir` parks the live ``path`` between its two
    renames: ``dirname/.{base}.old``."""
    return _side_dir(path, "old")


def recover(path: str) -> bool:
    """Undo a swap that crashed between its two renames: if ``path`` is
    missing and its aside exists, rename the aside back. Returns True
    iff it restored something; a present ``path`` is never touched.

    Race tolerance: a concurrent recoverer (two readers hitting the
    same crashed state) or a writer mid-swap can win the rename first —
    losing is fine as long as ``path`` exists afterwards, so OSError
    is swallowed iff it reappeared. Tmp dirs are left alone, because a
    reader may run this while a writer's tmp is in flight; leftovers
    are :func:`sources.io.vacuum_state_artifacts`' job."""
    aside = aside_dir(path)
    if os.path.isdir(path) or not os.path.isdir(aside):
        return False
    try:
        os.rename(aside, path)
    except OSError:
        if not os.path.isdir(path):
            raise  # genuinely stuck, not a lost recovery race
        return False
    return True


def swap_dir(tmp: str, path: str) -> None:
    """Install the fully written directory ``tmp`` as ``path``: move the
    live ``path`` aside, rename ``tmp`` onto it, drop the aside. At no
    instant is the only copy deleted: a crash between the renames
    leaves the previous state at :func:`aside_dir`, which
    :func:`recover` restores. Recovery runs first, so the stale-aside
    delete below only ever removes a copy that ``path`` supersedes.
    Single writer per ``path`` (run one compactor per state)."""
    recover(path)
    aside = aside_dir(path)
    if os.path.isdir(path):
        if os.path.isdir(aside):
            shutil.rmtree(aside)
        os.rename(path, aside)
    os.rename(tmp, path)
    if os.path.isdir(aside):
        shutil.rmtree(aside)


def _write_tmp_json(tmp: str, doc: dict) -> None:
    os.makedirs(os.path.dirname(tmp) or ".", exist_ok=True)
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(doc, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())


def publish_json(doc: dict, final_path: str) -> None:
    """Last-writer-wins atomic JSON publish: write ``<final>.tmp``,
    fsync, ``os.replace`` onto the final name. A reader sees the old
    document or the new one, never a torn write; a crash leaves at
    worst a ``.tmp`` orphan (warehouse_fsck's ``tmp_orphan`` class)."""
    tmp = final_path + ".tmp"
    _write_tmp_json(tmp, doc)
    os.replace(tmp, final_path)


def publish_json_slot(doc: dict, final_path: str, tmp_path: str) -> bool:
    """Create-only atomic JSON publish for optimistic-concurrency
    slots: ``os.link(tmp, final)`` is atomic AND fails with EEXIST if
    another writer took the slot first — the loser learns it lost
    (returns False) instead of clobbering, which is the property
    ``os.replace`` cannot give. The tmp file is always cleaned up;
    ``tmp_path`` must be writer-unique (e.g. carry a commit id)."""
    _write_tmp_json(tmp_path, doc)
    try:
        os.link(tmp_path, final_path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp_path)


class TxnLog:
    """The transactional-log commit backend: a versioned JSON-document
    log with create-only (CAS) publishes — the lake-format commit
    primitive (Delta's ``_delta_log/<version>.json``, Iceberg's
    metadata-file swap) in its minimal local-FS form, shared by every
    subsystem that opts into log-backed state:

    - ``snapshots.py`` runs its ``_manifests/v{N}.json`` table log on
      this class (it always WAS this protocol; now it is this module);
    - ``backfill_stale_partitions(backend="log")`` versions its
      fingerprint manifest here instead of replace-in-place;
    - ``propagate_deletes``/``expire_partitions`` with ``backend="log"``
      journal each maintenance operation BEFORE sweeping directories —
      the log commit is the commit point, the physical sweep is
      vacuum-like and replayable after a crash.

    Guarantees: a version file is complete or absent (tmp + fsync +
    atomic link), version numbers are dense and strictly ordered,
    losing a CAS race is detected (EEXIST) never clobbered, and a
    reader holding version N is immune to later commits (snapshot
    isolation — old versions are immutable until ``vacuum``). On an
    object store every ``publish`` becomes one conditional PUT."""

    def __init__(self, log_dir: str, retries: int = 20) -> None:
        self.log_dir = log_dir
        self.retries = retries

    def _path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:012d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for entry in os.listdir(self.log_dir):
            if entry.startswith("v") and entry.endswith(".json"):
                digits = entry[1:-5]
                if digits.isdigit():
                    out.append(int(digits))
        return sorted(out)

    def read(self, version: int | None = None) -> dict | None:
        """Latest committed document (or a pinned ``version``); None on
        an empty log. A torn read is impossible: the file either fully
        exists (post-link) or not at all. When ``version`` is
        auto-resolved, a concurrent ``vacuum`` may unlink the resolved
        file between the listing and the open — that race retries with
        a fresh listing instead of crashing the reader (a PINNED version
        that vanished still raises: the caller asked for that exact
        version and it is gone)."""
        if version is not None:
            with open(self._path(version), encoding="utf-8") as f:
                return json.load(f)
        for _ in range(self.retries):
            versions = self.versions()
            if not versions:
                return None
            try:
                with open(self._path(versions[-1]), encoding="utf-8") as f:
                    return json.load(f)
            except FileNotFoundError:
                continue  # head vacuumed between listdir and open
        raise RuntimeError(
            f"TxnLog.read lost the vacuum race {self.retries} times at "
            f"{self.log_dir!r}."
        )

    def version_path(self, version: int) -> str:
        """Public path accessor for one version's document file —
        maintenance callers (snapshot_vacuum) use this instead of
        reaching into the private ``_path``."""
        return self._path(version)

    def remove(self, version: int) -> str:
        """Unlink one version's document (vacuum primitive); returns the
        removed path. Missing file raises — double-vacuum is a caller
        bug worth surfacing."""
        p = self._path(version)
        os.unlink(p)
        return p

    def publish(self, doc: dict, commit_id: str | None = None) -> int:
        """Append ``doc`` as the next version and return its number.
        Losing the slot race re-reads the head and takes the following
        slot — last-writer-wins at DOCUMENT granularity (each caller
        publishes self-contained state; rebase-style merging is the
        caller's job, as in snapshot_commit's retry loop)."""
        if commit_id is None:
            commit_id = uuid.uuid4().hex
        os.makedirs(self.log_dir, exist_ok=True)
        for _ in range(self.retries):
            versions = self.versions()
            version = (versions[-1] if versions else 0) + 1
            stamped = dict(doc)
            stamped["_txn"] = {"version": version, "commit_id": commit_id}
            if publish_json_slot(
                stamped,
                self._path(version),
                os.path.join(self.log_dir, f".tmp-{commit_id}-{version}"),
            ):
                return version
        raise RuntimeError(
            f"TxnLog.publish lost the version race {self.retries} times at "
            f"{self.log_dir!r} — contention this hot needs a coordinating "
            "commit service."
        )

    def try_publish_version(self, doc: dict, version: int, commit_id: str) -> bool:
        """CAS a SPECIFIC version slot (no retry): the primitive for
        callers that rebase their document on the parent version before
        retrying (snapshot_commit). True iff this writer won the slot."""
        os.makedirs(self.log_dir, exist_ok=True)
        return publish_json_slot(
            doc,
            self._path(version),
            os.path.join(self.log_dir, f".tmp-{commit_id}-{version}"),
        )

    def vacuum(self, keep_versions: int) -> list[str]:
        """Drop all but the newest ``keep_versions`` version files.
        Readers lose time travel past the horizon — the same contract
        as snapshot_vacuum, whose data-file half stays table-specific."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        versions = self.versions()
        removed = []
        for v in versions[:-keep_versions]:
            p = self._path(v)
            os.unlink(p)
            removed.append(p)
        return removed


def partition_dirs(table_path: str, partition_col: str) -> dict[str, str]:
    """Map of Hive-UNESCAPED partition value -> directory path for one
    level of ``col=value`` layout. Matching on-disk names through
    ``unquote`` is load-bearing: Spark percent-encodes special chars
    (':' -> '%3A') in partition paths, so building names from raw
    values would silently miss exactly the directories being managed."""
    prefix = f"{partition_col}="
    out: dict[str, str] = {}
    if os.path.isdir(table_path):
        for entry in os.listdir(table_path):
            full = os.path.join(table_path, entry)
            if os.path.isdir(full) and entry.startswith(prefix):
                out[unquote(entry[len(prefix):])] = full
    return out


def sweep_partition_dirs(
    table_path: str, partition_col: str, doomed: set[str]
) -> list[str]:
    """Remove the ``col=value`` directories whose unescaped value is in
    ``doomed``; returns the values actually removed. The sweep half of
    every dynamic-overwrite protocol: a partition whose recompute
    produced zero rows writes nothing, so its stale directory must be
    removed explicitly or readers serve pre-delete data forever."""
    removed = []
    for value, full in partition_dirs(table_path, partition_col).items():
        if value in doomed:
            shutil.rmtree(full)
            removed.append(value)
    return sorted(removed)
