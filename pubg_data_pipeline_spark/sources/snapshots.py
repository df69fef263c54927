"""Manifest-committed parquet tables: atomic commits, time travel,
reader isolation, vacuum — the minimal slice of a modern table format
(Delta/Iceberg-style) built on plain parquet + JSON manifests.

Why it exists: the reference appends bare parquet directories forever
(reference: spark_apps/pubg_streaming.py:236-244, layout
docker-compose.yml:137-148), so a reader that lists files mid-write
sees half a commit, there is no way to retract a bad batch, and
nothing records table history. At 100 TB the fix is a metadata layer,
not bigger directories: data files are immutable and INVISIBLE until a
manifest references them, commits are one atomic manifest publish, and
readers pin a version for the lifetime of a query.

Layout::

    <path>/data/<commit-uuid>/part-*.parquet   immutable data files
    <path>/_manifests/v{N:012d}.json           one JSON per version

Commit protocol (optimistic concurrency):

1. write the DataFrame to a fresh ``data/<uuid>/`` directory — crash
   here strands invisible files (vacuum reclaims them), never corrupts
   the table;
2. compose the new file list (parent's files + new for ``append``,
   new only for ``overwrite``);
3. publish ``v{parent+1}.json`` via write-temp + fsync +
   ``os.link(tmp, final)``: the hard link is atomic AND fails with
   EEXIST if a concurrent writer won the version — the loser re-reads
   the new head and retries on top of it. (On an object store the
   same slot is a conditional PUT / putIfAbsent; local-fs guard below
   mirrors expire_partitions.)

Readers never list ``data/``: they load exactly the files named by one
manifest, so a query planned against version N is immune to later
commits (snapshot isolation) and ``version=`` gives time travel.

Round 8 adds the two metadata features a real lake format layers on
this skeleton:

- **Change data through rewrites** (Delta CDF semantics): rewrite
  commits (DELETE WHERE, MERGE, RESTORE) record their row-level change
  set as parquet files under ``_changes/<commit-uuid>/`` at COMMIT
  time — when the writer already holds both worlds as DataFrames — so
  change consumers never pay a read-time table diff;
  ``snapshot_compact`` records a provably-empty change set (rows
  identical by construction) with zero IO. ``snapshot_table_changes``
  (batch) and the ``snapshot_cdf`` streaming source serve
  ``_change_type`` / ``_commit_version`` rows through appends AND
  rewrites; only commits that predate change recording still raise.
- **Manifest file statistics + pruning**: commits record per-file
  min/max/null-count for declared ``stats_cols`` (one driver-side
  parquet-footer listing pass over the new files — no data read), and
  ``snapshot_read(where=...)`` selects only the files whose recorded
  range can satisfy the conjuncts BEFORE Spark sees the file list —
  at 100 TB with fine-grained commits this is the difference between
  opening 10 footers and 100k.
- **Deletion vectors** (``snapshot_delete_where(use_dv=True)``): a
  DELETE writes O(deleted rows) — per-file row positions captured
  from Spark's ``_metadata.row_index`` into ``_dv/<commit-uuid>/``
  parquet plus the usual change files — instead of rewriting the
  table (the copy-on-write path rewrites 100 TB to delete 0.1% of
  it; Delta/Iceberg ship DVs for exactly this reason). Readers apply
  the version's DV as one distributed anti-join on
  ``(file, row_index)`` — broadcast while the DV is small, shuffle
  when it is not — so no driver state and no per-file Python.
  Appends inherit the parent's DV; ``snapshot_compact`` materializes
  it (rewrites survivors, clears the DV); overwrites drop it.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pubg_data_pipeline_spark.sources.io import hidden_name

_COMMIT_RETRIES = 20


def _require_local(path: str) -> None:
    from pubg_data_pipeline_spark.sources.commitproto import require_local_path

    require_local_path(
        path,
        "snapshot tables",
        "on an object store publish the manifest with a conditional PUT instead.",
    )


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _log(path: str):
    """The table's manifest log IS the shared transactional-log
    backend (commitproto.TxnLog): same v{N:012d}.json layout, same CAS
    slot publish — snapshots was the prototype of that protocol and
    now runs on the one shared implementation."""
    from pubg_data_pipeline_spark.sources.commitproto import TxnLog

    return TxnLog(_manifest_dir(path), retries=_COMMIT_RETRIES)


def _versions(path: str) -> list[int]:
    return _log(path).versions()


def _read_manifest(path: str, version: int) -> dict:
    return _log(path).read(version)


def _list_part_files(data_dir: str) -> list[str]:
    return sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not hidden_name(f)
    )


def last_committed_txn(path: str, app_id: str) -> int | None:
    """Highest ``txn_version`` any live manifest records for ``app_id``
    (the Delta txnAppId/txnVersion idempotency protocol): a retried
    micro-batch asks this before writing and skips epochs the table has
    already absorbed. Scans manifests newest-first and RETURNS ON THE
    FIRST HIT — per-app txn versions only move forward (the Delta
    setTransaction contract: latest entry wins), so the newest manifest
    recording the app holds its latest version, and the common case
    (epoch just committed, sink retrying) reads one small JSON instead
    of the table's whole manifest history (O(n) -> O(1) per commit;
    the scan-everything form made a minute-cadence stream's commit
    latency grow without bound)."""
    for v in reversed(_versions(path)):
        txn = _read_manifest(path, v).get("txn")
        if txn and txn.get("app_id") == app_id:
            return txn["version"]
    return None


def _schema_fields(schema_json: str) -> dict[str, str]:
    """name -> canonical-type map from a StructType JSON, IGNORING
    nullability (Spark flips nullable flags freely across identical
    writes; nullability is not a schema contract here)."""
    import json as _json

    doc = _json.loads(schema_json)
    return {
        f["name"]: _json.dumps(f["type"], sort_keys=True) for f in doc["fields"]
    }


def _schema_compat(parent_json: str, new_json: str) -> str:
    """'same' | 'additive' (new nullable columns only) |
    'incompatible' (dropped columns or changed types — silent data
    corruption for readers of the mixed file list)."""
    parent, new = _schema_fields(parent_json), _schema_fields(new_json)
    for name, typ in parent.items():
        if name not in new or new[name] != typ:
            return "incompatible"
    return "additive" if len(new) > len(parent) else "same"


#: Change-type values change files may carry (Delta CDF vocabulary).
CHANGE_TYPES = ("insert", "delete", "update_preimage", "update_postimage")


def _stat_value(v):
    """JSON-safe, ORDER-PRESERVING encoding of a parquet footer stat.
    Timestamps/dates become ISO strings (fixed-width → lexicographic
    order == chronological order); bytes decode as UTF-8 (parquet
    string stats arrive as bytes). Types whose encoding would not
    preserve order for pruning (Decimal → float rounding could
    mis-prune at the boundary) return None = "unprunable", never an
    approximation."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return v if v is None else bool(v)
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return None
    return None


def _collect_file_stats(
    table_root: str, relpaths: list[str], stats_cols: list[str]
) -> dict[str, dict]:
    """Per-file min/max/null-count for ``stats_cols``, from parquet
    FOOTERS only (metadata read — no row data touched; this is the
    cheap listing pass a lake format's commit does). A column whose
    stats are absent/undecodable in any row group records None for that
    file — the pruner then always keeps it (safe, never wrong)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in relpaths:
        md = pq.ParquetFile(os.path.join(table_root, rel)).metadata
        colstats: dict[str, dict | None] = {}
        if md.num_row_groups == 0:
            for c in stats_cols:
                colstats[c] = {"min": None, "max": None, "nulls": 0, "rows": 0}
            out[rel] = colstats
            continue
        idx = {
            md.row_group(0).column(j).path_in_schema: j
            for j in range(md.num_columns)
        }
        for c in stats_cols:
            if c not in idx:
                colstats[c] = None  # nested/missing column: unprunable
                continue
            mn = mx = None
            nulls = 0
            ok = True
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx[c]).statistics
                if st is None:
                    ok = False
                    break
                nulls += st.null_count or 0
                if not st.has_min_max:
                    # all-null row group: contributes no min/max
                    continue
                lo, hi = _stat_value(st.min), _stat_value(st.max)
                if lo is None or hi is None:
                    ok = False
                    break
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
            colstats[c] = (
                {"min": mn, "max": mx, "nulls": nulls, "rows": md.num_rows}
                if ok
                else None
            )
        out[rel] = colstats
    return out


_PRUNE_OPS = ("==", "<", "<=", ">", ">=")


def _looks_iso_ts(s) -> bool:
    return isinstance(s, str) and len(s) > 10 and s[10] == "T" and s[4] == "-"


def _looks_date_only(s) -> bool:
    return (
        isinstance(s, str)
        and len(s) == 10
        and s[4] == "-"
        and s[7] == "-"
        and s[:4].isdigit()
    )


def _norm_temporal(a, b):
    """Make two temporal string encodings comparable: when one side is
    a bare date ('YYYY-MM-DD') and the other an ISO timestamp, pad the
    date to its midnight instant — exactly the cast Spark/SQL applies
    to a date literal compared against a timestamp. Without this a
    bare date sorts lexicographically BELOW every same-day ISO
    timestamp and boundary files would be wrongly pruned."""
    if _looks_date_only(a) and _looks_iso_ts(b):
        a = a + "T00:00:00"
    elif _looks_date_only(b) and _looks_iso_ts(a):
        b = b + "T00:00:00"
    return a, b


def _file_may_match(stats: dict | None, where: list[tuple]) -> bool:
    """Can a file with these recorded stats contain a row satisfying
    ALL conjuncts? Missing/None stats → True (keep; pruning is an
    optimization, never a correctness lever). A file whose stats PROVE
    no row can satisfy some conjunct → False (skip). Comparisons
    against a mismatched type keep the file."""
    if not stats:
        return True
    for col, op, value in where:
        cs = stats.get(col)
        if cs is None:
            continue
        mn, mx = cs.get("min"), cs.get("max")
        if mn is None or mx is None:
            if cs.get("rows", 1) == cs.get("nulls", 0):
                # every value NULL: no comparison conjunct can match
                return False
            continue
        v = _stat_value(value)
        if v is None:
            continue
        if (
            isinstance(v, str)
            and isinstance(mn, str)
            and len(mn) > 10
            and mn[10] == "T"
            and len(v) > 10
            and v[10] == " "
        ):
            # stats store timestamps as ISO ('T' separator); a caller's
            # 'YYYY-MM-DD HH:MM:SS' literal must be normalized or the
            # space (0x20 < 'T') would wrongly prune same-date files
            v = v[:10] + "T" + v[11:]
        lo_v, lo_mn = _norm_temporal(v, mn)
        hi_v, hi_mx = _norm_temporal(v, mx)
        try:
            if op == "==" and (lo_v < lo_mn or hi_v > hi_mx):
                return False
            if op == "<" and not (lo_mn < lo_v):
                return False
            if op == "<=" and not (lo_mn <= lo_v):
                return False
            if op == ">" and not (hi_mx > hi_v):
                return False
            if op == ">=" and not (hi_mx >= hi_v):
                return False
        except TypeError:
            continue  # incomparable encodings: keep the file
    return True


#: DVs at or under this many positions are broadcast to the anti-join
#: (a position row is ~2 small values; 5M ≈ tens of MB — comfortably
#: under executor broadcast budgets). Bigger DVs take the shuffle path.
_DV_BROADCAST_ROWS = 5_000_000

#: Extracts a manifest-relative data-file path ("data/<commit>/<file>")
#: from Spark's absolute ``_metadata.file_path`` URI.
_DV_REL_RE = r"(data/[^/]+/[^/]+)$"


def _dv_frame(spark: SparkSession, path: str, dv: dict) -> DataFrame:
    """The version's deletion vector as a DataFrame of
    ``(_dv_file, _dv_pos)`` — broadcast while small (the overwhelming
    case: a DV holds deleted positions only), plain otherwise (AQE
    plans the shuffle join)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(*[os.path.join(path, f) for f in dv["files"]])
    if dv.get("rows", 0) <= _DV_BROADCAST_ROWS:
        df = F.broadcast(df)
    return df


def _with_positions(df: DataFrame) -> DataFrame:
    """Tag every scanned row with its physical identity — manifest-
    relative file path + row index — from Spark's parquet metadata
    pseudo-column (computed in the scan, no extra IO)."""
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.regexp_extract(
            F.col("_metadata.file_path"), _DV_REL_RE, 1
        ).alias("__dv_rel"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )


def _anti_join_dv(df: DataFrame, dv_df: DataFrame) -> DataFrame:
    """Drop the rows a deletion vector names. ``df`` must carry
    ``__dv_rel``/``__dv_pos`` (see :func:`_with_positions`)."""
    return df.join(
        dv_df,
        (df["__dv_rel"] == dv_df["_dv_file"]) & (df["__dv_pos"] == dv_df["_dv_pos"]),
        "left_anti",
    )


class CommitConflict(RuntimeError):
    """A commit pinned to ``expected_parent`` found the table head
    moved — the serializable-conflict signal for read-modify-write
    callers (delete/compact): re-read the new head and redo the
    transformation; blindly rebasing would clobber the concurrent
    commit's rows (lost update)."""


def retry_on_conflict(
    path: str,
    what: str,
    attempt: Callable[[int | None], dict | None],
    max_retries: int = 5,
) -> dict | None:
    """The serializable read-modify-write loop every rewrite of a
    snapshot table runs (delete, merge, compact, and the change-feed
    epochs in ``streaming/app.py``).

    Each try lists the head version (``None`` when the table has no
    commits; no manifest is opened, so the cost does not grow with the
    table's age) and returns ``attempt(head)``. The attempt derives its
    commit from that version and publishes it pinned to it
    (``snapshot_commit(expected_parent=head)``, or a CAS on slot
    ``head + 1``); when another commit lands first it raises
    :class:`CommitConflict`, and the loop re-reads the head and calls it
    again. Data a losing attempt wrote stays invisible until
    ``snapshot_vacuum`` reclaims it. After ``max_retries`` conflicts
    the loop raises ``RuntimeError`` naming ``what``."""
    for _ in range(max_retries):
        versions = _versions(path)
        try:
            return attempt(versions[-1] if versions else None)
        except CommitConflict:
            continue
    raise RuntimeError(
        f"{what} lost the read-modify-write race {max_retries} times at {path!r}."
    )


def _require_head(path: str, head: int | None) -> int:
    if head is None:
        raise FileNotFoundError(f"no snapshot commits at {path!r}")
    return head


def snapshot_commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    expected_parent: int | None = None,
    allow_schema_evolution: bool = False,
    change_data: DataFrame | None = None,
    op_hint: str | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new table version and return its number.

    ``append`` keeps the parent version's files, ``overwrite`` replaces
    them (logically — old files stay on disk for time travel until
    ``snapshot_vacuum``). Safe under concurrent committers: losing the
    version race re-reads the head and retries (data files are written
    once, outside the retry loop).

    ``txn=(app_id, version)`` makes the commit IDEMPOTENT for
    at-least-once callers (foreachBatch epochs): if the table already
    holds a commit from ``app_id`` at ``version`` or later, nothing is
    written and the current head version is returned — so a replayed
    micro-batch cannot double-append (the failure mode ADVICE.md r3
    flagged for non-transactional dual writes). The check runs again
    inside the publish loop, closing the race where two retries of the
    same epoch interleave.

    ``expected_parent`` pins the commit to a specific parent version
    (serializable read-modify-write): if any other commit lands first,
    :class:`CommitConflict` is raised instead of rebasing — an append
    can rebase safely (its rows are independent), but a commit DERIVED
    from version N (delete, compaction) must not silently clobber
    N+1's rows. The loser's already-written data directory is stranded
    invisible and reclaimed by ``snapshot_vacuum``, same as any
    crashed commit.

    ``change_data`` (rewrite commits only) records the commit's
    row-level change set — table columns plus a ``_change_type`` column
    (values from :data:`CHANGE_TYPES`) — written once to
    ``_changes/<commit-uuid>/`` and referenced from the manifest, so
    ``snapshot_table_changes`` / the ``snapshot_cdf`` stream can serve
    deletes and updates without a read-time diff (Delta CDF's
    write-time design). ``op_hint`` labels the rewrite ("delete",
    "merge", "compact", "restore"); ``op_hint="compact"`` with no
    ``change_data`` records a provably-EMPTY change set (a compaction
    rewrites files, never rows) with zero IO. An overwrite with neither
    stays a legacy opaque rewrite: change consumers fail loudly on it.

    ``stats_cols`` declares the columns whose per-file min/max/null
    stats the manifest records (inherited from the parent manifest when
    omitted — a table property). Stats come from the new files' parquet
    footers (metadata-only pass); ``snapshot_read(where=...)`` uses
    them to hand Spark only the files that can match.

    Schema enforcement (the Delta default): every manifest records its
    commit's schema; an APPEND whose schema drops a column or changes
    a type is rejected outright (readers of the mixed file list would
    silently corrupt), and one that only ADDS columns is rejected
    unless ``allow_schema_evolution=True`` — then the manifest is
    flagged ``evolved`` (inherited by descendants) and
    ``snapshot_read`` turns on ``mergeSchema`` for exactly those
    tables, so old files surface the new columns as NULLs without
    every healthy table paying the all-footers merge cost. Overwrites
    replace the schema freely and reset the flag. Nullability is not
    part of the contract (Spark flips it across identical writes);
    pre-schema manifests (older tables) skip enforcement until their
    next commit records one."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    _require_local(path)
    if change_data is not None or op_hint is not None:
        if mode != "overwrite":
            raise ValueError(
                "change_data/op_hint apply to overwrite commits only — an "
                "append's change set IS its added files."
            )
    if change_data is not None:
        expected = set(df.columns) | {"_change_type"}
        if set(change_data.columns) != expected:
            raise ValueError(
                "change_data must carry the table columns plus _change_type; "
                f"got {sorted(change_data.columns)} vs table {sorted(df.columns)}"
            )
    if txn is not None:
        done = last_committed_txn(path, txn[0])
        if done is not None and done >= txn[1]:
            versions = _versions(path)
            return versions[-1] if versions else 0
    commit_id = uuid.uuid4().hex
    new_schema = df.schema.json()
    data_dir = os.path.join(path, "data", commit_id)
    df.write.mode("error").parquet(data_dir)
    new_files = [
        os.path.relpath(p, path) for p in _list_part_files(data_dir)
    ]
    change: dict | None = None
    if change_data is not None:
        change_dir = os.path.join(path, "_changes", commit_id)
        change_data.write.mode("error").parquet(change_dir)
        change = {
            "files": [os.path.relpath(p, path) for p in _list_part_files(change_dir)],
            "op_hint": op_hint,
        }
    elif op_hint == "compact":
        change = {"files": [], "op_hint": "compact"}  # rows provably identical
    elif op_hint is not None:
        raise ValueError(
            f"op_hint {op_hint!r} without change_data — only 'compact' may "
            "assert an empty change set."
        )

    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    # the new files are immutable across CAS retries — pay their footer
    # read once per stats-column set, not once per lost race
    stats_memo: dict[tuple, dict] = {}
    for _ in range(_COMMIT_RETRIES):
        versions = _versions(path)
        if txn is not None:
            done = last_committed_txn(path, txn[0])
            if done is not None and done >= txn[1]:
                return versions[-1] if versions else 0
        parent = versions[-1] if versions else 0
        if expected_parent is not None and parent != expected_parent:
            raise CommitConflict(
                f"snapshot_commit at {path!r}: head moved to v{parent} while "
                f"this read-modify-write was derived from v{expected_parent} "
                "— re-read and retry the transformation."
            )
        files = list(new_files)
        evolved = False
        pm = _read_manifest(path, parent) if parent else None
        effective_stats_cols = (
            stats_cols
            if stats_cols is not None
            else (pm.get("stats_cols") if pm else None)
        )
        file_stats: dict[str, dict] = {}
        if effective_stats_cols:
            key = tuple(effective_stats_cols)
            if key not in stats_memo:
                stats_memo[key] = _collect_file_stats(
                    path, new_files, effective_stats_cols
                )
            file_stats = dict(stats_memo[key])
        if mode == "append" and parent:
            files = pm["files"] + new_files
            evolved = bool(pm.get("evolved"))
            if effective_stats_cols:
                # parent files keep their recorded stats (they are
                # immutable); only the new files paid a footer read
                parent_stats = pm.get("file_stats", {})
                file_stats = {
                    **{f: parent_stats[f] for f in pm["files"] if f in parent_stats},
                    **file_stats,
                }
            if "schema" in pm:
                compat = _schema_compat(pm["schema"], new_schema)
                if compat == "incompatible":
                    raise ValueError(
                        f"snapshot_commit append at {path!r}: schema drops a "
                        "column or changes a type vs the table head — readers "
                        "of the mixed file list would silently corrupt. "
                        "Overwrite explicitly if the schema really changed."
                    )
                if compat == "additive":
                    if not allow_schema_evolution:
                        raise ValueError(
                            f"snapshot_commit append at {path!r}: schema adds "
                            "columns vs the table head — pass "
                            "allow_schema_evolution=True to accept (readers "
                            "will see NULLs for old files)."
                        )
                    evolved = True
        version = parent + 1
        manifest = {
            "version": version,
            "parent": parent,
            "op": mode,
            "commit_id": commit_id,
            "n_files": len(files),
            "files": files,
            "schema": new_schema,
            "evolved": evolved,
        }
        if txn is not None:
            manifest["txn"] = {"app_id": txn[0], "version": txn[1]}
        if change is not None:
            manifest["change"] = change
        if mode == "append" and parent and pm.get("dv"):
            # the parent's deletion vector still governs the inherited
            # files; an overwrite replaces the file list and drops it
            manifest["dv"] = pm["dv"]
        if effective_stats_cols:
            manifest["stats_cols"] = list(effective_stats_cols)
            manifest["file_stats"] = file_stats
        if _log(path).try_publish_version(manifest, version, commit_id):
            return version
        continue  # a concurrent commit took this slot — rebase
    raise RuntimeError(
        f"snapshot_commit lost the version race {_COMMIT_RETRIES} times at "
        f"{path!r} — contention this hot needs a coordinating commit service."
    )


def snapshot_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Read one table version (latest by default). The plan references
    exactly the manifest's files, so concurrent commits — including
    overwrites — cannot change or tear this query's input.

    ``where=[(col, op, value), ...]`` (ops ``== < <= > >=``, ANDed)
    prunes files from the MANIFEST's recorded stats before Spark sees
    the list — the metadata half of predicate pushdown a lake format
    does (parquet footer min/max skipping still applies inside the
    surviving files). The same conjuncts are then applied as a real
    ``filter`` on the returned DataFrame, so the result is exactly
    "this version WHERE ...": pruning is transparent, never a
    correctness lever. Files without recorded stats are always kept."""
    _require_local(path)
    versions = _versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot commits at {path!r}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(
            f"version {version} not found at {path!r} (have {versions})"
        )
    meta = _read_manifest(path, version)
    files = meta["files"]
    if where:
        from pyspark.sql import functions as F

        for col, op, _ in where:
            if op not in _PRUNE_OPS:
                raise ValueError(f"where op must be one of {_PRUNE_OPS}, got {op!r}")
        file_stats = meta.get("file_stats", {})
        files = [f for f in files if _file_may_match(file_stats.get(f), where)]
    if not files:
        # an overwrite with an empty DataFrame — or every file pruned:
        # preserve schema from the manifest (always recorded since the
        # schema-enforcement round; covers RESTORE commits, which are
        # manifest-only and have NO data/<commit_id> directory), else
        # fall back to the commit's data-directory footers (pre-schema
        # manifests)
        if "schema" in meta:
            import json as _json

            from pyspark.sql.types import StructType

            out = spark.createDataFrame(
                [], StructType.fromJson(_json.loads(meta["schema"]))
            )
        else:
            out = spark.read.parquet(os.path.join(path, "data", meta["commit_id"]))
            out = out.limit(0) if meta["files"] else out
    else:
        reader = spark.read
        if meta.get("evolved"):
            # schema-evolved lineage: union all footers so pre-evolution
            # files surface the added columns as NULLs. Only these tables
            # pay the merge cost — a healthy table reads one footer.
            reader = reader.option("mergeSchema", "true")
        out = reader.parquet(*[os.path.join(path, f) for f in files])
        dv = meta.get("dv")
        if dv and dv["files"]:
            # deletion-vector versions: drop the positions the DV names
            # — one anti-join (broadcast while the DV is small), applied
            # BEFORE the where-filter so pruning stays purely an
            # optimization on top of exact semantics
            cols = out.columns
            out = _anti_join_dv(_with_positions(out), _dv_frame(spark, path, dv))
            out = out.select(*cols)
    if where:
        for col, op, value in where:
            c = F.col(col)
            cond = {
                "==": c == value,
                "<": c < value,
                "<=": c <= value,
                ">": c > value,
                ">=": c >= value,
            }[op]
            out = out.filter(cond)
    return out


def snapshot_changes(
    spark: SparkSession, path: str, since_version: int, to_version: int | None = None
) -> DataFrame:
    """Incremental read: rows ADDED between ``since_version``
    (exclusive) and ``to_version`` (inclusive, default head) — the
    append-only slice of a change-data-feed. An incremental consumer
    (rollup refresh, downstream sync) processes O(new data) instead of
    re-reading the table.

    Data files are immutable, so the delta is exactly the manifest
    file-list difference. If any commit in the range is an
    ``overwrite``, added-files no longer mean added-rows (rows also
    vanished) and this raises rather than silently under-reporting the
    change set."""
    _require_local(path)
    versions = _versions(path)
    if since_version not in versions:
        raise ValueError(f"version {since_version} not found at {path!r}")
    if to_version is None:
        to_version = versions[-1]
    elif to_version not in versions:
        raise ValueError(f"version {to_version} not found at {path!r}")
    if to_version < since_version:
        raise ValueError(f"to_version {to_version} < since_version {since_version}")
    for v in versions:
        if since_version < v <= to_version and _read_manifest(path, v)["op"] != "append":
            raise ValueError(
                f"version {v} is an overwrite: the {since_version}->{to_version} "
                "delta is not append-only — re-read the full snapshot instead."
            )
    before = set(_read_manifest(path, since_version)["files"])
    after = _read_manifest(path, to_version)["files"]
    added = [f for f in after if f not in before]
    if not added:
        # zero-delta: preserve schema via the base version's read
        return snapshot_read(spark, path, since_version).limit(0)
    return spark.read.parquet(*[os.path.join(path, f) for f in added])


def snapshot_table_changes(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between ``since_version`` (exclusive) and
    ``to_version`` (inclusive, default head) — Delta's
    ``table_changes``: every row carries ``_change_type`` (insert /
    delete / update_preimage / update_postimage) and
    ``_commit_version``. Unlike :func:`snapshot_changes` (the
    append-only fast path), this serves REWRITE commits too, from the
    change files their writers recorded at commit time
    (``snapshot_delete_where`` / ``snapshot_merge_upsert`` /
    ``snapshot_restore``); a compaction's recorded-empty change set
    contributes nothing. Raises only for rewrite commits that predate
    change recording (no change data exists to serve) and for vacuumed
    history (the per-version file diff needs each version's parent).

    Plan shape: appends read exactly their added files; rewrites read
    exactly their change files — O(changed rows), never a table diff.
    The per-version frames are unioned lazily (allowMissingColumns
    covers schema-evolved lineages: pre-evolution commits surface the
    added columns as NULLs)."""
    from pyspark.sql import functions as F

    _require_local(path)
    versions = _versions(path)
    if since_version != 0 and since_version not in versions:
        hint = (
            " — it was vacuumed; the change feed cannot be served from "
            "there (re-read the full snapshot instead)"
            if versions and since_version < versions[0]
            else ""
        )
        raise ValueError(f"version {since_version} not found at {path!r}{hint}")
    if to_version is None:
        to_version = versions[-1] if versions else 0
    elif to_version not in versions:
        raise ValueError(f"version {to_version} not found at {path!r}")
    if to_version < since_version:
        raise ValueError(f"to_version {to_version} < since_version {since_version}")
    from pubg_data_pipeline_spark.sources.snapshot_cdf import plan_changes

    frames: list[DataFrame] = []
    for v, change_type, relpaths in plan_changes(
        _manifest_dir(path),
        since_version,
        to_version,
        f"snapshot_table_changes at {path!r}",
        "re-read the full snapshot instead.",
    ):
        if not relpaths:
            continue  # compaction / no-op rewrite: zero row changes
        frame = spark.read.parquet(*[os.path.join(path, f) for f in relpaths])
        if change_type is not None:
            frame = frame.withColumn("_change_type", F.lit(change_type))
        frames.append(
            frame.withColumn("_commit_version", F.lit(v).cast("long"))
        )
    if not frames:
        base = snapshot_read(spark, path, to_version).limit(0)
        return base.withColumn("_change_type", F.lit(None).cast("string")).withColumn(
            "_commit_version", F.lit(None).cast("long")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    cols = [c for c in out.columns if c not in ("_change_type", "_commit_version")]
    return out.select(*cols, "_change_type", "_commit_version")


def snapshot_history(path: str) -> list[dict]:
    """All manifests oldest-first, file lists elided to counts."""
    out = []
    for v in _versions(path):
        m = _read_manifest(path, v)
        row = {k: m[k] for k in ("version", "parent", "op", "n_files")}
        if "dv" in m:
            row["dv_rows"] = m["dv"].get("rows", 0)
        out.append(row)
    return out


def snapshot_merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    max_retries: int = 5,
    use_dv: bool = False,
) -> dict:
    """``MERGE INTO table USING updates ON keys`` (upsert form: matched
    rows replaced by the update, unmatched updates inserted) as a
    serializable read-modify-write (:func:`retry_on_conflict`), so a
    concurrent append can never be silently clobbered. ``updates`` must be
    key-unique (enforced — a multi-match MERGE is nondeterministic and
    every real MERGE implementation rejects it) and schema-compatible
    with the table. Returns ``{"version", "updated", "inserted"}``.

    Plan shape (``use_dv=False``): one left_anti join on the keys
    (survivors) + one union — the keys side is ``updates``, typically
    small enough that AQE broadcasts it; the table side is scanned
    once and the whole head is REWRITTEN.

    ``use_dv=True`` makes MERGE write O(updates) instead: the matched
    table rows' physical positions go into the deletion vector, every
    update row is appended as new data files, and ONE manifest publish
    commits both — at 100 TB, upserting a million rows stops costing a
    table rewrite. The match scan is additionally file-pruned when the
    table records stats for a single join key: files whose recorded
    key range cannot intersect the updates' (exact) key min/max are
    skipped — safe with no caller contract, because a matching row's
    key necessarily lies inside the updates' range. Change data is
    identical in both modes (update_preimage / update_postimage /
    insert), so CDF consumers cannot tell the strategies apart."""
    from pyspark.sql import functions as F

    _require_local(path)
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    dup = (
        updates.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "snapshot_merge_upsert: updates contain duplicate keys — a "
            "multi-match MERGE is nondeterministic; dedupe updates first "
            "(e.g. latest-wins by a version column)."
        )
    updates = updates.localCheckpoint()  # one plan, stable across retries
    n_updates = updates.count()
    if use_dv:
        return _merge_upsert_dv(
            spark, path, updates, key_cols, n_updates, max_retries
        )

    def attempt(head: int | None) -> dict:
        head = _require_head(path, head)
        current = snapshot_read(spark, path, version=head)
        if set(current.columns) != set(updates.columns):
            raise ValueError(
                f"snapshot_merge_upsert: updates columns {sorted(updates.columns)} "
                f"!= table columns {sorted(current.columns)}"
            )
        survivors = current.join(updates.select(*key_cols), key_cols, "left_anti")
        n_survivors = survivors.count()
        n_current = current.count()
        merged = survivors.select(*current.columns).unionByName(
            updates.select(*current.columns)
        )
        # Delta-CDF-shaped change set, from frames this merge already
        # holds: matched table rows -> update_preimage, their update
        # rows -> update_postimage, unmatched updates -> insert
        matched_old = current.join(
            updates.select(*key_cols), key_cols, "left_semi"
        ).withColumn("_change_type", F.lit("update_preimage"))
        matched_new = (
            updates.join(current.select(*key_cols), key_cols, "left_semi")
            .select(*current.columns)
            .withColumn("_change_type", F.lit("update_postimage"))
        )
        inserted_rows = (
            updates.join(current.select(*key_cols), key_cols, "left_anti")
            .select(*current.columns)
            .withColumn("_change_type", F.lit("insert"))
        )
        change = matched_old.unionByName(matched_new).unionByName(inserted_rows)
        v = snapshot_commit(
            merged,
            path,
            mode="overwrite",
            expected_parent=head,
            change_data=change,
            op_hint="merge",
        )
        updated = n_current - n_survivors
        return {"version": v, "updated": updated, "inserted": n_updates - updated}

    return retry_on_conflict(path, "snapshot_merge_upsert", attempt, max_retries)


def _merge_upsert_dv(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    n_updates: int,
    max_retries: int,
) -> dict:
    """Deletion-vector MERGE (see :func:`snapshot_merge_upsert`).

    The update rows ARE the commit's new data files — independent of
    which head the merge lands on — so they are written ONCE before
    the retry loop; only the match scan (whose positions feed the DV)
    and the change set re-derive per attempt. One manifest publish,
    CAS-pinned to the head the scan read, commits the appended files
    and the grown vector atomically."""
    from pyspark.sql import functions as F

    commit_id = uuid.uuid4().hex
    data_dir = os.path.join(path, "data", commit_id)
    updates.write.mode("error").parquet(data_dir)
    new_files = [os.path.relpath(p, path) for p in _list_part_files(data_dir)]
    # exact key bounds of the update set (bounded scalars) — used to
    # stats-prune the match scan for single-key merges
    key_bounds = None
    if len(key_cols) == 1 and n_updates:
        k = key_cols[0]
        lo, hi = updates.agg(F.min(k), F.max(k)).first()
        if lo is not None:
            key_bounds = [(k, ">=", lo), (k, "<=", hi)]
    log = _log(path)
    stats_memo: dict[tuple, dict] = {}

    def attempt(head: int | None) -> dict:
        head = _require_head(path, head)
        meta = _read_manifest(path, head)
        if "schema" in meta:
            if _schema_compat(meta["schema"], updates.schema.json()) != "same":
                raise ValueError(
                    f"snapshot_merge_upsert at {path!r}: updates schema "
                    f"{sorted(updates.columns)} is not the table schema — "
                    "appending mismatched files would corrupt readers."
                )
        scan_files = meta["files"]
        if key_bounds and meta.get("file_stats"):
            # a matching table row's key lies inside the updates' exact
            # [min, max], so files whose recorded range cannot intersect
            # it cannot contain matches — safe, no caller contract
            fstats = meta["file_stats"]
            scan_files = [
                f for f in scan_files if _file_may_match(fstats.get(f), key_bounds)
            ]
        parent_dv = meta.get("dv") or {"files": [], "rows": 0}
        data_cols = list(updates.columns)
        if scan_files:
            reader = spark.read
            if meta.get("evolved"):
                reader = reader.option("mergeSchema", "true")
            scan = _with_positions(
                reader.parquet(*[os.path.join(path, f) for f in scan_files])
            )
            if "schema" not in meta and set(
                c for c in scan.columns if c not in ("__dv_rel", "__dv_pos")
            ) != set(data_cols):
                raise ValueError(
                    f"snapshot_merge_upsert: updates columns "
                    f"{sorted(data_cols)} != table columns"
                )
            if parent_dv["files"]:
                scan = _anti_join_dv(scan, _dv_frame(spark, path, parent_dv))
            matched_old = scan.join(
                updates.select(*key_cols), key_cols, "left_semi"
            ).localCheckpoint()
            updated = matched_old.count()
            cur_keys = scan.select(*key_cols)
        else:
            matched_old = None
            updated = 0
            cur_keys = updates.select(*key_cols).limit(0)
        ins_rows = updates.join(cur_keys, key_cols, "left_anti")
        change = ins_rows.select(*data_cols).withColumn(
            "_change_type", F.lit("insert")
        )
        if updated:
            change = (
                matched_old.select(*data_cols)
                .withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    updates.join(cur_keys, key_cols, "left_semi")
                    .select(*data_cols)
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
                .unionByName(change)
            )
        attempt_id = uuid.uuid4().hex
        new_dv_files: list[str] = []
        if updated:
            dv_dir = os.path.join(path, "_dv", attempt_id)
            matched_old.select(
                F.col("__dv_rel").alias("_dv_file"),
                F.col("__dv_pos").cast("long").alias("_dv_pos"),
            ).write.mode("error").parquet(dv_dir)
            new_dv_files = [
                os.path.relpath(p, path) for p in _list_part_files(dv_dir)
            ]
        change_dir = os.path.join(path, "_changes", attempt_id)
        change.write.mode("error").parquet(change_dir)
        inserted = ins_rows.count()
        files = meta["files"] + new_files
        manifest = {
            "version": head + 1,
            "parent": head,
            "op": "merge",
            "commit_id": commit_id,
            "n_files": len(files),
            "files": files,
            "change": {
                "files": [
                    os.path.relpath(p, path) for p in _list_part_files(change_dir)
                ],
                "op_hint": "merge",
            },
        }
        if parent_dv["files"] or new_dv_files:
            manifest["dv"] = {
                "files": list(parent_dv["files"]) + new_dv_files,
                "rows": parent_dv["rows"] + updated,
            }
        for key in ("schema", "evolved", "stats_cols"):
            if key in meta:
                manifest[key] = meta[key]
        if meta.get("stats_cols"):
            skey = tuple(meta["stats_cols"])
            if skey not in stats_memo:
                stats_memo[skey] = _collect_file_stats(
                    path, new_files, meta["stats_cols"]
                )
            manifest["file_stats"] = {
                **meta.get("file_stats", {}),
                **stats_memo[skey],
            }
        if not log.try_publish_version(manifest, head + 1, commit_id):
            # re-derive the match on the new head (the stranded
            # _dv/_changes attempt dirs are vacuum debris)
            raise CommitConflict(f"merge at {path!r} lost slot v{head + 1}")
        return {"version": head + 1, "updated": updated, "inserted": inserted}

    return retry_on_conflict(
        path, "snapshot_merge_upsert(use_dv=True)", attempt, max_retries
    )


def snapshot_restore(
    spark: SparkSession, path: str, version: int, record_changes: bool = True
) -> int:
    """RESTORE TABLE to an earlier version — as a NEW commit whose file
    list is the old version's (Delta RESTORE semantics): history is
    never rewritten, the bad commits stay inspectable, and the restore
    itself is one manifest publish (no data is copied — the old files
    are immutable and still on disk unless vacuumed past). Returns the
    new head version. Rebasing is safe here only because the caller
    explicitly chose to discard later versions' content; concurrent
    committers still CAS normally.

    ``record_changes`` (default) additionally computes and records the
    restore's row-level change set — head rows not in the restored
    version become ``delete``, restored rows not in the head become
    ``insert`` (multiset ``exceptAll`` both ways) — so change consumers
    ride through the restore instead of breaking on an opaque rewrite.
    This is the one rewrite whose change set is NOT free at write time
    (two table scans + two shuffles); pass ``record_changes=False`` to
    keep the metadata-only publish when no change consumer exists."""
    from pyspark.sql import functions as F

    _require_local(path)
    versions = _versions(path)
    if version not in versions:
        raise ValueError(f"version {version} not found at {path!r} (have {versions})")
    src = _read_manifest(path, version)
    log = _log(path)
    for _ in range(_COMMIT_RETRIES):
        head = _versions(path)[-1]
        commit_id = uuid.uuid4().hex
        manifest = {
            "version": head + 1,
            "parent": head,
            "op": "restore",
            "restored_from": version,
            "commit_id": src["commit_id"],
            "n_files": src["n_files"],
            "files": src["files"],
        }
        for key in ("schema", "evolved", "stats_cols", "file_stats", "dv"):
            if key in src:
                manifest[key] = src[key]
        if record_changes:
            if head == version:
                manifest["change"] = {"files": [], "op_hint": "restore"}
            else:
                # diff is recomputed per retry: the head it was derived
                # from may have moved; a lost CAS strands the change
                # dir invisible (vacuum reclaims, like any lost commit)
                head_df = snapshot_read(spark, path, version=head)
                target_raw = snapshot_read(spark, path, version=version)
                if set(target_raw.columns) != set(head_df.columns):
                    raise ValueError(
                        f"snapshot_restore at {path!r}: schema changed between "
                        f"v{version} and the head — a row-level change set "
                        "cannot be computed; pass record_changes=False."
                    )
                target_df = target_raw.select(*head_df.columns)
                change = (
                    head_df.exceptAll(target_df)
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(
                        target_df.exceptAll(head_df).withColumn(
                            "_change_type", F.lit("insert")
                        )
                    )
                )
                change_dir = os.path.join(path, "_changes", commit_id)
                change.write.mode("error").parquet(change_dir)
                manifest["change"] = {
                    "files": [
                        os.path.relpath(p, path)
                        for p in _list_part_files(change_dir)
                    ],
                    "op_hint": "restore",
                }
        if log.try_publish_version(manifest, head + 1, commit_id):
            return head + 1
    raise RuntimeError(
        f"snapshot_restore lost the version race {_COMMIT_RETRIES} times at {path!r}."
    )


def snapshot_vacuum(
    path: str,
    keep_versions: int = 1,
    retain_seconds: float = 3600.0,
    min_version_age_seconds: float = 600.0,
) -> list[str]:
    """Physically delete data no retained version references: keeps the
    newest ``keep_versions`` manifests, removes older manifests and any
    ``data/<commit>/`` or ``_changes/<commit>/`` directory none of the
    keepers cite (stranded crash debris included). Returns removed
    paths. Callers give up time travel past the retention horizon —
    same contract as Delta VACUUM — and idempotent-sink users must keep
    retention LONGER than their source's replay horizon: the ``txn``
    dedup records live in the manifests, so vacuuming past them would
    let an ancient replayed epoch re-append.

    ``retain_seconds`` is the concurrent-writer guard (Delta VACUUM's
    file-age threshold): an unreferenced ``data/<commit>/`` directory
    younger than it is left alone, because an IN-FLIGHT
    ``snapshot_commit`` writes its data directory BEFORE publishing the
    manifest that references it — deleting the young directory would
    corrupt the about-to-publish version. Set 0 only when no writer can
    be active (tests, offline maintenance).

    ``min_version_age_seconds`` is the PINNED-READER guard (Delta's
    retention check): a manifest younger than it is retained — with its
    data — even when ``keep_versions`` would drop it, because a query
    planned against that version may still be scanning its files, and a
    ``snapshot_cdf`` stream may still hold it as its offset. Set 0 only
    when no reader can be pinned past the horizon."""
    _require_local(path)
    import shutil
    import time

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    versions = _versions(path)
    keep = set(versions[-keep_versions:])
    log = _log(path)
    now = time.time()
    if min_version_age_seconds > 0:
        for v in versions:
            if v not in keep and (
                now - os.path.getmtime(log.version_path(v))
                < min_version_age_seconds
            ):
                keep.add(v)  # possibly pinned by a live reader/stream
    live_commits = set()
    live_changes = set()
    live_dv = set()
    for v in keep:
        m = _read_manifest(path, v)
        live_commits.add(m["commit_id"])
        for f in m["files"]:
            # files may come from ancestor commits still referenced
            live_commits.add(f.split(os.sep)[1])
        for f in m.get("change", {}).get("files", []):
            live_changes.add(f.split(os.sep)[1])
        for f in m.get("dv", {}).get("files", []):
            # DV files accumulate across versions (each manifest carries
            # its full effective DV), so ancestors' dirs stay live too
            live_dv.add(f.split(os.sep)[1])
    removed = []
    for v in versions:
        if v not in keep:
            removed.append(log.remove(v))
    for root, live in (
        (os.path.join(path, "data"), live_commits),
        (os.path.join(path, "_changes"), live_changes),
        (os.path.join(path, "_dv"), live_dv),
    ):
        if not os.path.isdir(root):
            continue
        for entry in sorted(os.listdir(root)):
            if entry not in live:
                full = os.path.join(root, entry)
                if now - os.path.getmtime(full) < retain_seconds:
                    continue  # possibly an in-flight commit's data
                shutil.rmtree(full)
                removed.append(full)
    return removed


def snapshot_delete_where(
    spark: SparkSession,
    path: str,
    condition,
    max_retries: int = 5,
    use_dv: bool = False,
    prune_where: list[tuple] | None = None,
) -> dict:
    """``DELETE FROM table WHERE condition`` with snapshot-table
    semantics: read the head version, keep the survivors, commit them
    as an overwrite PINNED to that head (:func:`retry_on_conflict`),
    so a concurrent append's rows can never be silently lost (the
    write-skew hazard every naive read-then-overwrite has). SQL DELETE semantics for
    NULLs: a row whose condition evaluates NULL is KEPT (only
    condition=TRUE deletes), spelled explicitly because a bare
    ``filter(~cond)`` would drop NULL-condition rows too.

    ``use_dv=True`` switches from copy-on-write to a DELETION VECTOR
    commit: instead of rewriting every surviving row, the matched
    rows' physical positions (``_metadata.row_index`` per file) are
    written as ``_dv/<commit>/`` parquet and the new manifest keeps
    the PARENT'S file list + the merged DV — IO is O(deleted rows),
    not O(table), which at 100 TB is the difference between a
    metadata-sized commit and rewriting the lake to drop 0.1% of it.
    Readers pay one (usually broadcast) anti-join until
    ``snapshot_compact`` materializes the DV away. The change feed is
    identical in both modes: the deleted rows are recorded at commit
    time, so CDF consumers cannot tell the strategies apart.

    ``prune_where`` (``use_dv`` only): optional conjuncts in
    ``snapshot_read(where=...)`` form that the DELETE's scan uses to
    skip files via manifest stats. CONTRACT: every row matching
    ``condition`` must also satisfy the conjuncts (they are implied by
    it) — a conjunct that excludes matching rows silently under-
    deletes, same as Delta's file-pruned DELETE.

    Old files stay readable for time travel until ``snapshot_vacuum``
    (and the ``txn`` dedup history is untouched — deletes don't replay
    epochs). Returns ``{"version", "deleted_rows"}``."""
    from pyspark.sql import functions as F

    _require_local(path)
    if use_dv:
        return _delete_where_dv(spark, path, condition, max_retries, prune_where)
    if prune_where is not None:
        raise ValueError("prune_where applies to use_dv=True deletes only")

    def attempt(head: int | None) -> dict:
        head = _require_head(path, head)
        df = snapshot_read(spark, path, version=head)
        kept = df.filter(~F.coalesce(condition, F.lit(False)))
        deleted = df.count() - kept.count()
        if deleted == 0:
            return {"version": head, "deleted_rows": 0}  # no-op, no commit
        # the deleted rows ARE the commit's change set — record them at
        # write time (Delta CDF) so change consumers never re-diff
        removed = df.filter(F.coalesce(condition, F.lit(False))).withColumn(
            "_change_type", F.lit("delete")
        )
        v = snapshot_commit(
            kept,
            path,
            mode="overwrite",
            expected_parent=head,
            change_data=removed,
            op_hint="delete",
        )
        return {"version": v, "deleted_rows": deleted}

    return retry_on_conflict(path, "snapshot_delete_where", attempt, max_retries)


def _delete_where_dv(
    spark: SparkSession,
    path: str,
    condition,
    max_retries: int,
    prune_where: list[tuple] | None,
) -> dict:
    """Deletion-vector DELETE (see :func:`snapshot_delete_where`).

    Per attempt: scan the head's (optionally stats-pruned) files with
    their physical positions, drop rows the EXISTING DV already hides
    (so a re-matching predicate cannot re-record them — the change
    feed must emit each deleted row exactly once), evaluate the
    condition, and publish a manifest that keeps the parent's files
    verbatim with the merged DV + the deleted rows as change files.
    The publish is CAS-pinned to the head the scan read
    (:func:`retry_on_conflict`)."""
    from pyspark.sql import functions as F

    if prune_where:
        for _, op, _ in prune_where:
            if op not in _PRUNE_OPS:
                raise ValueError(
                    f"prune_where op must be one of {_PRUNE_OPS}, got {op!r}"
                )
    log = _log(path)

    def attempt(head: int | None) -> dict:
        head = _require_head(path, head)
        meta = _read_manifest(path, head)
        files = meta["files"]
        if prune_where:
            file_stats = meta.get("file_stats", {})
            files = [
                f for f in files if _file_may_match(file_stats.get(f), prune_where)
            ]
        if not files:
            return {"version": head, "deleted_rows": 0}
        reader = spark.read
        if meta.get("evolved"):
            reader = reader.option("mergeSchema", "true")
        scan = _with_positions(
            reader.parquet(*[os.path.join(path, f) for f in files])
        )
        parent_dv = meta.get("dv") or {"files": [], "rows": 0}
        if parent_dv["files"]:
            scan = _anti_join_dv(scan, _dv_frame(spark, path, parent_dv))
        matched = scan.filter(F.coalesce(condition, F.lit(False)))
        # one table scan total: the matched set feeds a count and two
        # writes below, and is O(deleted rows)
        matched = matched.localCheckpoint()
        deleted = matched.count()
        if deleted == 0:
            return {"version": head, "deleted_rows": 0}
        commit_id = uuid.uuid4().hex
        dv_dir = os.path.join(path, "_dv", commit_id)
        matched.select(
            F.col("__dv_rel").alias("_dv_file"),
            F.col("__dv_pos").cast("long").alias("_dv_pos"),
        ).write.mode("error").parquet(dv_dir)
        change_dir = os.path.join(path, "_changes", commit_id)
        data_cols = [c for c in matched.columns if c not in ("__dv_rel", "__dv_pos")]
        matched.select(*data_cols).withColumn(
            "_change_type", F.lit("delete")
        ).write.mode("error").parquet(change_dir)
        manifest = {
            "version": head + 1,
            "parent": head,
            "op": "delete",
            "commit_id": commit_id,
            "n_files": meta["n_files"],
            "files": meta["files"],
            "change": {
                "files": [
                    os.path.relpath(p, path) for p in _list_part_files(change_dir)
                ],
                "op_hint": "delete",
            },
            "dv": {
                "files": list(parent_dv["files"])
                + [os.path.relpath(p, path) for p in _list_part_files(dv_dir)],
                "rows": parent_dv["rows"] + deleted,
            },
        }
        for key in ("schema", "evolved", "stats_cols", "file_stats"):
            if key in meta:
                manifest[key] = meta[key]
        if not log.try_publish_version(manifest, head + 1, commit_id):
            # the new head may hold different rows: redo the whole
            # read-modify-write (the stranded dirs are vacuum debris)
            raise CommitConflict(f"delete at {path!r} lost slot v{head + 1}")
        return {"version": head + 1, "deleted_rows": deleted}

    return retry_on_conflict(
        path, "snapshot_delete_where(use_dv=True)", attempt, max_retries
    )


def _zorder_cluster(df: DataFrame, cols: list[str], target_files: int) -> DataFrame:
    """Cluster ``df`` on the Morton (Z-order) curve over ``cols`` —
    pure Column expressions, whole-stage codegen, no UDF:

    1. each column is normalized to a double (temporals via their
       epoch instant) and linearly bucketed into ``2^bits`` ranks with
       ``width_bucket`` against its global min/max (two bounded
       scalars per column, one agg job);
    2. the rank bits are interleaved — bit ``i`` of column ``j`` lands
       at position ``i*k + j`` — so rows close in EVERY dimension get
       close z-values (``bits = min(16, 62/k)`` keeps the interleaved
       value inside a signed long);
    3. ``repartitionByRange`` + ``sortWithinPartitions`` on the
       z-value tiles the curve across ``target_files`` files.

    Files then cover small hyper-rectangles of the key space, so
    min/max stats prune on ANY clustered column — a linear sort only
    ever prunes on its leading column. This is Delta OPTIMIZE ZORDER's
    design; linear-scaling buckets instead of sampled range IDs is the
    one simplification (skewed columns cluster less evenly but never
    less correctly — clustering is a layout optimization, rows are
    identical)."""
    from pyspark.sql import functions as F

    k = len(cols)
    if k < 2:
        raise ValueError(
            "zorder_by needs >= 2 columns — for one column use "
            "sort_within_by (a linear sort IS the optimal 1-D layout)."
        )
    bits = min(16, 62 // k)
    n = 1 << bits
    dtypes = dict(df.dtypes)
    norm = []
    for c in cols:
        dt = dtypes.get(c)
        if dt is None:
            raise ValueError(f"zorder_by column {c!r} not in {sorted(dtypes)}")
        if dt in ("timestamp", "timestamp_ntz", "date"):
            norm.append(F.col(c).cast("timestamp").cast("double"))
        elif dt in (
            "tinyint",
            "smallint",
            "int",
            "bigint",
            "float",
            "double",
        ) or dt.startswith("decimal"):
            norm.append(F.col(c).cast("double"))
        else:
            raise ValueError(
                f"zorder_by column {c!r} has unorderable-for-bucketing type "
                f"{dt!r} — z-order needs numeric/temporal columns."
            )
    aggs = []
    for i, e in enumerate(norm):
        aggs += [F.min(e).alias(f"mn{i}"), F.max(e).alias(f"mx{i}")]
    bounds = df.agg(*aggs).first()
    buckets = []
    for i, e in enumerate(norm):
        mn, mx = bounds[2 * i], bounds[2 * i + 1]
        if mn is None or mx is None or not (mx > mn):
            buckets.append(F.lit(0).cast("long"))  # constant/all-null column
        else:
            wb = F.width_bucket(e, F.lit(mn), F.lit(mx), F.lit(n))
            wb = F.least(F.greatest(wb, F.lit(1)), F.lit(n)) - F.lit(1)
            buckets.append(F.coalesce(wb, F.lit(0)).cast("long"))  # NULL -> rank 0
    z = F.lit(0).cast("long")
    for j, bk in enumerate(buckets):
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(bk, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return (
        df.withColumn("__zval", z)
        .repartitionByRange(target_files, "__zval")
        .sortWithinPartitions("__zval")
        .drop("__zval")
    )


def snapshot_compact(
    spark: SparkSession,
    path: str,
    target_files: int = 8,
    max_retries: int = 5,
    sort_within_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE for snapshot tables: rewrite the head version's file
    list into ``target_files`` files as one overwrite commit — rows
    identical, file count bounded (a minute-cadence streaming sink
    accretes one file per micro-batch; at 100 TB the footer reads
    dominate scan setup). A serializable read-modify-write
    (:func:`retry_on_conflict`), so compaction can never swallow a
    concurrent append. Readers are never disturbed — the old files
    remain until ``snapshot_vacuum``, and a reader planned against the
    pre-compaction version keeps serving it. ``sort_within_by``
    additionally range-partitions + sorts on those columns (OPTIMIZE's
    clustering half): a streaming sink's arrival-ordered files have
    useless min-max stats, and re-clustering restores file skipping on
    the sort columns. ``zorder_by`` instead clusters on the Morton
    curve over >= 2 numeric/temporal columns (see
    :func:`_zorder_cluster`): files tile hyper-rectangles of the key
    space, so the manifest's min/max stats prune on ANY clustered
    column — the multi-dimensional file skipping Delta's OPTIMIZE
    ZORDER exists for, where a linear sort only serves its leading
    column. An explicit clustering request always rewrites (the
    file-count fast path applies only to bare compactions).
    Compaction also MATERIALIZES any deletion vector
    (``snapshot_delete_where(use_dv=True)`` accrual): the rewrite reads
    the logical head (DV applied), so the new version's files hold
    survivors only and carry no DV — readers stop paying the anti-join.
    Returns ``{"version", "files_before", "files_after"}``."""
    _require_local(path)
    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    if sort_within_by and zorder_by:
        raise ValueError("pass sort_within_by OR zorder_by, not both")

    def attempt(head: int | None) -> dict:
        head = _require_head(path, head)
        head_meta = _read_manifest(path, head)
        files_before = head_meta["n_files"]
        if (
            files_before <= target_files
            and not head_meta.get("dv")
            and not zorder_by
            and not sort_within_by
        ):
            # nothing to do — but a DV-bearing head always compacts
            # (materialization is the point even at low file counts)
            return {
                "version": head,
                "files_before": files_before,
                "files_after": files_before,
            }
        df = snapshot_read(spark, path, version=head)
        if zorder_by:
            df = _zorder_cluster(df, zorder_by, target_files)
        elif sort_within_by:
            df = df.repartitionByRange(target_files, *sort_within_by)
            df = df.sortWithinPartitions(*sort_within_by)
        else:
            df = df.repartition(target_files)
        # op_hint="compact" records a provably-empty change set: a
        # change consumer sees this rewrite as zero row changes instead
        # of a stream-breaking opaque overwrite
        v = snapshot_commit(
            df, path, mode="overwrite", expected_parent=head, op_hint="compact"
        )
        return {
            "version": v,
            "files_before": files_before,
            "files_after": _read_manifest(path, v)["n_files"],
        }

    return retry_on_conflict(path, "snapshot_compact", attempt, max_retries)
