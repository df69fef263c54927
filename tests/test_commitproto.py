"""The directory-swap half of commitproto: the side-dir naming rule,
swap_dir's crash window and recover, and the guards that keep every
rename-aside swap, dynamic partition overwrite, snapshot retry loop
and streaming epoch prologue in one function each."""

from __future__ import annotations

import ast
import os
import re

import pytest

from pubg_data_pipeline_spark.sources import commitproto
from pubg_data_pipeline_spark.sources.io import warehouse_fsck

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "pubg_data_pipeline_spark")


def _dir_with(path, text: str) -> str:
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as f:
        f.write(text)
    return str(path)


def _read(path) -> str:
    with open(os.path.join(path, "data")) as f:
        return f.read()


def test_side_dir_names_are_dot_prefixed_siblings(tmp_path):
    path = str(tmp_path / "state" / "__epoch=3")
    assert commitproto.tmp_dir(path, 7) == str(tmp_path / "state" / ".__epoch=3.tmp-7")
    assert commitproto.aside_dir(path + "/") == str(tmp_path / "state" / ".__epoch=3.old")


def _failing_rename(monkeypatch, fail_on: int):
    real = os.rename
    calls = []

    def rename(src, dst):
        calls.append((src, dst))
        if len(calls) == fail_on:
            raise OSError("injected crash")
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    return calls


def test_swap_dir_crash_between_renames_recovers(tmp_path, monkeypatch):
    """A crash after ``path -> aside`` but before ``tmp -> path`` leaves
    the only copy aside; recover restores it, leaves the in-flight tmp
    alone, and a later swap of the same tmp finishes with no residue."""
    path = _dir_with(tmp_path / "table", "old")
    tmp = _dir_with(commitproto.tmp_dir(path, 1), "new")
    calls = _failing_rename(monkeypatch, fail_on=2)
    with pytest.raises(OSError, match="injected crash"):
        commitproto.swap_dir(tmp, path)
    monkeypatch.undo()
    assert calls[0] == (path, commitproto.aside_dir(path))
    assert not os.path.isdir(path)

    assert commitproto.recover(path) is True
    assert _read(path) == "old"
    assert os.path.isdir(tmp)  # recover never touches tmp dirs
    assert commitproto.recover(path) is False  # healthy path: no-op

    commitproto.swap_dir(tmp, path)
    assert _read(path) == "new"
    assert sorted(os.listdir(tmp_path)) == ["table"]
    assert warehouse_fsck(str(tmp_path)) == []


def test_swap_dir_never_drops_the_only_copy(tmp_path, monkeypatch):
    """A crashed swap's aside is the only copy of the state. A later
    swap that itself dies before installing its tmp must leave that
    copy recoverable, not delete it as stale; without a crash the
    later swap supersedes it."""
    path = str(tmp_path / "table")
    _dir_with(commitproto.aside_dir(path), "old")
    tmp = _dir_with(commitproto.tmp_dir(path, 2), "new")
    real = os.rename

    def fail_install(src, dst):
        if src == tmp:
            raise OSError("injected crash")
        real(src, dst)

    monkeypatch.setattr(os, "rename", fail_install)
    with pytest.raises(OSError, match="injected crash"):
        commitproto.swap_dir(tmp, path)
    monkeypatch.undo()
    assert commitproto.recover(path) is True
    assert _read(path) == "old"

    commitproto.swap_dir(tmp, path)
    assert _read(path) == "new"
    assert sorted(os.listdir(tmp_path)) == ["table"]


def test_recover_tolerates_losing_the_race(tmp_path, monkeypatch):
    """Another recoverer restoring ``path`` first is not an error; a
    rename that fails with ``path`` still missing is."""
    path = str(tmp_path / "table")
    aside = _dir_with(commitproto.aside_dir(path), "old")
    real = os.rename

    def concurrent_winner(src, dst):
        real(src, dst)
        raise OSError("lost the race")

    monkeypatch.setattr(os, "rename", concurrent_winner)
    assert commitproto.recover(path) is False
    assert _read(path) == "old"

    monkeypatch.setattr(os, "rename", real)
    real(path, aside)
    _failing_rename(monkeypatch, fail_on=1)
    with pytest.raises(OSError, match="injected crash"):
        commitproto.recover(path)


def test_os_rename_only_in_commitproto():
    """Every rename-aside swap goes through commitproto.swap_dir; a
    hand-written copy elsewhere in the package fails this guard."""
    hits = set()
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if name.endswith(".py"):
                full = os.path.join(root, name)
                with open(full, encoding="utf-8") as f:
                    if "os.rename(" in f.read():
                        hits.add(os.path.relpath(full, PACKAGE))
    assert hits == {os.path.join("sources", "commitproto.py")}


def _package_hits(pattern: str) -> list[str]:
    hits = []
    for root, _, files in os.walk(PACKAGE):
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(root, name)
                with open(full, encoding="utf-8") as f:
                    n = len(re.findall(pattern, f.read()))
                hits += [os.path.relpath(full, PACKAGE)] * n
    return hits


def test_partition_overwrite_only_in_io_overwrite_partitions():
    """Every epoch-partition write goes through io.overwrite_partitions."""
    assert _package_hits(r"partitionOverwriteMode") == [os.path.join("sources", "io.py")]


def test_one_commit_conflict_retry_loop():
    """Every snapshot read-modify-write retries through
    snapshots.retry_on_conflict, the only handler of CommitConflict."""
    assert _package_hits(r"except (?:snapshots\.)?CommitConflict") == [
        os.path.join("sources", "snapshots.py")
    ]


APP = os.path.join("streaming", "app.py")


def test_one_idle_check():
    """Every epoch body skips an idle trigger through app._open_epoch."""
    assert _package_hits(r"batch_df\.isEmpty\(") == [APP]


def test_one_local_path_gate_in_streaming_app():
    """Every state root in streaming/app.py is checked by app._open_roots."""
    assert [h for h in _package_hits(r"require_local_path\(") if h == APP] == [APP]


def test_recover_only_in_open_roots_and_readers():
    """Epoch bodies and compactions recover their roots through
    app._open_roots; only the two readers (remote reads are legal there,
    so they take no local-path gate) call commitproto.recover directly."""
    pattern = r"commitproto\.recover\("
    with open(os.path.join(PACKAGE, APP), encoding="utf-8") as f:
        src = f.read()
    callers = [
        node.name
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
        for _ in re.findall(pattern, ast.get_source_segment(src, node))
    ]
    assert len(callers) == _package_hits(pattern).count(APP)
    assert sorted(set(callers)) == ["_open_roots", "read_cms_estimates", "read_heavy_hitters"]
