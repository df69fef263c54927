"""One checkpoint call and one session-scoped artifact memo.

Derived artifacts (pair tables, the shingle table, IVF/PQ indexes,
loaded table plans) are memoized on the SparkSession object through
``session.artifact``, so a stopped session's frames die with it. Every
lineage cut under ``operators/``, ``plans/``, ``functions/`` and
``streaming/`` goes through ``operators/ckpt.checkpoint``, the one
place that chooses between a local and a reliable checkpoint."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import subprocess
import sys

from tests.conftest import REPO_ROOT, SMOKE_SF_DIR

PKG = pathlib.Path(REPO_ROOT) / "pubg_data_pipeline_spark"

_RESTART_PROBE = """
import sys
sys.path.insert(0, %r)
from pubg_data_pipeline_spark.plans import all_specs
from pubg_data_pipeline_spark.session import get_spark

SF = %r
QUERIES = ("dedup_threshold_sweep", "doc_dup_clusters", "embedding_ivf_topk",
           "minhash_dedup_recall")
specs = all_specs()


def run_all():
    spark = get_spark(master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, [specs[q].fn(spark, SF).count() for q in QUERIES]


spark, first = run_all()
spark.stop()
spark, second = run_all()
assert second == first, (first, second)
print("RESTART_OK", first)
"""


def test_artifacts_do_not_outlive_their_session():
    """Queries that reuse pair, shingle and IVF artifacts run again in a
    new session of the same process, with the same row counts. A
    subprocess keeps the shared test session up."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_PROBE % (REPO_ROOT, SMOKE_SF_DIR)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    assert "RESTART_OK" in proc.stdout


def test_artifact_memo_is_per_session(spark):
    from pubg_data_pipeline_spark.session import artifact

    built = []

    def build():
        built.append(1)
        return len(built)

    key = ("test_session_artifacts", object())
    assert artifact(spark, key, build) == artifact(spark, key, build) == 1
    assert artifact(spark, None, build) == 2  # no key, no memo
    assert artifact(spark, None, build) == 3
    assert artifact(spark.newSession(), key, build) == 4  # another session starts empty


def test_checkpoints_only_in_ckpt():
    """``.localCheckpoint(`` and ``.checkpoint(`` appear under
    operators/, plans/, functions/ and streaming/ only in
    operators/ckpt.py."""
    offenders = [
        f"{path.relative_to(PKG)}:{lineno}"
        for sub in ("operators", "plans", "functions", "streaming")
        for path in sorted((PKG / sub).rglob("*.py"))
        if path != PKG / "operators" / "ckpt.py"
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.(localCheckpoint|checkpoint)\(", line)
    ]
    assert offenders == [], offenders


def test_no_module_level_dict_cache():
    """Per-session state lives on the session (session.artifact); the
    only module-level mutable dict left is ckpt's site registry."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            value = getattr(node, "value", None)
            empty_dict = (isinstance(value, ast.Dict) and not value.keys) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", None) in ("dict", "defaultdict", "OrderedDict")
            )
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and empty_dict:
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                found += [f"{path.relative_to(PKG)}:{ast.unparse(t)}" for t in targets]
    assert found == ["operators/ckpt.py:_SITE_BLOCKS"], found


def test_disk_cache_path_layout():
    """Persisted per-dataset artifacts live at
    ``<repo>/<cache dir>/<name>_<dataset tag>``; tools that clear
    ``.ivf_cache``, ``.index_cache`` and ``.snap_cache`` by name rely on
    this layout."""
    from pubg_data_pipeline_spark.plans.base import dataset_cache_tag, disk_cache_path

    tag = dataset_cache_tag(SMOKE_SF_DIR, "documents")
    assert disk_cache_path(".index_cache", "bands", SMOKE_SF_DIR, "documents") == os.path.join(
        REPO_ROOT, ".index_cache", f"bands_{tag}"
    )
