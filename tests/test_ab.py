"""The A/B report arithmetic of scripts/ab.py, without Spark."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "ab.py")
_spec = importlib.util.spec_from_file_location("ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_summarize_medians_wins_and_base_iqr():
    base = [2.0, 4.0, 3.0, 5.0]
    head = [1.0, 4.0, 3.5, 2.0]
    rows = ab.summarize([({"pass_s": b}, {"pass_s": h}) for b, h in zip(base, head)])
    assert len(rows) == 1
    row = rows[0]
    assert row["metric"] == "pass_s"
    assert row["pairs"] == list(zip(base, head))
    assert row["base_median"] == 3.5 and row["head_median"] == 2.75
    assert row["change_pct"] == pytest.approx(-0.75 / 3.5 * 100)
    # a tie counts for neither side
    assert row["head_lower"] == 2 and row["n"] == 4
    # exclusive quartiles of 2, 3, 4, 5: 2.25 and 4.75
    assert row["base_iqr"] == pytest.approx(2.5)


def test_summarize_keeps_only_metrics_every_run_has():
    pairs = [
        ({"a": 1.0, "b": 2.0}, {"a": 1.0}),
        ({"a": 2.0, "b": 2.0}, {"a": 1.0, "b": 1.0}),
    ]
    assert [r["metric"] for r in ab.summarize(pairs)] == ["a"]


def test_run_values_adds_op_medians():
    detail = {
        "cold_ops_s": {"q1": 9.0, "q2": 8.0},
        "ops_s": [[0.3, 1.0], [0.1, 3.0], [0.2, 2.0]],
    }
    last = {"metrics": {"pass_s": {"value": 1.5, "unit": "s"}}}
    assert ab.run_values(detail, last) == {"pass_s": 1.5, "op:q1": 0.2, "op:q2": 2.0}
    # passes whose ops do not line up with the cold pass give no op medians
    detail["ops_s"].append([0.5])
    assert ab.run_values(detail, last) == {"pass_s": 1.5}
