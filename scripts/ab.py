#!/usr/bin/env python
"""Interleaved A/B of two commits on one perfbench workload.

Usage: python scripts/ab.py --base <ref> --head <ref> --workload <name> --pairs N --seconds S

Each ref is exported with ``git archive`` into its own fresh directory
under the system temp dir, so the checkout gains no worktree and no
files. ``perfbench/run.py`` then runs in each copy as N pairs on seeds
1..N, base first on odd seeds and head first on even ones. Every run
must end with ``correct: true`` and ``failed: 0``, or the tool stops.

For each end-to-end metric, and for each op's median seconds within a
run (``op:<name>``), the report gives the per-pair values, both
medians, the change in %, the pairs where head is lower, and the
interquartile range of the base runs. Each run's two JSON lines go to
stderr as they arrive.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_values(detail: dict, last: dict) -> dict[str, float]:
    """One run's end-to-end metrics plus each op's median seconds over
    the timed passes, from the run's last two stdout lines. Op medians
    are kept only when every pass ran the cold pass's ops in order."""
    vals = {k: m["value"] for k, m in last["metrics"].items()}
    names = list(detail["cold_ops_s"])
    if all(len(p) == len(names) for p in detail["ops_s"]):
        for i, name in enumerate(names):
            vals[f"op:{name}"] = statistics.median(p[i] for p in detail["ops_s"])
    return vals


def summarize(pairs: list[tuple[dict[str, float], dict[str, float]]]) -> list[dict]:
    """Per metric present in every run: the (base, head) values of each
    pair, both medians, the median change in % of base, the number of
    pairs where head is lower, and the base runs' IQR. Needs at least
    two pairs (one run has no quartiles)."""
    keys = [k for k in pairs[0][0] if all(k in b and k in h for b, h in pairs)]
    out = []
    for key in keys:
        base = [b[key] for b, _ in pairs]
        head = [h[key] for _, h in pairs]
        mb, mh = statistics.median(base), statistics.median(head)
        q1, _, q3 = statistics.quantiles(base, n=4)
        out.append({
            "metric": key,
            "pairs": list(zip(base, head)),
            "base_median": mb,
            "head_median": mh,
            "change_pct": (mh - mb) / mb * 100 if mb else float("nan"),
            "head_lower": sum(h < b for b, h in zip(base, head)),
            "n": len(pairs),
            "base_iqr": q3 - q1,
        })
    return out


def _export(ref: str, dest: str) -> None:
    tar = subprocess.run(["git", "archive", ref], cwd=ROOT, check=True, capture_output=True)
    subprocess.run(["tar", "-x", "-C", dest], input=tar.stdout, check=True)


def _run(copy: str, workload: str, seed: int, seconds: float) -> dict[str, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=copy, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{copy} seed {seed}: rc {proc.returncode}\n{proc.stderr[-2000:]}")
    print(lines[-2], lines[-1], sep="\n", file=sys.stderr, flush=True)
    detail, last = json.loads(lines[-2]), json.loads(lines[-1])
    if last["correct"] is not True or last["failed"] != 0:
        raise SystemExit(f"{copy} seed {seed}: correct={last['correct']} failed={last['failed']}")
    return run_values(detail, last)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True)
    p.add_argument("--head", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args(argv)
    if args.pairs < 2:
        p.error("--pairs must be at least 2")
    copies = {side: tempfile.mkdtemp(prefix=f"ab-{side}-") for side in ("base", "head")}
    try:
        for side, dest in copies.items():
            _export(getattr(args, side), dest)
        pairs = []
        for seed in range(1, args.pairs + 1):
            order = ("base", "head") if seed % 2 else ("head", "base")
            got = {side: _run(copies[side], args.workload, seed, args.seconds) for side in order}
            pairs.append((got["base"], got["head"]))
    finally:
        for path in copies.values():
            shutil.rmtree(path, ignore_errors=True)
    print(f"{args.workload}: base {args.base} vs head {args.head}, "
          f"{args.pairs} pairs, --seconds {args.seconds:g}")
    for row in summarize(pairs):
        print(f"{row['metric']}: " + " ".join(f"{b:.3f}/{h:.3f}" for b, h in row["pairs"]))
        print(f"  median {row['base_median']:.3f} -> {row['head_median']:.3f} "
              f"({row['change_pct']:+.1f} %), head lower {row['head_lower']}/{row['n']}, "
              f"base IQR {row['base_iqr']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
