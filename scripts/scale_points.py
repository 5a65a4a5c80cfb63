#!/usr/bin/env python3
"""Isolated 3-point scale curves.

A shared, late-session JVM can swing a row's time 1.5-3x on session state
alone, so each (query, sf) point here runs ``scripts/profile_query.py``
in its own subprocess (fresh JVM, one cold run + min of 2 warm), across
sf0.001 / sf0.01 / sf0.1.  The sf0.1 point is the row's fresh-JVM floor
at bench scale.

A linear operator shows warm-ratio ≈ 10 per decade once data dominates
fixed overhead; sub-second bases are overhead-dominated and a ratio
between 1 and ~4 at the small step with ≤ ~10 at the big step is the
linear signature.  Superlinear terms show up as ratios climbing ACROSS
decades (r2 > r1 with r2 > 10).  Each point also records its warm job
and stage counts: a job count that grows with sf is a driver loop whose
length depends on the data.

Usage::

    python scripts/scale_points.py [query ...]

Defaults to the three r8/r9 flagged queries.  MERGES results into
``SCALE_POINTS.json`` at the repo root and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FLAGGED = [
    "q1_pricing_summary",
    "doc_repetition_signals",
    "nation_trade_matrix",
]

SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
}


def point(name: str, sf_dir: str) -> dict:
    """One fresh-process profile of ``name`` at ``sf_dir``: cold and warm
    wall seconds plus the warm run's job and stage counts, or a named
    error (a crashing or hung point must not abort the sweep)."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "profile_query.py"), name],
            capture_output=True,
            text=True,
            cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
            timeout=900,
        )
    except subprocess.TimeoutExpired:
        return {"error": "timeout after 900s"}
    try:
        rec = json.loads(proc.stdout.strip().splitlines()[-1])[name]
    except (IndexError, KeyError, ValueError):
        tail = (proc.stderr.strip().splitlines() or ["no output"])[-1]
        return {"error": f"rc={proc.returncode}: {tail[:300]}"}
    warm = rec["warm"]
    return {
        "cold": rec["cold"]["wall_s"],
        "warm": warm["wall_s"],
        "jobs": warm["jobs"],
        "stages": warm["stages"],
    }


def main(names: list[str]) -> None:
    out_path = os.path.join(REPO, "SCALE_POINTS.json")
    try:
        with open(out_path) as fh:
            merged = json.load(fh)
    except Exception:
        merged = {}
    for name in names:
        curve = {sf: point(name, sf_dir) for sf, sf_dir in SF_DIRS.items()}
        if all("warm" in curve[sf] for sf in SF_DIRS):
            curve["ratio_001_to_01"] = round(
                curve["0.01"]["warm"] / curve["0.001"]["warm"], 2
            )
            curve["ratio_01_to_1"] = round(
                curve["0.1"]["warm"] / curve["0.01"]["warm"], 2
            )
        merged[name] = curve
    with open(out_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"scale_points": merged}))


if __name__ == "__main__":
    main(sys.argv[1:] or FLAGGED)
