#!/usr/bin/env python3
"""Detector for state carried between steps of ``query_mix``.

Runs the traced ``query_mix`` under two seeds, which gives two query
orders, and reports every query whose ``exec_s`` moves by more than the
bound between them. A query that reads another query's memo (or a cache
an earlier query left pinned) runs fast only when it comes after that
query, so it shows up here as a large move; the traced runs also report
``cachescope.pinned_rdds``, the persisted RDDs left after any step.

    python3 perfbench/selfcheck.py

Prints one JSON object; exits 1 when a query moved outside the bound.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SECONDS = json.loads((HERE.parent / "BENCHMARK.json").read_text())[
    "run_seconds"]
SEEDS = (1, 2)
# flag |a - b| / min(a, b) above this: a memo hit is tens of times faster
# than the computation it replaces, while one query's exec_s moves by well
# under a factor of two between two warm runs
BOUND = 1.0
MIN_DIFF_S = 0.1    # moves below this are timer and scheduling noise


def traced_run(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "query_mix",
         "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "1"],
        check=True, capture_output=True, text=True).stdout.splitlines()
    info = json.loads(out[-2])["perfbench"]
    return {"order": info["order"], "metrics": {
        k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}}


def main() -> int:
    runs = [traced_run(s) for s in SEEDS]
    moved = {}
    for key, a in runs[0]["metrics"].items():
        if not (key.startswith("queries.") and key.endswith(".exec_s")):
            continue
        b = runs[1]["metrics"][key]
        lo = min(a, b)
        if abs(a - b) > MIN_DIFF_S and (lo <= 0 or
                                        abs(a - b) / lo > BOUND):
            q = key.split(".")[1]
            moved[q] = {"exec_s": [round(a, 3), round(b, 3)],
                        "position": [r["order"].index(q) for r in runs]}
    report = {"seeds": SEEDS, "bound": BOUND, "moved": moved,
              "pinned_rdds": [r["metrics"]["cachescope.pinned_rdds"]
                              for r in runs]}
    print(json.dumps(report))
    return 1 if moved else 0


if __name__ == "__main__":
    sys.exit(main())
