"""Check that the benchmark's exact counters repeat for the same seed.

    python3 perfbench/selftest.py [--seed 7]

Runs each workload twice with one seed and requires identical jobs per
call for every call group, identical ``recall_at_10`` and identical
``index_bytes_per_vec``, and zero failed operations. Point-phase call
counts follow the clock, so jobs are compared per call.
"""

from __future__ import annotations

import argparse
import sys
from fractions import Fraction

from compare import load_spec, run_once

EXACT = ("recall_at_10", "index_bytes_per_vec")


def per_call(detail: dict) -> dict:
    return {k: Fraction(c["jobs"], c["n"]) for k, c in detail["calls"].items()}


def main() -> int:
    spec = load_spec()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args()
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        a, b = run_once(spec, w, args.seed), run_once(spec, w, args.seed)
        for run in (a, b):
            if run["result"]["failed"] or not run["result"]["correct"]:
                problems.append(f"{w}: {run['result']['failed']} failed operations")
        ja, jb = per_call(a["detail"]), per_call(b["detail"])
        if ja != jb:
            problems.append(f"{w}: jobs per call differ: {ja} vs {jb}")
        for m in EXACT:
            va = a["detail"]["end_to_end"][m]
            vb = b["detail"]["end_to_end"][m]
            if va != vb:
                problems.append(f"{w}: {m} differs: {va!r} vs {vb!r}")
        print(f"{w}: jobs per call " + ", ".join(f"{k}={v}" for k, v in ja.items()))
    for line in problems:
        print("selftest FAILED:", line)
    if not problems:
        print("selftest passed: counters, recall and index bytes repeat exactly")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
