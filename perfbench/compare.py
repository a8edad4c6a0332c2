"""Repeat benchmark runs and compare two sets of them.

    # ten runs per workload, seeds 1..10, results appended to a JSONL file
    python3 perfbench/compare.py run --out a.jsonl --seeds 1-10
    # A/A or A/B: per workload x metric, median and quartiles of each set,
    # the change of B's median against A's, and a verdict against the bound
    python3 perfbench/compare.py diff a.jsonl b.jsonl
    # tracing overhead: untraced set vs traced set of the same code
    python3 perfbench/compare.py diff untraced.jsonl traced.jsonl

A set is a JSONL file; each line holds one run's detail record and its
result line. ``diff`` reads the end-to-end values from the detail records,
which carry them for traced runs too.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    """One benchmark run: {"detail": ..., "result": ...}; raises on failure."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def run_set(args) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    for seed in seed_list(args.seeds):
        for name in names:
            rec = run_once(spec, name, seed, args.trace)
            with open(args.out, "a", encoding="utf-8") as f:
                f.write(json.dumps(rec) + "\n")
            result = rec["result"]
            print(
                f"{name} seed {seed}: correct={result['correct']} "
                f"failed={result['failed']}/{result['attempted']}",
                flush=True,
            )
    return 0


def load_set(path: str) -> dict:
    """{workload: {metric: [values]}} of one set."""
    out: dict = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            detail = json.loads(line)["detail"]
            w = out.setdefault(detail["workload"], {})
            for k, v in detail["end_to_end"].items():
                w.setdefault(k, []).append(v)
    return out


def summary(xs: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, spread): spread is (q3 - q1) / median."""
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def diff_sets(args) -> int:
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    a = load_set(args.a)
    b = load_set(args.b)
    print(
        f"{'workload':<11} {'metric':<20} {'n':>5} {'A median [q1, q3]':>32} "
        f"{'B median [q1, q3]':>32} {'B/A-1':>7} {'bound':>6}  verdict"
    )
    worse = 0
    for wname in sorted(set(a) & set(b)):
        for name, m in metrics.items():
            xa, xb = a[wname].get(name), b[wname].get(name)
            if not xa or not xb:
                continue
            ma, qa1, qa3, sa = summary(xa)
            mb, qb1, qb3, sb = summary(xb)
            change = mb / ma - 1 if ma else 0.0
            # positive `loss` = B is worse in the metric's own direction
            loss = change if m["better"] == "lower" else -change
            bound = m["bound"]
            if max(sa, sb) > bound and name != "setup_s":
                verdict = "unresolved (spread over bound)"
            elif loss > bound:
                verdict = "WORSE beyond bound"
                worse += 1
            elif loss < -bound:
                verdict = "better beyond bound"
            else:
                verdict = "within bound"
            print(
                f"{wname:<11} {name:<20} {len(xa):>2}/{len(xb):<2} "
                f"{ma:>12.4g} [{qa1:.4g}, {qa3:.4g}] {sa:>5.1%} "
                f"{mb:>12.4g} [{qb1:.4g}, {qb3:.4g}] {sb:>5.1%} "
                f"{change:>+7.1%} {bound:>6.2f}  {verdict}"
            )
    return 1 if worse else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run every workload once per seed")
    r.add_argument("--out", required=True, help="JSONL file to append to")
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    d = sub.add_parser("diff", help="compare set B against set A")
    d.add_argument("a")
    d.add_argument("b")
    args = p.parse_args()
    return run_set(args) if args.cmd == "run" else diff_sets(args)


if __name__ == "__main__":
    sys.exit(main())
