"""Steadiness tool for the benchmark.

    python3 perfbench/steady.py collect DIR [--runs 10] [--seed0 1]
    python3 perfbench/steady.py compare SET_A [SET_B]

``collect`` runs ``BENCHMARK.json``'s command untraced once per workload
and seed (seeds ``seed0 .. seed0+runs-1``), one run at a time, and keeps
each run's result line in ``DIR/<workload>.<seed>.json`` (stderr beside
it, ``.err``).

``compare`` prints, per workload and end-to-end metric, the median, first
and third quartile (``statistics.quantiles(n=4)``) and the spread
(quartile distance / median) of each set. With two sets it also says
whether they agree: every spread within the metric's bound, and the two
medians apart by at most the bound (as a share of the first), in either
direction. A spread at or above a third of its bound is flagged
``unsteady``.
Exit status 1 when the sets disagree or a run was incorrect.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def collect(out: str, runs: int, seed0: int) -> None:
    spec = _spec()
    os.makedirs(out, exist_ok=True)
    for seed in range(seed0, seed0 + runs):
        for w in (w["name"] for w in spec["workloads"]):
            t0 = time.monotonic()
            base = os.path.join(out, f"{w}.{seed}")
            with open(base + ".err", "w") as err:
                proc = subprocess.run(
                    [*spec["command"], "--workload", w, "--seed", str(seed),
                     "--seconds", str(spec["run_seconds"]),
                     "--trace", "0"],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                    timeout=600)
            lines = proc.stdout.strip().splitlines()
            with open(base + ".json", "w") as f:
                f.write((lines[-1] if lines else "") + "\n")
            print(f"{w} seed {seed}: exit {proc.returncode}, "
                  f"{time.monotonic() - t0:.1f} s", flush=True)


def load_set(path: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        workload = os.path.basename(f).split(".")[0]
        with open(f) as fh:
            text = fh.read().strip()
        runs.setdefault(workload, []).append(json.loads(text) if text
                                             else {"correct": False})
    return runs


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def compare(set_a: str, set_b: str | None) -> int:
    metrics = _spec()["end_to_end"]
    sets = [load_set(set_a)] + ([load_set(set_b)] if set_b else [])
    ok = True
    for workload in sorted(sets[0]):
        print(f"== {workload}")
        for i, s in enumerate(sets):
            bad = sum(not r.get("correct") for r in s.get(workload, []))
            if bad:
                ok = False
                print(f"   set {i + 1}: {bad} incorrect run(s)")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            row, meds = [], []
            for s in sets:
                vals = [r["metrics"][name]["value"]
                        for r in s.get(workload, []) if r.get("correct")]
                if len(vals) < 2:
                    row.append("   too few runs")
                    continue
                med, q1, q3, spread = summary(vals)
                meds.append(med)
                flag = ""
                if spread > bound:
                    flag, ok = " OVER-BOUND", False
                elif spread >= bound / 3:
                    flag = " unsteady"
                row.append(f"n={len(vals)} med={med:.4g} q1={q1:.4g} "
                           f"q3={q3:.4g} spread={spread:.3f}{flag}")
            verdict = ""
            if len(meds) == 2:
                change = (meds[1] - meds[0]) / meds[0]
                agree = abs(change) <= bound
                ok &= agree
                verdict = (f"  {'agree' if agree else 'DISAGREE'} "
                           f"({change:+.3f} vs bound {bound})")
            print(f"   {name:12s} " + " | ".join(row) + verdict)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("--runs", type=int, default=10)
    c.add_argument("--seed0", type=int, default=1)
    p = sub.add_parser("compare")
    p.add_argument("set_a")
    p.add_argument("set_b", nargs="?")
    args = ap.parse_args()
    if args.cmd == "collect":
        collect(args.out, args.runs, args.seed0)
        return 0
    return compare(args.set_a, args.set_b)


if __name__ == "__main__":
    sys.exit(main())
