"""Interleaved A/B of perfbench's end-to-end metrics between two checkouts.

    python3 plans/r16/ab.py PARENT_DIR CHANGE_DIR --workload cdc_mixed --seeds 31-40

Each pair runs ``python3 perfbench/run.py --workload W --seed S --seconds
10 --trace 0`` once from the root of each checkout, the side that runs
first alternating from pair to pair.  Prints one line per pair (the
metrics of both sides, the jobs of the op and the label fingerprints),
then per metric the parent's median and IQR, the change's median and
the pairs the change wins.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys

METRICS = {"latency_s": "lower", "setup_s": "lower", "edges_per_s": "higher",
           "ckpt_disk_mb": "lower", "final_wcc": "higher"}


def run(checkout: str, workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "10", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=600,
    ).stdout.splitlines()
    last = json.loads(out[-1])
    info = next((line for line in out if line.startswith(f"# {workload}")), "")
    jobs = re.search(r"jobs_per_op=\[(\d+)\]", info)
    labels = re.search(r"labels=(\w+)", info)
    return dict(
        correct=last["correct"],
        jobs=int(jobs.group(1)) if jobs else None,
        labels=labels.group(1) if labels else None,
        **{m: last["metrics"].get(m, {}).get("value") for m in METRICS},
    )


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args()
    lo, hi = map(int, args.seeds.split("-"))
    pairs = []
    print(f"{args.workload}: pair seed first | " + " | ".join(
        f"{m} parent change" for m in METRICS) + " | jobs parent change | labels equal")
    for i, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {side: run(getattr(args, side), args.workload, seed) for side in order}
        pairs.append(got)
        p, c = got["parent"], got["change"]
        cells = " | ".join(f"{p[m]:8.4f} {c[m]:8.4f}" if p[m] is not None and c[m] is not None
                           else f"{p[m]} {c[m]}" for m in METRICS)
        print(f"{i:3d} {seed:3d} {order[0]:6s} | {cells} | {p['jobs']} {c['jobs']} | "
              f"{p['labels'] == c['labels'] and p['correct'] and c['correct']}", flush=True)
    done = [g for g in pairs if g["parent"]["correct"] and g["change"]["correct"]]
    print(f"complete pairs: {len(done)} of {len(pairs)}")
    for m, better in METRICS.items():
        par = [g["parent"][m] for g in done]
        chg = [g["change"][m] for g in done]
        q1, med, q3 = quartiles(par)
        wins = sum((c < p) if better == "lower" else (c > p) for p, c in zip(par, chg))
        print(f"{m:14s} parent med {med:.4f} (q1 {q1:.4f} q3 {q3:.4f} IQR {q3 - q1:.4f})  "
              f"change med {statistics.median(chg):.4f}  change better in {wins}/{len(done)}")


if __name__ == "__main__":
    main()
