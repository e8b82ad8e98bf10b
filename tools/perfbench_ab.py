"""Alternated parent/change pairs of the repository benchmark.

    python3 tools/perfbench_ab.py --parent CHECKOUT --workload W --seeds 101-110 \\
        [--claim METRIC]

Runs the ``BENCHMARK.json`` command (untraced, at its ``run_seconds``) once
per seed from the parent checkout and once from this one, each run in its
own checkout directory, flipping which side runs first on every seed. It
prints every run's end-to-end metrics as it finishes, then per metric each
side's median and quartiles and the median change against the metric's
``bound``. For the claimed metric, if one is named, it prints instead the
win count and whether the claim rule holds: the change wins at least nine
tenths of the pairs (ties count for neither side) and the medians differ,
in the metric's better direction, by more than the distance between the
parent's quartiles. The exit code is 1 when a rule fails.

Reads ``BENCHMARK.json`` from this checkout; changes nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``101-110``, ``101,105,111`` or a mix such as ``101-105,111``."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(bench: dict, checkout: str, workload: str, seed: int) -> dict | None:
    """One benchmark run from ``checkout``: its result JSON, or None when the
    run printed none (its standard error is then shown)."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"  run printed no result (exit {proc.returncode}):\n{proc.stderr[-2000:]}",
              file=sys.stderr)
        return None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 101-105,111")
    ap.add_argument("--claim", help="end-to-end metric the change claims a gain on")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    if args.claim is not None and args.claim not in metrics:
        ap.error(f"--claim must be one of {sorted(metrics)}")
    sides = {"parent": os.path.abspath(args.parent), "change": ROOT}

    results: dict[str, dict[int, dict | None]] = {"parent": {}, "change": {}}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(bench, sides[side], args.workload, seed)
            results[side][seed] = r
            if r is None:
                print(f"{args.workload} seed {seed} {side}: no result", flush=True)
                continue
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{args.workload} seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)

    seeds = [s for s in results["parent"] if results["parent"][s] and results["change"].get(s)]
    print(f"\n{args.workload}: {len(seeds)} complete pairs of "
          f"{len(results['parent'])} seeds")
    for side in ("parent", "change"):
        rs = [r for r in results[side].values() if r]
        print(f"  {side}: {sum(r['correct'] for r in rs)}/{len(rs)} runs correct, "
              f"{sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)} ops failed")
    if not seeds:
        return 1

    ok = True
    for name, m in metrics.items():
        sign = 1 if m["better"] == "lower" else -1
        par = [results["parent"][s]["metrics"][name]["value"] for s in seeds]
        chg = [results["change"][s]["metrics"][name]["value"] for s in seeds]
        pq, cq = quartiles(par), quartiles(chg)
        worse = sign * (cq[1] - pq[1]) / pq[1]  # > 0: the change's median is worse
        line = (f"  {name}: parent median {pq[1]:.4g} (quartiles {pq[0]:.4g}-{pq[2]:.4g}), "
                f"change {cq[1]:.4g} ({cq[0]:.4g}-{cq[2]:.4g}), "
                f"median change {100 * (cq[1] - pq[1]) / pq[1]:+.1f} %")
        if name == args.claim:
            wins = sum(sign * (c - p) < 0 for p, c in zip(par, chg))
            ties = sum(c == p for p, c in zip(par, chg))
            gap, iqr = -sign * (cq[1] - pq[1]), pq[2] - pq[0]
            holds = wins >= 0.9 * len(seeds) and gap > iqr
            ok &= holds
            line += (f"; claim: change wins {wins}/{len(seeds)} (ties {ties}), "
                     f"median gap {gap:.4g} vs parent IQR {iqr:.4g} -> "
                     f"{'HOLDS' if holds else 'NOT MET'}")
        else:
            within = worse <= m["bound"]
            ok &= within
            line += f"; bound {m['bound']}: {'within' if within else 'WORSE BEYOND BOUND'}"
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
