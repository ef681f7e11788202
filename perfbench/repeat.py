"""Repeat the benchmark over seeds and summarise each metric's spread, for one
checkout or for two compared with alternating runs.

    python3 perfbench/repeat.py --workload stream_replay --seeds 1-10
    python3 perfbench/repeat.py --workload driver_sf0.001 --seeds 1-10 \\
        --checkout ../parent --checkout .

Every run uses this file's run.py, with the checkout as working directory,
so both sides run identical benchmark code.  With two checkouts, each seed
runs on both, and the side that runs first alternates from seed to seed.
Prints one JSON line per run, then a summary per checkout and metric: the
median, the quartiles, the spread (IQR / median) and, for the second
checkout, how many seeds it won against the first.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import summary

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run failed in {checkout} (seed {seed}): exit {out.returncode}")
    return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--checkout", action="append",
                    help="repository checkout to run in (give two to compare); default: .")
    args = ap.parse_args()
    checkouts = [os.path.abspath(c) for c in (args.checkout or ["."])]

    values: dict[str, dict[str, list[float]]] = {c: {} for c in checkouts}
    for i, seed in enumerate(seeds(args.seeds)):
        order = checkouts if i % 2 == 0 else checkouts[::-1]
        for c in order:
            r = run_once(c, args.workload, seed, args.seconds, args.trace)
            print(json.dumps({"checkout": c, "seed": seed, **r}), flush=True)
            if not r["result"]["correct"]:
                print(f"# incorrect run: {r['detail']['errors']}", file=sys.stderr)
            for k, m in r["result"]["metrics"].items():
                values[c].setdefault(k, []).append(m["value"])

    base = values[checkouts[0]]
    for c in checkouts:
        print(f"# {c}")
        for k, xs in values[c].items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            spread = summary.spread(xs) if len(xs) > 1 and med else 0.0
            line = (f"{k:28s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}"
                    f"  spread {spread:7.2%}  n {len(xs)}")
            if c != checkouts[0]:
                wins = sum(1 for a, b in zip(base[k], xs) if b < a)
                line += f"  lower in {wins}/{len(xs)}"
            print(line)


if __name__ == "__main__":
    main()
