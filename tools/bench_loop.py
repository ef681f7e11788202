"""Interleaved A/B runs of bench.py between checkouts, and their summary.

Usage: python tools/bench_loop.py <out.json> <n_rounds> <cpus> <dirA> <dirB> [dirC ...]
       python tools/bench_loop.py <runs.json>

The first form runs bench.py once per checkout per round, rotating the order
each round, and appends each run's JSON line (with side, wall_s and the epoch
start t) to the output file, rewritten through `<out>.tmp` after every run: a
kill, or a run without its JSON line, leaves the earlier runs readable.  Both
forms then print the summary of every run in the file, sides in order of first
appearance: per query, for the run total and summed over queries, each side's
minimum and median in s, and the rounds in which each later side beat the first
(its k-th run against the first side's k-th run).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time


def run_once(repo: str, cpus: int, sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus))
    t, t0 = time.time(), time.perf_counter()
    out = subprocess.run([sys.executable, os.path.join(repo, "bench.py")],
                         capture_output=True, text=True, env=env, cwd=repo)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        tail = "\n".join(out.stderr.splitlines()[-20:])
        raise SystemExit(f"bench.py in {repo} exited {out.returncode} without its "
                         f"JSON line; last stderr lines:\n{tail}")
    rec = json.loads(lines[-1])
    rec["side"] = repo
    rec["wall_s"] = round(time.perf_counter() - t0, 1)
    rec["t"] = round(t, 1)
    return rec


def summarize(runs: list[dict]) -> str:
    """The summary table of the module docstring, one side per column group."""
    sides: dict[str, list[dict]] = {}
    for r in runs:
        sides.setdefault(r["side"], []).append(r)
    names = [os.path.basename(s.rstrip("/")) for s in sides]
    lines = [f"{'':28s}{names[0]:>16s}" + "".join(f"{n:>23s}" for n in names[1:]),
             f"{'query':28s}{'min':>8s}{'med':>8s}" + f"{'min':>8s}{'med':>8s}{'won':>7s}" * (len(names) - 1)]
    sums = [[0.0, 0.0] for _ in names]
    for q in [*runs[0]["queries"], "total"]:
        times = [[r["value"] if q == "total" else r["queries"][q] for r in rs] for rs in sides.values()]
        line = f"{q:28s}"
        for i, t in enumerate(times):
            lo, med = min(t), statistics.median(t)
            if q != "total":
                sums[i][0] += lo
                sums[i][1] += med
            line += f"{lo:8.3f}{med:8.3f}"
            if i:
                won = f"{sum(b < a for a, b in zip(times[0], t))}/{min(len(t), len(times[0]))}"
                line += f"{won:>7s}"
        lines.append(line)
    lines.append(f"{'sum over queries':28s}" + "".join(
        f"{lo:8.3f}{med:8.3f}" + " " * 7 * (i > 0) for i, (lo, med) in enumerate(sums)).rstrip())
    lines.append("runs: " + ", ".join(f"{s} ({len(rs)})" for s, rs in sides.items()))
    return "\n".join(lines)


def main() -> None:
    if len(sys.argv) != 2 and len(sys.argv) < 6:
        raise SystemExit(__doc__)
    out_path = sys.argv[1]
    if len(sys.argv) > 2:
        n, cpus, dirs = int(sys.argv[2]), int(sys.argv[3]), sys.argv[4:]
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        runs = []
        if os.path.exists(out_path):
            with open(out_path) as f:
                runs = json.load(f)
        for i in range(n):
            # Rotate the side order each round so periodic host load cannot
            # alias with one side's time slot (observed: a fixed order put the
            # same side in a recurring stall window for 3 rounds straight).
            order = dirs[i % len(dirs):] + dirs[: i % len(dirs)]
            for d in order:
                rec = run_once(d, cpus, sf_dir)
                runs.append(rec)
                with open(out_path + ".tmp", "w") as f:
                    json.dump(runs, f, indent=1)
                os.replace(out_path + ".tmp", out_path)
                print(f"round {i} {d}: total={rec['value']} wall={rec['wall_s']}", flush=True)
    with open(out_path) as f:
        print(summarize(json.load(f)))


if __name__ == "__main__":
    main()
