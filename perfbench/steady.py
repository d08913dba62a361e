"""Steadiness check: run one workload repeatedly and print each metric's
run-to-run spread against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload lsh_ingest --runs 5
    python3 perfbench/steady.py --workload lsh_ingest --runs 3 --trace 1 --same-seed

Each run is a fresh ``run.py`` process with its own seed (or the same
seed with ``--same-seed``). For every metric it prints the values, the
median and the spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median. An end-to-end metric is steady when its spread is below a third
of its bound. Per-layer counts (jobs, tasks and versions per op, bytes
and files per op) are marked ``exact`` when every run read the same
value; with ``--same-seed`` anything else means the program's work is
not deterministic.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1, help="seed of the first run")
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    results, walls = [], []
    for k in range(args.runs):
        seed = args.seed0 if args.same_seed else args.seed0 + k
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"run {k} (seed {seed}) exited {proc.returncode}")
            return 1
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(out)
        steal = re.search(r"host CPU steal during the timed ops: (\S+)", proc.stderr)
        print(f"run {k} seed {seed}: {walls[-1]:.1f} s wall, attempted {out['attempted']}, "
              f"failed {out['failed']}, correct {out['correct']}, "
              f"CPU steal {steal.group(1) if steal else '?'}", flush=True)

    names = list(results[0]["metrics"])
    print(f"\n{args.workload}: {args.runs} runs, mean wall {statistics.mean(walls):.1f} s")
    print(f"{'metric':<34} {'median':>12} {'spread':>8} {'bound':>6}  verdict / values")
    ok = True
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        sp = spread(vals) if len(vals) >= 2 else 0.0
        bound = bounds.get(name)
        if args.trace:
            verdict = "exact" if len(set(vals)) == 1 else "varies"
        elif name == "setup_s":
            verdict = "median checked only"
        elif sp < bound / 3:
            verdict = "steady"
        elif sp <= bound:
            verdict = "within bound, not steady"
            ok = False
        else:
            verdict = "TOO NOISY"
            ok = False
        shown = " ".join(f"{v:.4g}" for v in vals)
        print(f"{name:<34} {med:>12.5g} {sp:>8.2%} {'' if bound is None else bound:>6}  {verdict}: {shown}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
