"""Render the SCALE.md ratio table from two `bench.py --profile` outputs.

Usage:
    python bench.py --profile > sf01.jsonl
    SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py --profile > sf1.jsonl
    python tools/mk_scale_table.py sf01.jsonl sf1.jsonl
Prints a markdown table (ratio desc) plus summary lines; a query's
time is its best ``wall_s`` over the passes.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict[str, float]:
    out = {}
    for line in open(path):
        r = json.loads(line)
        if "wall_s" in r:
            out[r["query"]] = min(out.get(r["query"], r["wall_s"]), r["wall_s"])
    return out


def main() -> int:
    a, b = load(sys.argv[1]), load(sys.argv[2])
    rows = sorted(
        ((b[q] / a[q], a[q], b[q], q) for q in a if q in b and a[q] > 0),
        reverse=True,
    )
    print("| ratio | sf0.1 s | sf1 s | query |")
    print("|---|---|---|---|")
    for r, s1, s2, q in rows:
        warn = " ⚠" if r > 10 else ""
        print(f"| {r:.1f}{warn} | {s1:.2f} | {s2:.2f} | {q} |")
    tot1, tot2 = sum(a[q] for _, _, _, q in rows), sum(b[q] for _, _, _, q in rows)
    over = [q for r, _, _, q in rows if r > 10]
    med = rows[len(rows) // 2][0]
    print(f"\nTotals: sf0.1 {tot1:.1f} s, sf1 {tot2:.1f} s "
          f"({tot2 / tot1:.1f}×); median ratio {med:.1f}×; "
          f"{len(rows) - len(over)}/{len(rows)} ≤10×; >10×: {over}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
