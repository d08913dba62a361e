"""CLI entry point — the spark-submit-able twin of the reference's
``entrypoints/`` modules (reference ``patient_notes/src/patient_notes/
entrypoints/pseudonymisation.py``: build session → run stage →
write/monitor). One binary surface for every registry query::

    python -m data_seedling_spark list [--tag TAG]
    python -m data_seedling_spark run <query> [--sf-dir DIR] [-n N]
    python -m data_seedling_spark explain <query> [--sf-dir DIR]
    python -m data_seedling_spark doctor <query> [--sf-dir DIR]

``run`` prints up to N rows as JSON lines (machine-consumable, like
the driver contract); ``explain`` prints the formatted physical plan —
the same artifact the plan tests assert on; ``doctor`` audits the plan
for scale anti-patterns (cartesians, row-wise Python — JSON verdict,
exit 1 on a hit). Exit code 1 on unknown query names, listing near
matches. To time a query: ``python bench.py --profile --passes 3
<query>``.
"""

from __future__ import annotations

import argparse
import difflib
import json
import os
import sys


def _build(args):
    from .session import build_session

    return build_session("data_seedling_spark.cli")


def _resolve(reg, name: str):
    if name in reg:
        return reg[name]
    near = difflib.get_close_matches(name, reg.keys(), n=5, cutoff=0.4)
    sys.stderr.write(
        f"unknown query {name!r}; near matches: {', '.join(near) or '(none)'}\n"
    )
    raise SystemExit(1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="data_seedling_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list registry queries")
    lp.add_argument("--tag", default=None, help="filter by tag substring")

    for cmd, hlp in (
        ("run", "run a query, print JSON rows"),
        ("explain", "print the formatted physical plan"),
        ("doctor", "audit the physical plan for scale anti-patterns"),
    ):
        cp = sub.add_parser(cmd, help=hlp)
        cp.add_argument("query")
        cp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if cmd == "run":
            cp.add_argument("-n", type=int, default=20, help="max rows printed")

    args = p.parse_args(argv)

    from .queries import registry

    reg = registry()

    if args.cmd == "list":
        for name, spec in reg.items():
            tags = ",".join(getattr(spec, "tags", ()) or ())
            if args.tag and args.tag not in tags:
                continue
            oracle = "oracle" if getattr(spec, "oracle", None) else "rows-only"
            print(f"{name}\t{oracle}\t{tags}")
        return 0

    from .session import query_scope

    spec = _resolve(reg, args.query)
    spark = _build(args)
    with query_scope(spark, args.query):
        return _act(args, spec.fn(spark, args.sf_dir))


def _act(args, df) -> int:
    if args.cmd == "explain":
        df.explain("formatted")
        return 0

    if args.cmd == "doctor":
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
        )
        from plan_doctor import audit_plan

        plan = df._jdf.queryExecution().executedPlan().toString()
        audit = audit_plan(plan)
        audit["query"] = args.query
        audit["anti_pattern"] = bool(
            audit["cartesian"] or audit["python_rowwise"]
        )
        print(json.dumps(audit))
        return 1 if audit["anti_pattern"] else 0

    # run
    for row in df.limit(args.n).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
