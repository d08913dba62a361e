"""Dump `.explain("formatted")` for named queries to plans/<round>/.

Usage: python tools/dump_plans.py --out plans/r14 --suffix _before name...

Builds each query's DataFrame (protocol queries execute their ledger
side effects during build — unavoidable; the captured plan is the
returned frame's) and writes the formatted physical plan to
``<out>/<name><suffix>.txt``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_seedling_spark.session import build_session, query_scope  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="plans/r14")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    spark = build_session("dump-plans")
    from data_seedling_spark.queries import registry

    reg = registry()
    for name in args.names:
        with query_scope(spark, name):
            df = reg[name].fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)


if __name__ == "__main__":
    main()
