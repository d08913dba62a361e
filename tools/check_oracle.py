"""Self-check harness emulating the driver's DuckDB-oracle comparison.

Runs every ``queries()`` entry through Spark and (when an oracle
exists) the oracle SQL through DuckDB on the same parquet tables, then
compares row count, column-name set, and an order-insensitive value
hash (columns sorted by name, rows sorted, canonical stringification).

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_seedling_spark.session import build_session, query_scope  # noqa: E402
from data_seedling_spark.tables import TABLE_NAMES  # noqa: E402


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_digest(pdf) -> tuple[int, list[str], str, list[str]]:
    """(row_count, sorted_columns, value_hash, sample_rows)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = ["\x1f".join(canon_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(rows), cols, h, rows[:3]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare SparkSession like the driver does (catches "
        "accidental dependence on build_session's tuned conf)",
    )
    ap.add_argument(
        "--window",
        type=int,
        default=None,
        metavar="N",
        help="check only the first N registry entries (the driver "
        "verifies a 50-query window; omit for the full-registry sweep)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from data_seedling_spark.queries import registry

    reg = registry()
    names = args.names or list(reg)
    if args.window is not None and not args.names:
        names = names[: args.window]

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]").appName("check_oracle").getOrCreate()
        )
    else:
        spark = build_session("check_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    n_pass = n_fail = n_weak = 0
    for name in names:
        spec = reg[name]
        t0 = time.time()
        try:
            with query_scope(spark, name):
                sdf = spec.fn(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"weak  {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sn, sc, sh, ss = frame_digest(sdf)
        on, oc, oh, os_ = frame_digest(odf)
        ok = (sn, sc, sh) == (on, oc, oh)
        status = "PASS" if ok else "FAIL"
        print(f"{status}  {name}: rows {sn}/{on} hash {sh}/{oh} [{time.time()-t0:.1f}s]")
        if not ok:
            n_fail += 1
            if sc != oc:
                print(f"      cols spark={sc} oracle={oc}")
            for a, b in zip(ss, os_):
                if a != b:
                    print(f"      spark : {a[:200]}")
                    print(f"      oracle: {b[:200]}")
                    break
        else:
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
