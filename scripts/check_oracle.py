#!/usr/bin/env python
"""Local replica of the driver's correctness gate (see findb_spark.oracle).

Usage: python scripts/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

With --json, a machine-readable summary ({"sf_dir", "ok", "rows_only",
"fail", "counts"}) is written to OUT.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--json", dest="json_out", metavar="OUT.json",
                    help="write a machine-readable summary to OUT.json")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("query", nargs="*", help="restrict to these query names")
    ns = ap.parse_args()
    sf_dir = ns.sf_dir
    only = set(ns.query)

    import __spark_entry__ as entrymod
    from findb_spark.oracle import check_specs, duck_connection
    from findb_spark.session import get_spark

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name silently checking nothing would green-light a gate
        # that verified nothing
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        return 1

    spark = get_spark(app_name="check_oracle", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    # Type lint FIRST (inside check_specs): a HUGEINT-typed oracle column
    # hash-mismatches at the driver even when this replica (which fetches
    # native Python ints) would pass — lint failures are hard failures
    # regardless of value parity.
    res = check_specs(
        spark, con, sf_dir,
        {n: (fn, sqls.get(n)) for n, fn in qs.items() if not only or n in only},
    )
    if res is None:
        print("\nFAIL: oracle type-lint problem(s)")
        return 1

    if not only:
        # the driver's t1 smoke: entry(spark) must run and yield rows
        smoke = entrymod.entry(spark).collect()
        print(f"SMOKE entry: {len(smoke)} rows")
        assert len(smoke) > 0, "entry() returned no rows"

    n_failed = len(res["fail"])
    n_checked = len(res["ok"]) + len(res["rows_only"]) + n_failed
    print(f"\n{n_checked - n_failed}/{n_checked} ok; {len(res['rows_only'])} "
          f"rows-only; {n_failed} failures")
    if ns.json_out:
        summary = {
            "sf_dir": sf_dir,
            "counts": {"checked": n_checked, "ok": n_checked - n_failed,
                       "rows_only": len(res["rows_only"]), "fail": n_failed},
            **res,
        }
        with open(ns.json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {ns.json_out}")
    return 1 if n_failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
