#!/usr/bin/env python
"""Local replica of the driver's correctness gate (see findb_spark.oracle).

Usage: python scripts/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

With --json, a machine-readable summary ({"sf_dir", "ok", "noora", "fail",
"counts"}) is written to OUT.json.
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, "/root/repo")


def main() -> int:
    # argparse (round 13, advisor): a bare `--json` used to raise
    # IndexError on argv[1], and the flag was position-locked
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--json", dest="json_out", metavar="OUT.json",
                    help="write a machine-readable summary to OUT.json")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("query", nargs="*", help="restrict to these query names")
    ns = ap.parse_args()
    json_out = ns.json_out
    sf_dir = ns.sf_dir
    only = set(ns.query)

    import __spark_entry__ as entrymod
    from findb_spark.oracle import compare_query, duck_connection, lint_oracle_types
    from findb_spark.session import get_spark

    spark = get_spark(app_name="check_oracle", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    # Type lint FIRST: a HUGEINT-typed oracle column hash-mismatches at the
    # driver even when this replica (which fetches native Python ints) would
    # pass — lint failures are hard failures regardless of value parity.
    lint = lint_oracle_types(con, entrymod.oracle_sql())
    for p in lint:
        print(f"LINT  {p}")
    if lint:
        print(f"\nFAIL: {len(lint)} oracle type-lint problem(s)")
        return 1

    if not only:
        # the driver's t1 smoke: entry(spark) must run and yield rows
        smoke = entrymod.entry(spark).collect()
        print(f"SMOKE entry: {len(smoke)} rows")
        assert len(smoke) > 0, "entry() returned no rows"

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name silently checking nothing would green-light a gate
        # that verified nothing
        print(f"FAIL  unknown query name(s): {sorted(unknown)}")
        return 1
    n_checked = n_failed = n_noora = 0
    ok_names, noora_names, fail_detail = [], [], {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        n_checked += 1
        if name not in sqls:
            n_noora += 1
            try:
                n = fn(spark, sf_dir).count()
                noora_names.append(name)
                print(f"NOORA {name}: {n} rows (rows-only check)")
            except Exception as e:
                n_failed += 1
                fail_detail[name] = f"spark error: {str(e).splitlines()[0][:200]}"
                print(f"FAIL  {name}: {fail_detail[name]}")
            continue
        try:
            problems = compare_query(spark, con, fn, sqls[name], sf_dir, name=name)
        except Exception as e:
            problems = [f"error: {str(e).splitlines()[0][:300]}"]
        if problems:
            n_failed += 1
            fail_detail[name] = "; ".join(problems)[:400]
            print(f"FAIL  {name}: {fail_detail[name]}")
        else:
            ok_names.append(name)
            print(f"OK    {name}")

    print(f"\n{n_checked - n_failed}/{n_checked} ok; {n_noora} rows-only; {n_failed} failures")
    if json_out:
        summary = {
            "sf_dir": sf_dir,
            "counts": {"checked": n_checked, "ok": n_checked - n_failed,
                       "rows_only": n_noora, "fail": n_failed},
            "ok": ok_names,
            "rows_only": noora_names,
            "fail": fail_detail,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
