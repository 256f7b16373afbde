"""CLI entry point — the engine's analog of the reference binary (main.rs:
load a CSV, run the as-of query, print rows).

    python -m findb_spark list                                   # registered queries
    python -m findb_spark query q1_pricing_summary [--sf-dir D]  # run a named query
    python -m findb_spark sql "SELECT ... FROM lineitem"         # ad-hoc SQL (tables pre-registered)
    python -m findb_spark asof --asset 5 --start 19960101 --end 19981231 [--asof-ts T]

Every driver table (region nation customer supplier part orders lineitem
events documents embeddings) is registered as a temp view for the sql
subcommand, so the full SQL front end is reachable from the shell.
"""

from __future__ import annotations

import argparse
import os
import sys

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main(argv: list[str] | None = None) -> int:
    # common options are accepted both BEFORE the subcommand (top-level
    # parser, real defaults) and AFTER it (subparser copies).  The
    # subparser copies default to SUPPRESS: pre-3.13 argparse re-applies a
    # subparser's defaults over values the top level already parsed, so a
    # real default here would silently clobber `--sf-dir /x query foo`.
    # SUPPRESS makes the subparser write the attribute only when the option
    # actually appears after the subcommand.
    def _common(suppress: bool) -> argparse.ArgumentParser:
        p = argparse.ArgumentParser(add_help=False)
        p.add_argument(
            "--sf-dir",
            default=argparse.SUPPRESS
            if suppress
            else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
            help="directory of driver parquet tables",
        )
        p.add_argument(
            "--limit",
            type=int,
            default=argparse.SUPPRESS if suppress else 20,
            help="rows to show",
        )
        return p

    common = _common(suppress=True)

    ap = argparse.ArgumentParser(prog="findb_spark", parents=[_common(suppress=False)])
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries", parents=[common])

    qp = sub.add_parser("query", help="run a registered query by name", parents=[common])
    qp.add_argument("name")

    sp = sub.add_parser("sql", help="run ad-hoc SQL over the driver tables", parents=[common])
    sp.add_argument("statement")

    apq = sub.add_parser("asof", help="bitemporal as-of range query", parents=[common])
    apq.add_argument("--asset", type=int, required=True)
    apq.add_argument("--start", type=int, required=True, help="yyyymmdd")
    apq.add_argument("--end", type=int, required=True, help="yyyymmdd")
    apq.add_argument("--asof-ts", type=int, default=2**31 - 1)

    cp = sub.add_parser(
        "check",
        help="verify queries against the DuckDB oracle (type lint + value parity)",
        parents=[common],
    )
    cp.add_argument("names", nargs="*", help="query names (default: all)")

    args = ap.parse_args(argv)

    from findb_spark.registry import all_specs
    from findb_spark.session import get_spark, load_table

    if args.cmd == "list":
        for name, spec in all_specs().items():
            print(f"{name:32s} [{spec.category}] {spec.description}")
        return 0

    spark = get_spark(app_name=f"findb_spark_cli_{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "check":
        from findb_spark.oracle import check_specs, duck_connection

        specs = all_specs()
        unknown = [n for n in args.names if n not in specs]
        if unknown:
            print(f"unknown query name(s): {unknown}", file=sys.stderr)
            return 2
        todo = {n: (specs[n].fn, specs[n].sql) for n in args.names or specs}
        res = check_specs(spark, duck_connection(args.sf_dir), args.sf_dir, todo)
        if res is None:
            return 1
        print(f"{len(todo) - len(res['fail'])}/{len(todo)} ok")
        return 1 if res["fail"] else 0

    if args.cmd == "query":
        specs = all_specs()
        if args.name not in specs:
            print(f"unknown query {args.name!r}; try `python -m findb_spark list`",
                  file=sys.stderr)
            return 2
        df = specs[args.name].fn(spark, args.sf_dir)
    elif args.cmd == "sql":
        for t in TABLES:
            path = os.path.join(args.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
        df = spark.sql(args.statement)
    else:  # asof — the reference binary's one query shape (main.rs)
        from findb_spark.asof import asof_range
        from findb_spark.prices import prices_from_lineitem

        df = asof_range(
            prices_from_lineitem(spark, args.sf_dir),
            args.asset, args.start, args.end, args.asof_ts,
        )

    df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
