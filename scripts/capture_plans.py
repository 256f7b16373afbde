#!/usr/bin/env python
"""Capture .explain("formatted") for every bench-flagged query into
plans/$PLANS_ROUND/<query>_<tag>.txt (per-round optimization evidence).
PLANS_ROUND is required, so a capture never overwrites another round's plans.

Usage: PLANS_ROUND=rNN python scripts/capture_plans.py <tag> [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    plans_round = os.environ.get("PLANS_ROUND")
    if not plans_round:
        raise SystemExit("set PLANS_ROUND (e.g. PLANS_ROUND=r15)")
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])

    from findb_spark.registry import registration_order_specs
    from findb_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(REPO, "plans", plans_round)
    os.makedirs(out_dir, exist_ok=True)

    specs = [s for s in registration_order_specs().values() if s.bench]
    if only:
        specs = [s for s in specs if s.name in only]
    for spec in specs:
        try:
            df = spec.fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            text = f"ERROR building {spec.name}: {e}\n"
        path = os.path.join(out_dir, f"{spec.name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_ex = text.count("Exchange")
        print(f"{spec.name}: {len(text)} bytes, Exchange x{n_ex} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
