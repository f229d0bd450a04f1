#!/usr/bin/env python
"""Emulate the grading driver end-to-end: run entry(), then every
queries() entry against its oracle_sql() on DuckDB at sf0.01 (or
$SPARK_GRAFT_SF_DIR), in harness order, from the driver's own
SparkSession config (tests/parity.driver_session).

Usage:
    python scripts/verify_driver_contract.py            # driver config
    SPARK_GRAFT_PLAIN=1 python scripts/verify_driver_contract.py
        # fully DEFAULT SparkSession (shuffle=200, host timezone) — the
        # harshest approximation of an unknown driver config; the walk
        # must stay green there too (proven 2026-08-13, round 3).
    python scripts/verify_driver_contract.py q21_agg_groupby q63_dedup_near
        # only the named queries (no entry() smoke) — the fast
        # iteration loop for a touched query
    python scripts/verify_driver_contract.py --json OUT.json q63_dedup_near
        # also write the machine-readable artifact
        # {"_sf_dir": {ok, detail}, name: {ok, detail, sec}}

Exit code 0 iff every query matches (or runs, for no-oracle entries).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("names", nargs="*", help="query ids (default: all)")
    ap.add_argument("--json", metavar="OUT", help="write {name: {ok, detail, sec}}")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from tests.parity import driver_session, walk

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"unknown query ids: {' '.join(unknown)}")

    spark = driver_session(plain=bool(os.environ.get("SPARK_GRAFT_PLAIN")))
    if not args.names:
        df = entry_mod.entry(spark)
        print("entry rows:", df.count(), flush=True)

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    t0 = time.time()
    results = walk(spark, sf, queries, oracles, args.names or None)
    print(f"walk seconds: {time.time() - t0:.1f}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=1)
        print(f"wrote {args.json}")
    n = len(results) - 1
    bad = sum(not r["ok"] for r in results.values())
    if bad:
        print(f"FAILED: {bad} of {n}")
        return 1
    print(f"ALL OK ({n} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
