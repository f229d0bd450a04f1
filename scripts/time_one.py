#!/usr/bin/env python
"""Time named queries to the noop sink (warm session, n=N) — the
iteration loop for optimization A/B tests.

Usage: [SPARK_GRAFT_TIME_N=3] python scripts/time_one.py q63_dedup_near ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("SPARK_GRAFT_TIME_N", "3"))


def time_noop(fn, spark, sf_dir: str, n: int) -> list[float]:
    """One untimed warm run, then ``n`` timed runs of ``fn`` to the noop
    sink; returns the timed seconds."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    return ts


def main(names: list[str]) -> int:
    from eclypsium_etl_spark.registry import load_all
    from eclypsium_etl_spark.session import get_spark

    spark = get_spark(app_name="time-one")
    queries, _ = load_all()
    for name in names:
        ts = time_noop(queries[name], spark, SF_DIR, N)
        print(f"{name}: " + " ".join(f"{t:.2f}" for t in ts), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
