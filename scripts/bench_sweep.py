#!/usr/bin/env python
"""Full-registry two-pass timing sweep at sf0.1 (the BENCH_SWEEP artifact).

Runs every registered query through a noop sink twice in one process —
pass 1 is COLD (includes one-time memo builds: trained IVF models,
codebooks, partitioned layouts), pass 2 is WARM (the steady-state
shape) — and writes BENCH_SWEEP_r{N}_{cold,warm}.json as {query:
seconds} sorted slowest-first. Warm-vs-warm across rounds is the
standing regression rule (VERDICT r9 #6); the cold pass explains the
tail (memoized one-time ETL). The session is the grading driver's
(tests/parity.driver_session) on $SPARK_GRAFT_CPUS cores (default: all).

    python scripts/bench_sweep.py 10      # writes BENCH_SWEEP_r10_*.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eclypsium_etl_spark import registry  # noqa: E402
from eclypsium_etl_spark.session import cpu_count  # noqa: E402
from tests.parity import driver_session  # noqa: E402


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "X"
    warm_only = "--warm-only" in sys.argv  # refresh pass at a tree whose
    # memos already exist (the r9 "refresh the warm sweep" pattern)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = driver_session(cores=cpu_count())
    queries = registry.ordered_queries()
    for label in (("warm",) if warm_only else ("cold", "warm")):
        times: dict[str, float] = {}
        t_pass = time.perf_counter()
        fails = []
        for name, fn in queries.items():
            t0 = time.perf_counter()
            try:
                fn(spark, sf).write.format("noop").mode("overwrite").save()
            except Exception as ex:  # record, keep sweeping
                fails.append((name, str(ex)[:120]))
            times[name] = round(time.perf_counter() - t0, 3)
        total = time.perf_counter() - t_pass
        out = dict(sorted(times.items(), key=lambda kv: -kv[1]))
        path = f"BENCH_SWEEP_r{rnd}_{label}.json"
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print(f"{label}: {total:.1f}s over {len(times)} queries, "
              f"{len(fails)} failures -> {path}")
        for name, err in fails:
            print(f"  FAIL {name}: {err}")


if __name__ == "__main__":
    main()
