#!/usr/bin/env python
"""Scale-discriminating perf pin (VERDICT r13 #7): the sf0.1 headline
bench is floor-bound (8 cores ≈ 32 cores in total wall), so spread /
respell wins are invisible in its wall clock. This pin times the
optimized queries at a 10× fixture — big enough that per-query compute
dominates the local job floor — at BOTH core counts, so the committed
artifact carries the low-core/high-core ratio per query (a
parallelism-bearing query must speed up with cores; a floor-bound one
reads ~1).

The 10× fixture reuses scripts/scale_proof.py's decorrelated shards
(documents / embeddings / events / customer; built once under /tmp,
rebuild-keyed on the sf0.1 stamp) and adds a 10× lineitem (10 key-
shifted copies of sf0.1's — per-shard statistics identical, so the
aggregate work is exactly 10× sf0.1's).

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/scale_pin.py          # one core count
    python scripts/scale_pin.py --both                        # 32 then 8

Writes plans/r14/SCALE_PIN_r14.json (merging per-core-count sections).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", "r14", "SCALE_PIN_r14.json",
)
N = 3

# The round-13/14 optimized set that is measurable on the 10x tables
# (documents / embeddings / lineitem), plus two untouched floor controls
# (q08 scan+filter, q29 window) so the artifact shows what a
# non-optimized query's ratio looks like on the same box.
QUERIES = [
    "q08_filter_arith",
    "q29_win_rownumber",
    "q21_agg_groupby",
    "q143_regression_agg",
    "q63_dedup_near",
    "q71_dedup_minhash_lsh",
    "q120_dedup_blocks",
    "q140_ngram_decontaminate",
    "q149_boilerplate_grams",
    "q156_textrank",
    "q162_pca_power",
    "q165_mlm_mask",
    "q214_substring_spans",
    "q263_perplexity_bigram",
    "q268_bpe_merges",
]


def ensure_fixture() -> str:
    import shutil

    import pandas as pd

    from scale_proof import SF01, N_SHARDS, build_fixture, fixture_dir

    out = fixture_dir()
    if not os.path.exists(f"{out}/_BUILT"):
        build_fixture(out)
    keys = (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))
    # ONE span for both tables, so shard k's lineitems still join its orders
    span = 1 + max(
        int(pd.read_parquet(f"{SF01}/{tbl}.parquet", columns=[key])[key].max())
        for tbl, key in keys
    )
    for tbl, key in keys:
        path = f"{out}/{tbl}.parquet"
        if not os.path.exists(path):
            df = pd.read_parquet(f"{SF01}/{tbl}.parquet")
            parts = [df]
            for k in range(1, N_SHARDS):
                d = df.copy()
                d[key] = d[key] + span * k
                parts.append(d)
            tmp = path + ".tmp"
            pd.concat(parts, ignore_index=True).to_parquet(tmp, index=False)
            os.replace(tmp, path)
    # dimensions stay 1x (they are scale-invariant lookup tables)
    for tbl in ("region", "nation", "supplier", "part"):
        path = f"{out}/{tbl}.parquet"
        if not os.path.exists(path):
            shutil.copyfile(f"{SF01}/{tbl}.parquet", path)
    return out


def run_one_core_count() -> None:
    from eclypsium_etl_spark.registry import load_all
    from eclypsium_etl_spark.session import cpu_count, get_spark
    from time_one import time_noop

    sf_dir = ensure_fixture()
    spark = get_spark(app_name="scale-pin")
    cores = cpu_count()
    queries, _ = load_all()
    section: dict[str, dict] = {}
    for name in QUERIES:
        ts = time_noop(queries[name], spark, sf_dir, N)
        section[name] = {
            "median": round(statistics.median(ts), 3),
            "samples": [round(t, 3) for t in ts],
        }
        print(f"c{cores} {name}: " + " ".join(f"{t:.2f}" for t in ts), flush=True)
    merged = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            merged = json.load(fh)
    merged.setdefault("fixture", sf_dir)
    merged.setdefault("n", N)
    merged[f"cores_{cores}"] = section
    if "cores_32" in merged and "cores_8" in merged:
        merged["ratio_8_over_32"] = {
            q: round(
                merged["cores_8"][q]["median"] / merged["cores_32"][q]["median"], 2
            )
            for q in merged["cores_32"]
            if q in merged["cores_8"]
        }
    with open(OUT, "w") as fh:
        json.dump(merged, fh, indent=1)
    print(f"wrote {OUT}")


def main() -> int:
    if "--both" in sys.argv:
        env = dict(os.environ)
        for cpus in ("32", "8"):
            env["SPARK_GRAFT_CPUS"] = cpus
            subprocess.run(
                [sys.executable, os.path.abspath(__file__)], env=env, check=True
            )
        return 0
    run_one_core_count()
    return 0


if __name__ == "__main__":
    sys.exit(main())
