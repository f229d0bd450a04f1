#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is executed to a noop sink (full compute, no driver-side
row materialization) after a session warm-up, so times measure the
engine, not Py4J transfer.

Variance posture: the whole query list is run SPARK_GRAFT_BENCH_N times
(default 3) and the per-query MEDIAN is reported, plus min/max spread —
a single contended iteration on a shared box can spike any one query by
10-30× (observed: a 2s aggregate reading 69s under load), and an n=1
bench cannot distinguish that from a regression.

Load telemetry (round 6): /proc/loadavg's 1-min average is sampled
once BEFORE the bench's own Spark JVM starts (ambient_load_1m — this
drives the `contended` flag at > 2.0) and again before every
iteration (load_1m — context only, since later samples include the
bench's own local[32] activity), so a reader can tell ambient-load
inflation from a real regression without an idle-machine rerun — the
adjudication VERDICT r5 had to do by hand.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_N = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))

# Representative spread: scan+filter, snowflake join, Q1 aggregate, window,
# top-k, event-time window, exact/near dedup, MinHash LSH, kNN, all-pairs
# similarity, IVF ANN, embedding near-dup, TF-IDF, decontamination, dedup
# groups, the full streaming family (watermark, stateful dedup, stateful
# spend, stream-static enrichment, stream-stream join), pandas UDF,
# partial re-aggregation, subqueries, quality scoring.
HEADLINE = [
    "q08_filter_arith",
    "q16_join_multiway",
    "q21_agg_groupby",
    "q29_win_rownumber",
    "q37_topk_per_group",
    "q53_stream_tumbling",
    "q56_stream_watermark",
    "q57_stream_dedup_state",
    "q59_udf_scalar",
    "q62_dedup_exact",
    "q63_dedup_near",
    "q64_sim_knn",
    "q65_sim_pairs",
    "q67_text_tfidf",
    "q71_dedup_minhash_lsh",
    "q72_sim_ivf",
    "q74_text_quality",
    "q77_multimodal_decode",
    "q78_dedup_embedding",
    "q79_pivot",
    "q81_subquery",
    "q84_skew_salted_join",
    "q86_partition_pruning",
    "q87_stream_stateful",
    "q89_gapfill",
    "q90_stats_agg",
    "q92_cogroup",
    "q100_argmax",
    "q101_stream_stream_join",
    "q103_kmeans_assign",
    "q106_partial_reagg",
    "q111_dedup_groups",
    "q115_decontaminate",
    "q118_stream_static_join",
    "q120_dedup_blocks",
    "q121_embed_quantize",
    "q124_bloom_decontaminate",
    "q126_sessionize",
    "q127_running_total",
    "q128_heavy_hitters_cms",
    "q129_semdedup",
    "q130_sim_quantized_topk",
    "q133_perplexity_unigram",
    "q134_dedup_keep_best",
    "q137_stream_curation",
    "q138_doc_chunking",
    "q140_ngram_decontaminate",
    "q142_knn_graph",
    "q143_regression_agg",
    "q147_anomaly_zscore",
    "q149_boilerplate_grams",
    "q150_zipf_fit",
    "q151_interval_bin_join",
    "q154_nucleus_topp",
    "q156_textrank",
    "q159_inverted_index",
    "q161_bucketed_join",
    "q162_pca_power",
    "q165_mlm_mask",
    "q170_recursive_hierarchy",
    "q171_retention_cohorts",
    "q186_source_overlap",
    "q192_pit_join",
    "q198_decile_lift",
    "q200_corpus_build",
    "q214_substring_spans",
    "q221_python_datasource",
    # round 4 additions
    "q260_png_roundtrip",
    "q262_char_coverage",
    "q263_perplexity_bigram",
    "q267_vocab_oov",
    "q268_bpe_merges",
    "q281_stream_chained_windows",
]


# Ambient 1-min loadavg above this marks the run contended: round-5
# adjudication showed ambient load inflates the total uniformly ~1.2×
# (70.1s recorded vs 57.8s idle on identical code), and an artifact
# without load telemetry can't be told apart from a real regression
# without an idle-machine rerun (VERDICT r5 #1 / ask #2). The flag keys
# on the sample taken BEFORE this process starts its own Spark JVM:
# iteration-start samples are recorded too but include the bench's own
# local[32] activity from the previous iteration (measured: an idle box
# reads 0.4 before the run and 2-5 at later iteration starts from
# self-load alone), so they inform the reader without driving the flag.
CONTENDED_LOAD_1M = 2.0


def _load_1m() -> float | None:
    """Ambient 1-minute load average at a sample point (Linux only)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def _cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat — the hypervisor-steal
    counter. On a shared host, steal is the inflation loadavg cannot
    see: the r13 vigil measured identical code reading 59 s and 68 s
    totals on an ambient-0.1 box purely from neighbor steal (a 32-way
    CPU burn returned only 80% of wall·cores during the slow window).
    Deltas between samples give steal%% per bench iteration."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # denominator: user..steal only (first 8 fields) — the kernel
        # already folds guest/guest_nice into user/nice, so summing all
        # 10 fields double-counts guest time and understates steal on
        # hosts running nested guests (ADVICE r13)
        return steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(a: tuple[int, int] | None, b: tuple[int, int] | None) -> float | None:
    """Steal share of all jiffies between two _cpu_jiffies samples."""
    if a is None or b is None or b[1] <= a[1]:
        return None
    return round(100.0 * (b[0] - a[0]) / (b[1] - a[1]), 1)


def compact_record(
    total: float,
    n_queries: int,
    sf: float | None,
    ambient_load_1m: list[float | None],
    load_1m: list[float | None],
    contended: bool,
    detail: str = "BENCH_DETAIL.json",
    min_total: float | None = None,
    steal_pct: list[float | None] | None = None,
) -> dict:
    """The ONE machine-readable stdout line. Deliberately small: the
    driver's tail capture keeps only the last ~2,000 chars of output, and
    twice now (r3, r6) a line that embedded the full per-query medians map
    outgrew it and came back `parsed: null`. Per-query numbers live ONLY in
    BENCH_DETAIL.json; this record carries the headline total plus the load
    telemetry needed to adjudicate it. `min_total` is the per-query-MIN
    composite (sum over queries of the fastest iteration) — the
    noise-robust metric rounds 11-12's variance adjudication had to
    reconstruct by hand from the sidecar; carrying it in the driver line
    makes the gate adjudication self-contained (VERDICT r12 #1b). Size is
    pinned by tests/test_oracle_lint.py (< 1,500 chars with headroom)."""
    return {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "min_total": min_total,
        "n": BENCH_N,
        "sf": sf,
        "n_queries": n_queries,
        "ambient_load_1m": ambient_load_1m[-1] if ambient_load_1m else None,
        "ambient_load_1m_samples": ambient_load_1m,
        "load_1m": load_1m,
        "steal_pct": steal_pct,
        "contended": contended,
        "detail": detail,
    }


def _ambient_samples() -> list[float | None]:
    """Sample ambient load before our own JVM exists; if the box looks
    contended, sleep once and resample (VERDICT r6 stretch #7) — transient
    neighbors (a finishing pytest run, a page-cache flush) otherwise stamp
    `contended: true` on a run that would have been clean 2 minutes later.
    Both samples are recorded; the LAST drives the flag."""
    samples = [_load_1m()]
    retry_sleep = float(os.environ.get("SPARK_GRAFT_BENCH_RETRY_SLEEP", "120"))
    if (
        samples[0] is not None
        and samples[0] > CONTENDED_LOAD_1M
        and retry_sleep > 0
    ):
        print(
            f"bench: ambient load {samples[0]} > {CONTENDED_LOAD_1M}, "
            f"sleeping {retry_sleep:.0f}s and resampling once",
            file=sys.stderr,
        )
        time.sleep(retry_sleep)
        samples.append(_load_1m())
    return samples


def main() -> None:
    from eclypsium_etl_spark.registry import load_all
    from eclypsium_etl_spark.session import get_spark

    ambient_samples = _ambient_samples()  # before our own JVM exists
    ambient_load = ambient_samples[-1]
    spark = get_spark(app_name="eclypsium-etl-spark-bench")
    queries, _ = load_all()

    # Warm up OUTSIDE the timed region: one full untimed pass over the
    # whole headline list (VERDICT r12 #1a). This (a) warms the JVM +
    # parquet footers, and (b) builds EVERY write-once memo the headline
    # set touches (q86's partitioned layout, q90's projection cache,
    # q63/q71's shingle tables, q361's chunk index, ...) so a fresh-/tmp
    # driver run never pays one-time layout builds inside a timed query —
    # those builds amortize across a deployment's lifetime and belong in
    # no per-query number. Opt out with SPARK_GRAFT_BENCH_WARMUP=0 for
    # quick iteration loops.
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        t_w = time.perf_counter()
        for name in HEADLINE:
            fn = queries.get(name)
            if fn is None:
                continue
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        print(
            f"bench: warm-up pass over {len(HEADLINE)} queries in "
            f"{time.perf_counter() - t_w:.1f}s",
            file=sys.stderr,
        )
    else:
        queries["q08_filter_arith"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    load_1m: list[float | None] = []
    steal_pct: list[float | None] = []
    jiff = _cpu_jiffies()
    for _ in range(BENCH_N):
        load_1m.append(_load_1m())
        for name in HEADLINE:
            fn = queries.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            if os.environ.get("SPARK_GRAFT_BENCH_DEBUG"):
                print(f"  iter {len(samples[name])} {name} {dt:.2f}s", file=sys.stderr)
        jiff_next = _cpu_jiffies()
        steal_pct.append(_steal_pct(jiff, jiff_next))
        jiff = jiff_next

    times = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items() if ts
    }
    spread = {
        name: [round(min(ts), 3), round(max(ts), 3)]
        for name, ts in samples.items()
        if ts
    }
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    total = round(sum(times.values()), 3)
    # Per-query-min composite: sum of each query's fastest iteration —
    # robust to a single contended iteration spiking any one query.
    min_total = round(
        sum(min(ts) for ts in samples.values() if ts), 3
    )
    # Detail (spreads, optional duckdb reference) goes to a sidecar file:
    # round 3's single stdout line grew past the driver's tail capture and
    # BENCH_r03.json came back `parsed: null`. The machine-readable line
    # must stay small AND be the LAST stdout line (tail capture keeps the
    # end of output), so: sidecar first, then one compact line of medians.
    contended = ambient_load is not None and ambient_load > CONTENDED_LOAD_1M
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "min_total": min_total,
        "queries": times,
        "n": BENCH_N,
        "spread": spread,
        "samples": {
            name: [round(t, 3) for t in ts]
            for name, ts in samples.items()
            if ts
        },
        "ambient_load_1m": ambient_load,
        "ambient_load_1m_samples": ambient_samples,
        "load_1m": load_1m,
        "steal_pct": steal_pct,
        "contended": contended,
        "contended_threshold_1m": CONTENDED_LOAD_1M,
        "sf": sf,
    }
    # DuckDB head-to-head on the shared oracles, recorded EVERY round into
    # the sidecar (VERDICT r6 #5) so the Spark-vs-single-node claim stays
    # continuously measured. One iteration (the Spark side medians over
    # BENCH_N; DuckDB's in-process runs are far less noisy), and opt-out
    # with SPARK_GRAFT_BENCH_DUCKDB=0 for quick iteration loops.
    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0":
        # Guarded: by this point ALL the Spark timing is already done, so
        # a DuckDB import/oracle failure must not abort the run and lose
        # the sidecar + compact line (ADVICE r7) — record the error and
        # keep the artifact.
        try:
            detail["duckdb"] = _duckdb_times()
        except Exception as exc:  # noqa: BLE001 - any failure is recorded
            detail["duckdb_error"] = f"{type(exc).__name__}: {exc}"
    # Quick-iteration runs (sub-sf0.1 or single-pass) write a SEPARATE,
    # untracked sidecar: an n=1 sf0.001 smoke pass once overwrote the
    # git-tracked artifact and was committed with unrelated work — its
    # per-query profile (warmup landing on whichever queries run first)
    # is uncomparable with real round artifacts. The lint on the tracked
    # file (tests/test_oracle_lint.py) stays as the second line of
    # defense; this removes the way the mistake happens at all.
    is_real_run = sf is not None and sf >= 0.1 and BENCH_N >= 2
    name = "BENCH_DETAIL.json" if is_real_run else "BENCH_DETAIL.local.json"
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), name)
    with open(sidecar, "w") as f:
        json.dump(detail, f, indent=1)
    compact = compact_record(
        total, len(times), sf, ambient_samples, load_1m, contended,
        detail=name, min_total=min_total, steal_pct=steal_pct,
    )
    print(json.dumps(compact, separators=(",", ":")))


def _duckdb_times() -> dict[str, float]:
    """Apples-to-apples single-node reference: run each headline query's
    DuckDB oracle on the same parquet. On by default into the sidecar
    (one pass — DuckDB's in-process runs have none of the JVM/shuffle
    variance the Spark side medians over); SPARK_GRAFT_BENCH_DUCKDB=0
    disables. Queries without oracles are omitted."""
    from eclypsium_etl_spark.registry import load_all
    from tests.parity import oracle_con

    _, oracles = load_all()
    con = oracle_con(SF_DIR)
    times: dict[str, float] = {}
    for name in HEADLINE:
        sql = oracles.get(name)
        if sql is None:
            continue
        t0 = time.perf_counter()
        # aggregate-consume, not fetchall(): the Spark side is timed to
        # a noop sink, so the reference must also skip per-row Python
        # materialization or large-output queries bias the comparison
        con.execute(f"SELECT count(*) FROM ({sql}) __t").fetchone()
        times[name] = round(time.perf_counter() - t0, 3)
    return times


if __name__ == "__main__":
    sys.exit(main())
