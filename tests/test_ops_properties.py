"""Property-style checks of the reusable operators (ops.py) against
brute-force references on randomized data (fixed seeds, multiple draws) —
the algorithmic operators whose correctness doesn't reduce to one fixture.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from eclypsium_etl_spark import ops

T0 = datetime(2024, 1, 1)


def _random_events(seed: int, n: int, n_keys: int):
    rng = random.Random(seed)
    return [
        (
            i,
            rng.randrange(n_keys),
            T0 + timedelta(minutes=rng.randrange(5000)),
            round(rng.uniform(0, 100), 2),
        )
        for i in range(n)
    ]


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_asof_join_matches_bruteforce(spark, seed):
    rows = _random_events(seed, 200, 5)
    left = spark.createDataFrame(
        [(i, k, ts) for i, k, ts, _ in rows[:100]], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(k, ts, v) for _, k, ts, v in rows[100:]],
        "k long, ts timestamp, v double",
    )
    got = {
        r.id: (r.v_asof, r.ts_asof)
        for r in ops.asof_join(left, right, "k", value_cols=["v"]).collect()
    }
    rvals = [(k, ts, v) for _, k, ts, v in rows[100:]]
    for i, k, ts in [(i, k, ts) for i, k, ts, _ in rows[:100]]:
        cands = [(rts, v) for rk, rts, v in rvals if rk == k and rts <= ts]
        expect = max(cands) if cands else None
        if expect is None:
            assert got[i] == (None, None), f"row {i}"
        else:
            assert got[i] == (expect[1], expect[0]), f"row {i}"


@pytest.mark.parametrize("seed", [3, 11])
def test_sessionize_matches_session_window(spark, seed):
    """Row-level session ids must induce exactly the sessions that Spark's
    session_window aggregation produces (same count of sessions per key,
    same per-session row counts)."""
    rows = [
        (i, k, ts) for i, (k, ts) in enumerate(
            (r[1], r[2]) for r in _random_events(seed, 300, 4)
        )
    ]
    df = spark.createDataFrame(rows, "id long, k long, ts timestamp")
    mine = (
        ops.sessionize(df, "k", "ts", gap="INTERVAL 30 MINUTES", tiebreak="id")
        .groupBy("k", "session_id")
        .count()
    )
    native = df.groupBy(F.session_window("ts", "30 minutes"), "k").count()
    mine_sizes = sorted((r.k, r["count"]) for r in mine.collect())
    native_sizes = sorted((r.k, r["count"]) for r in native.collect())
    assert mine_sizes == native_sizes


@pytest.mark.parametrize("seed", [5])
def test_salted_join_equals_plain_join(spark, seed):
    rows = _random_events(seed, 400, 3)  # 3 keys → heavy skew by design
    fact = spark.createDataFrame(
        [(i, k, v) for i, k, ts, v in rows], "id long, k long, v double"
    )
    dim = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(3)], "k long, label string"
    )
    plain = sorted(
        (r.id, r.label) for r in fact.join(dim, "k").select("id", "label").collect()
    )
    salted = sorted(
        (r.id, r.label)
        for r in ops.salted_join(fact, dim, "k", salt_from="id")
        .select("id", "label")
        .collect()
    )
    assert salted == plain


def test_topk_and_dedup_consistency(spark):
    df = spark.createDataFrame(
        [(i, i % 4, float(i % 7)) for i in range(100)], "id long, g long, v double"
    )
    top2 = ops.topk_per_group(df, ["g"], [F.desc("v"), F.asc("id")], 2)
    assert top2.groupBy("g").count().filter("count > 2").count() == 0
    first = ops.dedup_keep_first(df, ["g"], [F.asc("v"), F.asc("id")])
    assert first.count() == 4
    expected = {
        g: min(range(100), key=lambda i: (i % 7, i) if i % 4 == g else (99, 99))
        for g in range(4)
    }
    assert {r.id for r in first.collect()} == set(expected.values())


@pytest.mark.parametrize("seed", [3, 11])
def test_dedup_groups_matches_union_find(spark, seed):
    """Connected components via label propagation must equal a brute-force
    union-find on random sparse pair sets."""
    rng = random.Random(seed)
    n = 60
    pairs = sorted(
        {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(40)
        }
    )
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {v for p in pairs for v in p}
    expected = {v: find(v) for v in members}

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    # random graphs can be path-heavy (diameter ~ n); near-dup graphs are
    # cliques-ish, so give the fixpoint headroom rather than raising
    grouped = ops.dedup_groups(df, max_iter=64)
    got = {r.doc_id: r.group_id for r in grouped.collect()}
    assert got == expected
    canon = {r.doc_id for r in grouped.filter("is_canonical").collect()}
    assert canon == set(expected.values())


@pytest.mark.parametrize("seed", [5])
def test_similarity_candidates_complete(spark, seed):
    """The block-grid GEMM candidate set must contain EVERY true pair at
    or above τ (ε-guard completeness) on random unit vectors."""
    rng = random.Random(seed)
    dim, n, tau = 8, 80, 0.5

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        s = sum(x * x for x in v) ** 0.5
        return [x / s for x in v]

    vecs = [(i, unit()) for i in range(n)]
    truth = {
        (i, j)
        for i, (_, a) in enumerate(vecs)
        for j, (_, b) in enumerate(vecs)
        if i < j and sum(x * y for x, y in zip(a, b)) >= tau
    }
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cand = {
        (r.vec_a, r.vec_b)
        for r in ops.similarity_candidates(df, tau).collect()
    }
    assert truth <= cand  # complete; near-threshold extras are allowed


def test_gap_fill_zero_fills_and_ffills(spark):
    """gap_fill contract: gap days get ZERO aggregates (not NULL) and
    forward-filled value columns."""
    from datetime import datetime

    from pyspark.sql import functions as F

    rows = [
        (1, datetime(2024, 1, 1, 9), 10.0),
        (1, datetime(2024, 1, 3, 9), 30.0),  # Jan 2 is a gap day
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = ops.gap_fill(
        df, "k", "ts",
        agg_cols={"n": F.count("*"), "v_sum": F.sum("v")},
        ffill_cols=["v_sum"],
    )
    got = {r.day.day: (r.n, r.v_sum) for r in out.collect()}
    assert got[1] == (1, 10.0)
    assert got[2] == (0, 10.0)   # zero-filled count, forward-filled sum
    assert got[3] == (1, 30.0)


def test_global_running_sum_matches_single_window(spark):
    """The distributed two-phase prefix sum must be BIT-IDENTICAL to the
    one-partition global window it replaces (integer sums are exact), for
    any partition count — including partitions the range split leaves
    empty and a partition count of 1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(i, (i * 37) % 11) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, v long")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = {
        r.id: r.run
        for r in df.withColumn("run", F.sum("v").over(w)).collect()
    }
    for parts in (1, 7, 64):  # 64 > row ranges → some partitions empty-ish
        got = {
            r.id: r.run
            for r in ops.global_running_sum(
                df, ["id"], "v", "run", partitions=parts
            ).collect()
        }
        assert got == expected, f"mismatch at partitions={parts}"


def test_global_running_sum_null_values_match_single_window(spark):
    """NULL semantics of the two-phase prefix sum (null-injection walk,
    round 9): SQL's running SUM is NULL iff every value up to the row is
    NULL. The per-partition stage produced NULL for a partition-LEADING
    null run even when earlier partitions carried values — sampling-
    dependent (only bites when the range split puts a null-value row at
    a partition head), so this pin forces nulls to land everywhere by
    making every 3rd value NULL, including row 0, across many partition
    counts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        (i, None if i % 3 == 0 else (i * 37) % 11) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "id long, v long")
    w = Window.orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expected = {
        r.id: r.run
        for r in df.withColumn("run", F.sum("v").over(w)).collect()
    }
    assert expected[0] is None, "global leading-null prefix stays NULL"
    for parts in (1, 7, 64):
        got = {
            r.id: r.run
            for r in ops.global_running_sum(
                df, ["id"], "v", "run", partitions=parts
            ).collect()
        }
        assert got == expected, f"mismatch at partitions={parts}"


def test_global_running_max_nan_matches_single_window(spark):
    """NaN semantics of the two-phase prefix max (ADVICE r12): Spark's
    MAX/greatest order NaN as the GREATEST double, but Python's
    ``nan > x`` is always False — an unguarded driver-side prefix fold
    would drop a NaN partition maximum and mis-base every partition
    after it. Force NaNs to land mid-stream across several partition
    counts and pin bit-identity against the one-partition global
    window (NaN compared by isnan, not ==)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        (i, float("nan") if i in (700, 2100) else float((i * 37) % 11))
        for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    expected = {
        r.id: r.run
        for r in df.withColumn("run", F.max("v").over(w)).collect()
    }

    def _same(a, b):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b

    for parts in (1, 7, 64):
        got = {
            r.id: r.run
            for r in ops.global_running_max(
                df, ["id"], "v", "run", partitions=parts
            ).collect()
        }
        bad = [i for i in expected if not _same(got[i], expected[i])]
        assert not bad, f"mismatch at partitions={parts}: ids {bad[:5]}"
        # every row after the first NaN must carry NaN (Spark order)
        assert math.isnan(got[701]) and math.isnan(got[4999])


def test_gap_fill_non_numeric_aggregates_survive(spark):
    """ADVICE r2: a non-numeric aggregate (first over a string) must not be
    coalesced with 0 — it stays NULL on gap days and intact on present
    days — while numeric aggregates still zero-fill."""
    from datetime import datetime

    from pyspark.sql import functions as F

    rows = [
        (1, datetime(2024, 1, 1, 9), 10.0, "a"),
        (1, datetime(2024, 1, 3, 9), 30.0, "b"),  # Jan 2 is a gap day
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double, tag string")
    out = ops.gap_fill(
        df, "k", "ts",
        agg_cols={"n": F.count("*"), "first_tag": F.first("tag")},
    )
    got = {r.day.day: (r.n, r.first_tag) for r in out.collect()}
    assert got[1] == (1, "a")
    assert got[2] == (0, None)  # numeric zero-filled, string left NULL
    assert got[3] == (1, "b")


@pytest.mark.parametrize("seed", [7, 23])
def test_interval_bin_join_matches_bruteforce(spark, seed):
    """Binned range join ≡ the nested-loop join it replaces, including
    intervals much longer than the bucket (multi-bucket explode), zero-
    length intervals (match nothing: [s, s)), and unmatched points
    surviving a left join."""
    rnd = random.Random(seed)
    pts = [(i, rnd.randrange(0, 10_000)) for i in range(300)]
    ivs = []
    for j in range(120):
        s = rnd.randrange(0, 10_000)
        length = rnd.choice([0, 50, 500, 3_000])  # 0 to 6× bucket width
        ivs.append((j, s, s + length))
    p = spark.createDataFrame(pts, "pid long, t long")
    v = spark.createDataFrame(ivs, "vid long, s long, e long")
    got = sorted(
        (r.pid, r.vid)
        for r in ops.interval_bin_join(p, v, "t", "s", "e", 500, how="inner")
        .select("pid", "vid")
        .collect()
    )
    want = sorted(
        (pid, vid)
        for pid, t in pts
        for vid, s, e in ivs
        if s <= t < e
    )
    assert got == want
    # left join: every point appears at least once
    left = ops.interval_bin_join(p, v, "t", "s", "e", 500, how="left")
    assert left.select("pid").distinct().count() == len(pts)


def test_observation_metrics_fire_with_action(spark):
    """q216's side-channel: Observation metrics must reflect exactly the
    rows that flowed through the observe point, with no extra job."""
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 2.5)], "id long, value double"
    )
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
    ).groupBy().count()
    assert out.collect()[0][0] == 3
    got = obs.get
    assert got["n_rows"] == 3
    assert got["null_values"] == 1


def test_substring_spans_bruteforce(spark):
    """q214 span semantics on a crafted corpus: a 12-token run shared by
    two docs at DIFFERENT alignments must surface as one maximal span per
    doc; a lone 8-token collision (< _SPAN_MIN) must not."""
    from eclypsium_etl_spark.llm.dedup import _SPAN_MIN, _SPAN_W

    shared = [f"s{i}" for i in range(12)]          # 12-token duplicated run
    lone = [f"q{i}" for i in range(_SPAN_W)]       # exactly one gram wide
    docs = [
        (0, " ".join(shared + ["a1", "a2", "a3", "a4"] + lone)),
        (1, " ".join(["b1", "b2", "b3"] + shared + ["b4", "b5", "b6", "b7"])),
        (2, " ".join(lone + [f"c{i}" for i in range(10)])),
    ]
    import os
    import tempfile

    d = os.path.join(tempfile.mkdtemp(), "documents.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(d)

    from eclypsium_etl_spark.registry import load_all

    q, _ = load_all()
    rows = {
        (r.doc_id, r.span_start): (r.span_len, r.n_grams)
        for r in q["q214_substring_spans"](spark, os.path.dirname(d)).collect()
    }
    # the 12-token run: 12 - _SPAN_W + 1 = 5 consecutive grams per doc
    assert rows[(0, 1)] == (12, 12 - _SPAN_W + 1)
    assert rows[(1, 4)] == (12, 12 - _SPAN_W + 1)
    # the lone 8-token collision is below _SPAN_MIN everywhere
    assert all(l >= _SPAN_MIN for l, _ in rows.values())
    assert (2, 1) not in rows and len(rows) == 2


def test_compaction_collapses_file_count(spark):
    """q235: the fragmented 64-file layout must compact to a handful of
    files (fixture bytes ≪ the 128 MB target → exactly 1 data file) with
    every row preserved."""
    import os

    from eclypsium_etl_spark.io import tmp_location
    from eclypsium_etl_spark.registry import load_all

    q, _ = load_all()
    sf = "/root/testdata/sf0.01"
    out = q["q235_compact_small_files"](spark, sf)
    frag = tmp_location(f"q235_frag_{os.path.basename(sf)}")
    comp = tmp_location(f"q235_compact_{os.path.basename(sf)}")
    n_frag = sum(1 for e in os.scandir(frag) if e.name.endswith(".parquet"))
    n_comp = sum(1 for e in os.scandir(comp) if e.name.endswith(".parquet"))
    assert n_frag == 64 and n_comp == 1
    assert out.count() == 15000


@pytest.mark.parametrize("seed", [3, 11])
def test_bitmap_bucket_algebra_across_buckets(spark, seed):
    """Pin the q240 cross-bucket merge algebra (the round-4 ADVICE bug
    class): Spark bitmaps span one 32768-bit bucket, so keys above 32768
    land in bucket 2+ and a naive OR-across-buckets collides distinct
    keys onto the same bit positions and undercounts. The fixture's
    o_custkey never crosses a bucket boundary, so the oracle alone can't
    catch a regression — this synthesizes keys spread over ~6 buckets
    (including exact boundary values 32768/32769 and bit-position
    aliases k and k+32768 in the same group) and asserts the per-bucket
    count-then-sum equals exact COUNT(DISTINCT) per group."""
    rng = random.Random(seed)
    rows = [
        (rng.choice(["a", "b", "c"]), rng.randrange(1, 200_000))
        for _ in range(3000)
    ]
    # adversarial: same group, keys 32768 apart (same bit position in
    # adjacent buckets — exactly the collision a cross-bucket OR makes)
    rows += [("a", 5), ("a", 5 + 32768), ("a", 5 + 65536)]
    rows += [("b", 32768), ("b", 32769)]  # boundary straddle
    df = spark.createDataFrame(rows, "grp string, key long")
    got = {
        r["grp"]: r["n_distinct"]
        for r in df.groupBy(
            "grp", F.expr("bitmap_bucket_number(key + 1)").alias("bkt")
        )
        .agg(
            F.expr(
                "bitmap_count(bitmap_construct_agg("
                "bitmap_bit_position(key + 1)))"
            ).alias("bucket_distinct")
        )
        .groupBy("grp")
        .agg(F.sum("bucket_distinct").cast("long").alias("n_distinct"))
        .collect()
    }
    want = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp")
        .agg(F.countDistinct("key").alias("n"))
        .collect()
    }
    assert got == want


def test_mad_zero_guard_yields_null_robust_z(spark, duck_check):
    """q315's nullif(mad, 0) guard (round-4 ADVICE): a group where a
    majority shares the median value has MAD = 0, and bare division
    diverges cross-engine (Spark non-ANSI NULL vs DuckDB inf). The
    fixture never produces such a group, so pin the degenerate case
    directly: both engines must emit NULL robust_z (and NULL is_outlier)
    for every member of a constant-majority group."""
    rows = [(i, "flat", 7.0 if i < 8 else 100.0) for i in range(10)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    med = df.groupBy("event_type").agg(F.median("value").alias("med_v"))
    dev = df.join(F.broadcast(med), "event_type").select(
        "event_id", "value", "med_v",
        F.abs(F.col("value") - F.col("med_v")).alias("adev"),
    )
    mad = dev.groupBy().agg(F.median("adev").alias("mad_v"))
    rz = (F.col("value") - F.col("med_v")) / (
        1.4826 * F.nullif(F.col("mad_v"), F.lit(0.0))
    )
    out = dev.crossJoin(F.broadcast(mad)).select(
        "event_id", F.round(rz, 6).alias("robust_z"),
        (F.abs(rz) > 3.5).alias("is_outlier"),
    ).collect()
    assert all(r["robust_z"] is None and r["is_outlier"] is None for r in out)
    # DuckDB mirror of the guarded expression on the same degenerate data
    duck_rows = duck_check.execute(
        """
        WITH t AS (SELECT UNNEST(range(0, 10)) AS i),
        v AS (SELECT i, CASE WHEN i < 8 THEN 7.0 ELSE 100.0 END AS value FROM t),
        m AS (SELECT median(value) AS med_v FROM v),
        d AS (SELECT i, value, med_v, abs(value - med_v) AS adev FROM v, m),
        md AS (SELECT median(adev) AS mad_v FROM d)
        SELECT round((value - med_v) / (1.4826 * nullif(mad_v, 0)), 6) AS rz
        FROM d, md
        """
    ).fetchall()
    assert all(r[0] is None for r in duck_rows)


def test_band_key_concat_is_injective(spark):
    """The two-hash MinHash family emits BIGINT signature halves, so the
    band key md5(h_a || h_b) must concatenate with a separator: without
    one, (h1=1, h2=23) and (h1=12, h2=3) produce the same '123' and
    band-collide docs that share no min-hash. Pin it end-to-end: two
    single-shingle docs engineered to have different signatures must
    yield zero candidate pairs, while true duplicates still collide."""
    from eclypsium_etl_spark.llm.dedup import minhash_band_candidates

    rows = [
        (1, "alpha"), (2, "alpha"),       # true duplicates -> 1 pair
        (3, "bravo"), (4, "charlie"),     # distinct -> no pair
    ]
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    got = {(r.doc_a, r.doc_b) for r in minhash_band_candidates(sh).collect()}
    assert got == {(1, 2)}


@pytest.mark.parametrize("seed", [2, 13])
def test_blocked_levenshtein_match_bruteforce(spark, seed):
    """ops.blocked_levenshtein_match's SINGLE-PASS path (explicit
    block_passes=("suffix",) — since r7 the kernel default is the
    two-pass union, covered by the test below) against a python brute
    force: for every dirty name, the winner among master names sharing
    its block key (last 3 chars) within the length band, by
    (levenshtein, master_id) — and nothing for dirty names with no
    candidate under the distance cap. Random names over a tiny alphabet
    so blocks genuinely collide and distances spread across the cap."""
    rng = random.Random(seed)

    def levenshtein(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def name():
        return "".join(rng.choice("abc") for _ in range(rng.randrange(4, 9)))

    master = [(i, name()) for i in range(40)]
    dirty = [(100 + i, name()) for i in range(25)]
    md = spark.createDataFrame(master, "id long, name string")
    dd = spark.createDataFrame(dirty, "id long, name string")
    got = {
        r.dirty_id: (r.master_id, r.dist)
        for r in ops.blocked_levenshtein_match(
            dd, md, max_len_diff=2, max_dist=2, block_chars=3,
            block_passes=("suffix",),
        ).collect()
    }
    want = {}
    for did, dn in dirty:
        best = None
        for mid, mn in master:
            if dn[-3:] != mn[-3:] or abs(len(dn) - len(mn)) > 2:
                continue  # outside the blocking scheme by contract
            d = levenshtein(dn, mn)
            if d <= 2 and (best is None or (d, mid) < best):
                best = (d, mid)
        if best is not None:
            want[did] = (best[1], best[0])
    assert got == want


def _taildel_keys(s: str, k: int = 3) -> set[str]:
    """Python mirror of the kernel's taildel key set: the last-k window
    of s plus the last-k window of each variant deleting one of the
    last k characters (1-based starts clamped to >= 1, like the SQL)."""

    def sub(start1: int, ln: int) -> str:
        st = max(start1, 1)
        return s[st - 1 : st - 1 + ln]

    length = len(s)
    keys = {sub(length - (k - 1), k)}
    for j in range(k):
        keys.add(sub(length - k, k - j) + (sub(length - (j - 1), j) if j else ""))
    return keys


@pytest.mark.parametrize("seed", [5, 29])
def test_blocked_levenshtein_two_pass_union(spark, seed):
    """The kernel DEFAULT block_passes=("suffix","taildel") (r7, VERDICT
    r6 #8): brute force over the union of the blocking predicates —
    suffix (last 3) plus a non-empty intersection of the two sides'
    deletion-neighborhood tail key sets — and the completeness class
    the union buys (ops.py contract): ANY single edit (substitution,
    deletion, insertion) leaves at least one pass's keys equal on
    names longer than 3*block_chars, so every distance-1 dirty row
    MUST resolve. suffix-only provably misses edits landing in the
    last 3 chars (recall lift measured, not argued — q287's
    meta-evaluation discipline on ER)."""
    rng = random.Random(seed)

    def levenshtein(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    # masters long enough for the completeness guarantee (> 3*block_chars)
    def name():
        return "".join(rng.choice("abcd") for _ in range(rng.randrange(10, 15)))

    master = [(i, name()) for i in range(30)]
    # dirty: one single-character edit per master, cycling through all
    # three edit types; half the edit positions forced into the last 3
    # chars — the suffix pass's blind spot
    dirty = []
    for i, (mid, mn) in enumerate(master):
        pos = (
            rng.randrange(len(mn) - 3, len(mn) + 1)
            if i % 2
            else rng.randrange(0, len(mn) - 3)
        )
        kind = i % 3
        if kind == 0:  # deletion (pos capped to a real index)
            p = min(pos, len(mn) - 1)
            dn = mn[:p] + mn[p + 1:]
        elif kind == 1:  # substitution with a guaranteed-different char
            p = min(pos, len(mn) - 1)
            dn = mn[:p] + chr(ord("e") + (i % 4)) + mn[p + 1:]
        else:  # insertion (pos == len(mn) appends)
            dn = mn[:pos] + chr(ord("e") + (i % 4)) + mn[pos:]
        dirty.append((100 + mid, dn))
    md = spark.createDataFrame(master, "id long, name string")
    dd = spark.createDataFrame(dirty, "id long, name string")

    # the two-pass union IS the kernel default since r7
    two = {
        r.dirty_id: (r.master_id, r.dist)
        for r in ops.blocked_levenshtein_match(
            dd, md, max_len_diff=2, max_dist=2, block_chars=3,
        ).collect()
    }
    one = {
        r.dirty_id
        for r in ops.blocked_levenshtein_match(
            dd, md, max_len_diff=2, max_dist=2, block_chars=3,
            block_passes=("suffix",),
        ).collect()
    }

    # brute force over the union of both schemes
    want = {}
    for did, dn in dirty:
        best = None
        for mid, mn in master:
            in_block = dn[-3:] == mn[-3:] or bool(
                _taildel_keys(dn) & _taildel_keys(mn)
            )
            if not in_block or abs(len(dn) - len(mn)) > 2:
                continue
            d = levenshtein(dn, mn)
            if d <= 2 and (best is None or (d, mid) < best):
                best = (d, mid)
        if best is not None:
            want[did] = (best[1], best[0])
    assert two == want

    # completeness: every single-edit dirty row resolves under the union
    assert set(two) == {did for did, _ in dirty}
    # recall lift is real: suffix-only misses some last-3-char edits
    assert one < set(two), "two-pass union should strictly widen recall"
