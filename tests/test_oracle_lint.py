"""Static lint of every oracle: DuckDB must be able to PLAN it against the
registered views (catches SQL syntax/binder errors in seconds, without
touching Spark), and oracles must reference only the pre-registered view
names — never file paths."""

from __future__ import annotations

import json

import pytest

from eclypsium_etl_spark import registry

_, ORACLE = registry.load_all()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_plans_cleanly(name, duck_check):
    sql = ORACLE[name]
    assert "read_parquet" not in sql, "oracles must use the registered views"
    assert "/root/" not in sql, "oracles must not hardcode paths"
    duck_check.execute(f"EXPLAIN {sql}")  # binder+planner; raises on any error


def test_ordered_queries_is_a_permutation():
    """The harness-facing ordering must expose exactly the registry:
    nothing dropped, nothing duplicated."""
    q, _ = registry.load_all()
    ordered = registry.ordered_queries()
    assert list(sorted(ordered)) == list(sorted(q))
    order = list(ordered)
    assert order.index("q63_dedup_near") < order.index("q71_dedup_minhash_lsh")


def test_query_docstrings_have_no_unrendered_placeholders():
    """A docstring is a plain string, never an f-string: a ``{_NAME}``
    in it reaches COVERAGE.md and help() verbatim instead of the value."""
    import re

    q, _ = registry.load_all()
    offenders = {
        name: re.findall(r"\{[A-Za-z_]\w*\}", fn.__doc__ or "")
        for name, fn in sorted(q.items())
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, f"unrendered docstring placeholders: {offenders}"


def test_oracled_results_are_driver_hashable(spark):
    """Every ORACLED query must return only scalar top-level columns.

    Root cause of the one red driver row in four rounds (q275,
    CORRECTNESS_r04): the driver's canonicalizer sorts raw result cells
    and crashes on unhashable list/dict values, while the local harness
    stringifies them (tests/parity.py) — so local green did not imply
    driver green. This lint closes the gap: any array/map/struct-typed
    top-level column in an oracled result is a failure here, BEFORE the
    driver ever sees it. Queries that logically produce collections must
    serialize them (array_join / to_json, mirrored in the oracle) the
    way q159/q178/q194/q121/q275 now do. Plan construction only — no
    execution — so this covers all ~315 oracled queries in about a
    minute. No exceptions are whitelisted on purpose."""
    from pyspark.sql import types as T

    queries, oracle = registry.load_all()
    sf = "/root/testdata/sf0.001"
    offenders = []
    for name in sorted(oracle):
        df = queries[name](spark, sf)
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_cols:
            offenders.append((name, complex_cols))
        # duplicate names break any sort-columns-by-name canonicalizer
        if len(set(df.columns)) != len(df.columns):
            offenders.append((name, f"duplicate columns: {df.columns}"))
    assert not offenders, (
        "oracled queries returning non-scalar top-level columns (driver "
        f"canonicalizer would crash on these): {offenders}"
    )


def test_hashability_lint_detects_offenders(spark):
    """Meta-test of the gate itself: the lint's detection predicate must
    flag array / map / struct top-level columns and duplicate column
    names on a constructed frame — q275 was fixed before the lint
    landed, so without this the lint has never been SEEN red and a
    silently-weakened predicate would pass everything."""
    from pyspark.sql import functions as F, types as T

    df = spark.range(1).select(
        F.array(F.lit("a")).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("mp"),
        F.struct(F.lit(1).alias("x")).alias("st"),
        F.lit(1).alias("ok"),
    )
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert complex_cols == ["arr", "mp", "st"]
    dup = spark.range(1).select(F.lit(1).alias("a"), F.lit(2).alias("a"))
    assert len(set(dup.columns)) != len(dup.columns)


# ---------------------------------------------------------------------------
# Latent-divergence sweep (VERDICT r5 ask #4): static string-level checks
# over every registered oracle for two divergence classes — ambiguous
# length idioms under byte-named aliases (q291/q252/q253 siblings; see
# the char-vs-byte note on test_no_char_counting_bytes_aliases — the one
# REAL divergence in that family was q77's head_hex, a char-substring-hex
# vs byte-substring-hex), and unguarded division (the q315 class).
# ---------------------------------------------------------------------------

import re as _re


def _strip_sql_strings(sql: str) -> str:
    """Blank out single-quoted literals so tokens inside strings (e.g.
    'America/New_York') aren't mistaken for division denominators."""
    return _re.sub(r"'(?:[^']|'')*'", "''", sql)


_DIV_DENOM = _re.compile(r"(?<!/)/(?!/)\s*([A-Za-z_][\w.]*)\s*(\()?")


def _unguarded_bare_denominators(sql: str) -> set[str]:
    """Bare-identifier denominators of `/` division (not `//`, not a
    function call, not a numeric literal, not a parenthesized
    expression). These are the q315 class: a column that CAN be zero
    divides without a nullif/CASE guard visible at the division site.
    Function-call denominators (COUNT(), len(), CAST(), nullif()...) and
    literals are treated as safe at this level — the lint is a cheap
    string sweep, not a SQL analyzer; anything it flags must either gain
    a guard or an explicit whitelist entry below. Comments are stripped
    first — a prose slash ('deletion-neighborhood / FastSS') is not a
    division."""
    out = set()
    for m in _DIV_DENOM.finditer(_strip_sql_strings(_strip_sql_comments(sql))):
        if not m.group(2):
            out.add(m.group(1))
    return out


# Every entry audited 2026-08-14 (round 6). A query may divide by a bare
# identifier ONLY if listed here with the reason the denominator cannot
# be zero (or why a shared-zero is exactly mirrored on both engines).
_DIV_WHITELIST: dict[str, set[str]] = {
    # guarded upstream by CASE WHEN scale = 0.0 on BOTH sides
    # (similarity.py:299,316) — the division site only runs when nonzero
    "q121_embed_quantize": {"scale"},
    "q130_sim_quantized_topk": {"scale"},
    # denominators that are COUNT(*)/SUM-of-1 aliases over a GROUP BY
    # group — a group exists only with >= 1 row, so always >= 1
    "q131_mixture_temperature": {"n_tokens", "t.tot"},
    "q140_ngram_decontaminate": {"c.n_grams"},
    "q143_regression_agg": {"n"},
    # avgdl = SUM(dl)/COUNT(*) over per-doc token counts; string_split
    # yields >= 1 token even for '' so dl >= 1, hence avgdl >= 1
    # whenever the CROSS JOINed stats row exists at all
    "q349_hybrid_rrf": {"s.avgdl"},
    # same avgdl, same audit: q352 reuses q349's sparse CTEs verbatim
    "q352_hybrid_rrf_indexed": {"s.avgdl"},
    # chunk-granular avgdl = SUM(dl)/COUNT(*) over per-chunk token
    # counts; ctok filters chunk_text <> '' and string_split yields
    # >= 1 token, so dl >= 1 and avgdl >= 1 (q349's audit at chunk
    # granularity)
    "q360_rag_capstone": {"s.avgdl"},
    # q361 runs q360's oracle verbatim (landed-index equivalence)
    "q361_rag_capstone_indexed": {"s.avgdl"},
    # q362 runs q360's oracle verbatim (incremental == rebuild)
    "q362_stream_rag_index": {"s.avgdl"},
    # q366/q368 run q360's oracle over the revised/kept corpus — same
    # avgdl guard: stats row exists only when the corpus is non-empty
    "q366_rag_index_cdc": {"s.avgdl"},
    "q368_rag_index_purge": {"s.avgdl"},
    # n_total = COUNT(*) over the inner join of two full-corpus
    # assignments; the division sits on rows CROSS JOINed with the five
    # query vectors, which exist only when the corpus is non-empty, so
    # every evaluated division has n_total >= 1
    "q364_ivf_retrain_drift": {"m.n_total"},
    "q147_anomaly_zscore": {"n"},
    "q149_boilerplate_grams": {"p.n_grams"},
    "q178_embedding_pool": {"n"},
    "q184_token_entropy": {"tot.total"},
    "q262_char_coverage": {"tot.total"},
    # same cumulative-total audit as q262: total = SUM over cnt rows of
    # n >= 1, and the division only evaluates when cnt is non-empty
    "q357_char_coverage_ranged": {"tot.total"},
    "q303_goertzel_tones": {"n"},
    "q90_stats_agg": {"n"},
    "q74_text_quality": {"n_tok"},  # token count of nonempty fixture text
    "q154_nucleus_topp": {"total"},  # per-doc SUM of positive weights
    "q156_textrank": {"nn.n", "o.ow"},  # node/out-weight counts >= 1
    "q193_shard_rebalance": {"g.mean_toks"},  # AVG of positive n_tokens
    "q198_decile_lift": {"a.n", "t.tn"},  # decile row counts >= 1
    "q207_percent_of_total": {"t.grand"},  # grand total of positive sums
    "q232_cached_scan": {"t.total_bal"},  # SUM(acctbal) > 0 fixture-wide
    "q278_soft_dedup_weights": {"k"},  # cluster size COUNT(*) >= 1
    "q287_dedup_eval": {"n_exact", "n_lsh"},  # pair counts, CASE-guarded
    # m = COUNT(*) of the top-50 rank rows (>= 2 by fixture); slope
    # denominator (sxx - sx*sx/m) nonzero for >= 2 distinct log-ranks
    "q150_zipf_fit": {"m"},
    "q158_weighted_reservoir": {"n_chars"},  # fixture text nonempty
    "q162_pca_power": {"n.nrm"},  # L2 norm of a power-iteration vector
    "q183_ab_lift": {"n_a", "n_b"},  # arm counts, both arms populated
    # n_wedges: the Spark side CASE-guards zero; oracle mirrors it
    "q239_triangle_count": {"n_wedges"},
    # try_divide semantics ARE the exhibited subject (x/0 -> NULL both
    # engines via TRY/try_divide)
    "q211_try_expressions": {"value"},
    # population sigma of 64 random-float dims; both sides divide by the
    # identical decimal-exact sigma expression
    "q313_embedding_standardize": {"s.sigma"},
    # digit/total counts over Benford buckets, COUNT(*) >= 1 per group
    "q316_benford_audit": {"d", "t"},
    # guarded upstream by CASE WHEN scale = 0.0 on BOTH sides (the
    # q121/q130 idiom inside the trained-cell qc CTE)
    "q328_ivf_adc": {"scale"},
    # cn = COUNT(v) alias over a GROUP BY (cent_id, dim) group in s0/s1,
    # and in stot the COALESCE'd sum of two such counts where at least
    # one side matched the FULL OUTER join — always >= 1
    "q332_stream_kmeans": {"cn"},
    # norm = |2·anchor + vector| >= 2|anchor| − |vector| = 1 for
    # unit-norm embeddings (triangle inequality) — never zero;
    # tot.n = COUNT(*) of the corpus a probed row was drawn from, so
    # the division only evaluates when the corpus is nonempty
    "q343_ivf_clustered": {"norm", "tot.n"},
}


def test_no_unguarded_bare_division():
    """q315 class: every bare-identifier division denominator in every
    oracle must be whitelisted with an audited can't-be-zero reason."""
    offenders, stale = [], []
    for name in sorted(ORACLE):
        bare = _unguarded_bare_denominators(ORACLE[name])
        allowed = _DIV_WHITELIST.get(name, set())
        extra = bare - allowed
        if extra:
            offenders.append((name, sorted(extra)))
        if allowed - bare:
            stale.append((name, sorted(allowed - bare)))
    assert not offenders, (
        "unguarded bare-identifier division denominators (add a nullif/"
        f"CASE guard or an audited whitelist entry): {offenders}"
    )
    assert not stale, f"stale _DIV_WHITELIST entries: {stale}"


def test_no_char_counting_bytes_aliases():
    """Byte-named aliases must come from the explicit-bytes idiom
    octet_length(encode(..)), never strlen. Factual note (ADVICE r6):
    DuckDB's strlen() already returns BYTES, not characters (verified:
    strlen('héllo') = 6 vs length('héllo') = 5), so the r6
    strlen->octet_length(encode()) rewrites were behavior-preserving —
    this lint enforces a self-documenting idiom whose unit can't be
    misread, not a unit fix. The REAL divergence in the q291/q252/q253/
    q77 family was q77's head_hex: hex of a CHARACTER substring
    (substr then encode) vs hex of a BYTE slice ('c3a9...' vs 'c3'),
    which no length function models — that class is covered by the
    dynamic value-level parity walks, not this static sweep."""
    offenders = []
    for name in sorted(ORACLE):
        sql = ORACLE[name]
        if _re.search(r"\bstrlen\s*\(", sql) and _re.search(
            r"\bAS\s+\w*byte", sql, _re.I
        ):
            offenders.append(name)
    assert not offenders, (
        f"char-counting oracles with byte-named aliases: {offenders}"
    )


def test_divergence_lint_detects_offenders():
    """Meta-test: both sweeps must go red on the exact pre-rewrite oracle
    shapes they were built for (q252's strlen-as-n_bytes — byte-correct
    in DuckDB but unit-ambiguous, see test_no_char_counting_bytes_aliases
    — and a bare unguarded denominator), and must NOT false-positive on
    string literals or guarded forms."""
    old_q252 = """
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """
    assert _re.search(r"\bstrlen\s*\(", old_q252) and _re.search(
        r"\bAS\s+\w*byte", old_q252, _re.I
    )
    fixed = old_q252.replace("strlen(text)", "octet_length(encode(text))")
    assert not _re.search(r"\bstrlen\s*\(", fixed)

    assert _unguarded_bare_denominators("SELECT a / b FROM t") == {"b"}
    assert _unguarded_bare_denominators("SELECT a / nullif(b, 0)") == set()
    assert _unguarded_bare_denominators("SELECT a / 2.0, x // y") == set()
    assert _unguarded_bare_denominators(
        "SELECT tz AT TIME ZONE 'America/New_York'"
    ) == set()


def test_no_negative_zero_oracle_cells(duck_check):
    """Dynamic -0.0 sweep (round 6): Spark round() normalizes -0.0 to
    +0.0 while DuckDB round() preserves it (verified on pyspark 4.1.2 /
    duckdb 1.x), and both the local canonicalizer (repr) and the driver
    hash distinguish the two — so ANY -0.0 cell a DuckDB oracle emits is
    either a live parity failure or a fragile accidental pass. The q282/
    q178 printf cases were caught one at a time; this sweep executes
    every oracle at SF_CHECK and fails on the first negative-zero double
    cell, naming the oracle that needs the `+ 0.0` guard. Static
    linting can't decide sign-indefiniteness; running the oracles can."""
    import math

    offenders = []
    for name in sorted(ORACLE):
        pdf = duck_check.execute(ORACLE[name]).df()
        for col in pdf.columns:
            if pdf[col].dtype.kind != "f":
                continue
            n = sum(
                1
                for v in pdf[col]
                if isinstance(v, float)
                and v == 0.0
                and math.copysign(1.0, v) < 0
            )
            if n:
                offenders.append((name, col, n))
    assert not offenders, (
        "DuckDB oracles emitting -0.0 (add `+ 0.0` after the round() on "
        f"BOTH sides, the q282 discipline): {offenders}"
    )


def test_evidence_adaptive_ordering(tmp_path):
    """ordered_queries() self-adapts to the driver's CORRECTNESS files:
    red ids first, never-sampled second, green last. Pinned on synthetic
    evidence (so the test survives future rounds changing the real
    files) and on the live repo state (no green id may precede a
    never-sampled one — the evidence-conversion contract)."""
    import json

    # synthetic: parse outcomes, latest round wins
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": {"rows_match": True, "schema_match": True, "hash_match": True,
              "err": None, "spark_rows": 1},
        "b": {"rows_match": True, "schema_match": True, "hash_match": False,
              "err": None, "spark_rows": 1},
        "c": {"rows_match": None, "schema_match": None, "hash_match": None,
              "err": "no_oracle", "spark_rows": 2},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "b": {"rows_match": True, "schema_match": True, "hash_match": True,
              "err": None, "spark_rows": 1},
        "d": {"rows_match": None, "schema_match": None, "hash_match": None,
              "err": "boom", "spark_rows": None},
    }))
    ev = registry._driver_evidence(root=str(tmp_path))
    assert ev == {"a": True, "b": True, "c": True, "d": False}

    # latest-wins must follow the PARSED round number: an unpadded r10
    # sorts lexicographically before r2, so filename order would let the
    # stale r2 outcome overwrite it (ADVICE r5)
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({
        "b": {"rows_match": True, "schema_match": True, "hash_match": False,
              "err": None, "spark_rows": 1},
    }))
    ev = registry._driver_evidence(root=str(tmp_path))
    assert ev["b"] is False, "r10 outcome must beat r2, not filename order"

    # live repo: classes must be contiguous red -> never -> green
    live = registry._driver_evidence()
    order = list(registry.ordered_queries())
    classes = [
        0 if live.get(n) is False else (1 if n not in live else 2)
        for n in order
    ]
    assert classes == sorted(classes), "evidence classes out of order"


def test_bench_headline_names_resolve():
    """bench.py's loop uses queries.get(name) and silently skips misses —
    a renamed/typo'd HEADLINE entry would quietly drop from the bench
    and read as a total-time improvement. Every headline name must be a
    registered query id (and stay unique)."""
    import bench

    q, _ = registry.load_all()
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, f"HEADLINE entries not in the registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_bench_compact_line_stays_small():
    """The driver's tail capture keeps only the last ~2,000 chars of
    bench.py stdout; twice (BENCH_r03, BENCH_r06) a compact line carrying
    the full per-query medians map outgrew it and the round's artifact
    came back `parsed: null`. The compact record must stay parseable no
    matter how the headline list grows: build it for an absurdly large
    query count and long load vectors and pin the serialized size well
    under the capture window."""
    import bench

    rec = bench.compact_record(
        total=12345.678,
        n_queries=5000,
        sf=0.1,
        ambient_load_1m=[31.97, 31.97],
        load_1m=[31.97] * 10,
        contended=True,
        min_total=9999.123,
    )
    line = json.dumps(rec, separators=(",", ":"))
    assert len(line) < 1500, f"compact bench line too long: {len(line)}"
    # and it must still carry the fields the judge reads
    parsed = json.loads(line)
    assert parsed["value"] == 12345.678
    assert parsed["contended"] is True
    assert parsed["unit"] == "sec"
    # the noise-robust composite must ride in the driver line itself
    # (VERDICT r12 #1b) so gate adjudication needs no sidecar
    assert parsed["min_total"] == 9999.123
    assert "queries" not in parsed, "per-query map belongs in the sidecar"


def test_committed_bench_sidecar_is_a_real_run():
    """The committed BENCH_DETAIL.json must come from a real headline run
    (sf0.1, the full BENCH_N medians), not a quick-iteration smoke pass:
    an n=1 sf0.001 sidecar was once committed alongside unrelated work and
    its per-query profile (JIT warmup landing on whichever queries run
    first) is uncomparable with every real round artifact. Catch that at
    commit time, not at judge time."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "BENCH_DETAIL.json")
    if not os.path.exists(path):
        import pytest

        pytest.skip("no committed sidecar")
    with open(path) as f:
        d = json.load(f)
    assert d.get("sf") and d["sf"] >= 0.1, (
        f"sidecar is an sf{d.get('sf')} run — rerun bench.py at the "
        "default sf0.1 before committing BENCH_DETAIL.json"
    )
    assert d.get("n", 0) >= 2, (
        f"sidecar is an n={d.get('n')} single-pass — medians over "
        "BENCH_N>=2 required for a committable artifact"
    )


def test_staleness_retier_orders_rewrites_first():
    """VERDICT r6 #3: within the driver-green class, ids whose
    implementation changed AFTER their latest driver CORRECTNESS row
    (STALENESS.json) must precede stale-but-unchanged greens, newest
    change round first — leftover walk budget re-samples rewrites the
    driver has never executed. Pinned on the live repo state (skipped if
    STALENESS.json is absent)."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.exists(os.path.join(root, "STALENESS.json")):
        pytest.skip("STALENESS.json not generated")
    rows = registry._driver_rows()
    stale_round = registry._staleness()
    order = list(registry.ordered_queries())
    greens = [n for n in order if n in rows and rows[n][1]]
    # greens must split into a contiguous stale block then fresh block,
    # and the stale block must be sorted newest-change-round first
    flags = [stale_round.get(n, 0) > rows[n][0] for n in greens]
    assert flags == sorted(flags, reverse=True), (
        "stale greens must be contiguous and precede fresh greens"
    )
    stale = [n for n in greens if stale_round.get(n, 0) > rows[n][0]]
    impl = [stale_round[n] for n in stale]
    assert impl == sorted(impl, reverse=True), (
        "stale greens must be ordered newest implementation change first"
    )


# strlen( occurrences allowed in oracles: DuckDB strlen is BYTE-based
# (ADVICE r6), so it may only touch expressions that are ASCII by
# construction (where bytes == chars on every possible input, not just
# the current fixture). Everything else must use length() (chars,
# mirroring F.length) or octet_length(encode()) (explicit bytes).
_STRLEN_WHITELIST = {
    "q258_hash_functions": ["strlen(sha256("],   # hex digest: ASCII
    "q265_stack_inline": ["strlen(o_orderstatus)"],  # 1-char enum: ASCII
}


def test_strlen_only_on_ascii_safe_expressions():
    """The char-vs-byte unit taxonomy, enforced in the inverse direction
    of test_no_char_counting_bytes_aliases: byte-based strlen() under a
    CHAR-meaning alias silently agrees with a char-counting Spark side
    only while the fixture stays pure ASCII (q283's n_tok_char and
    q285's mean_wlen were exactly this — found and fixed r7). Any
    strlen( in an oracle must be an audited ASCII-by-construction
    whitelist entry; new uses must justify themselves here."""
    offenders, stale = [], []
    for name in sorted(ORACLE):
        sql = _strip_sql_comments(ORACLE[name])
        hits = [
            m.start() for m in _re.finditer(r"\bstrlen\s*\(", sql)
        ]
        if not hits:
            continue
        allowed = _STRLEN_WHITELIST.get(name, [])
        # every hit must be explained by some whitelist substring
        unexplained = len(hits) - sum(sql.count(a) for a in allowed)
        if unexplained > 0:
            offenders.append((name, len(hits)))
    for name in _STRLEN_WHITELIST:
        sql = _strip_sql_comments(ORACLE.get(name, ""))
        if not any(a in sql for a in _STRLEN_WHITELIST[name]):
            stale.append(name)
    assert not offenders, (
        "byte-based strlen() on non-whitelisted expressions (use "
        f"length() for chars, octet_length(encode()) for bytes): {offenders}"
    )
    assert not stale, f"stale _STRLEN_WHITELIST entries: {stale}"


def _strip_sql_comments(sql: str) -> str:
    """Blank out -- line comments so prose mentioning strlen() (the
    q283/q285 fix rationale) doesn't trip the sweep."""
    return _re.sub(r"--[^\n]*", "", sql)
