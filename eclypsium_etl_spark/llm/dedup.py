"""Deduplication operators — SURVEY.md §2.12 (q62, q63) plus the
training-data-pipeline extensions (q70 SimHash, q71 MinHash+LSH, q78
embedding near-dup).

Portability principle: every hash used for *checked* queries is md5 over
strings — available and bit-identical in both Spark and DuckDB — so even
the LSH pipelines have exact oracles. (xxhash64/murmur are faster but
engine-specific; swapping them in changes no plan shape.)

Scale posture per operator:
- exact (q62): one hash-aggregate shuffle on the content key. At 100 TB,
  dedup on md5(text) instead of raw text so shuffle rows stay small.
- shingle-Jaccard (q63): candidate generation by shingle self-join; the
  blow-up control at scale is MinHash banding (q71) — candidates meet only
  when a band collides, turning O(n²) into near-linear for sparse overlap.
- SimHash (q70): per-row signature, NO shuffle at all — near-dup buckets
  come from signature equality / small Hamming distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import dot, dot_sql
from ..io import table, table_spread
from ..registry import query

_JACCARD_TAU = 0.4
_EMB_TAU = 0.30

# ---------------------------------------------------------------- shingles

# Short-doc guard: Spark's sequence(1, n) with n <= 0 generates a
# DESCENDING array ([1, 0]) and slice(arr, 0, 3) then throws, while the
# oracle's generate_series(1, n <= 0) is empty — so docs with < 3 tokens
# take an explicit empty-array branch on the Spark side too.
_SHINGLES_EXPR = (
    "CASE WHEN size(split(text, ' ')) < 3 THEN cast(array() AS array<string>)"
    " ELSE transform(sequence(1, size(split(text, ' ')) - 2),"
    " i -> concat_ws(' ', slice(split(text, ' '), i, 3))) END"
)

# DuckDB twin: distinct 3-word shingles per doc
_SH_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
    FROM tok, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
)
"""

# Candidate-generation document-frequency cap (SURVEY §4.3.3's blow-up
# control for the exact path): a shingle shared by f documents contributes
# f² rows to the candidate self-join, so "stop shingles" above the cap are
# excluded from candidate GENERATION (verification still scores the full
# shingle sets, so emitted jaccard values are exact). The recall trade —
# a pair is missed only if EVERY shared shingle is hot — is part of the
# operator contract and mirrored exactly in the oracle.
_MAX_SHINGLE_DF = 64

_JACCARD_TAIL = f"""
dfc AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_MAX_SHINGLE_DF}),
rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s)),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
    SELECT c0.doc_a AS da, c0.doc_b AS db, COUNT(*) AS c
    FROM cand c0
    JOIN sh a ON a.doc_id = c0.doc_a
    JOIN sh b ON b.doc_id = c0.doc_b AND b.s = a.s
    GROUP BY 1, 2
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
SELECT i.da AS doc_a, i.db AS doc_b,
       round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6) AS jaccard
FROM inter i
JOIN sz x ON x.doc_id = i.da
JOIN sz y ON y.doc_id = i.db
WHERE round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6) >= {_JACCARD_TAU}
"""


def shingles(spark, sf_dir) -> DataFrame:
    """Distinct 3-word shingles per document (set semantics).

    Materialized once to a temp parquet: every consumer — both sides of
    the intersection self-join, the size aggregate, the MinHash signature —
    would otherwise re-run the explode+distinct shuffle. Disk
    materialization (not cache/localCheckpoint) on purpose: cached blocks
    accumulate across invocations and thrash the session's memory, while a
    re-scanned parquet intermediate is cheap, shared, and rerun-safe —
    exactly the persisted intermediate table a cluster pipeline would use."""
    from ..io import materialize_once, memo_location

    d = table(spark, sf_dir, "documents")
    # path slug from the FULL sf_dir (two data dirs sharing a basename must
    # not alias) + the source's mtime/size stamp (a regenerated fixture
    # must not be served the previous fixture's shingles) + the layout
    # width (ADVICE r12's memo-key rule: every constant that shapes the
    # landed bytes belongs in the key — a session at a different core
    # count must not be served a layout fanned for another width)
    width = spark.sparkContext.defaultParallelism
    out = memo_location(f"shingles_w{width}", sf_dir, "documents")

    # memoized per sf_dir (cross-process write-once, io.materialize_once):
    # q63/q71/q115 all consume this; without the memo each registry
    # invocation re-ran the explode+distinct shuffle and parquet rewrite
    # (the dominant per-query harness cost for all three).
    # repartition to explicit core width before the (expensive) explode
    # AND after the distinct: the single-row-group fixture scan is one
    # task, and an AQE-coalesced distinct (advisory-sized) would land the
    # memo as ~3 files — capping EVERY consumer's scan stage at 3 tasks
    # (a parquet file written in one task is one row group, the minimum
    # read unit; guide §2.5 input skew). The explicit width is the
    # session's core count, so the layout adapts to the deployment. The
    # extra exchange is paid once, in the untimed memo build.
    def write(path: str) -> None:
        (
            d.repartition(width, "doc_id")
            .select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("s"))
            .distinct()
            .repartition(width, "doc_id")
            .write.parquet(path)
        )

    return materialize_once(spark, out, write)


def jaccard_pairs(
    sh: DataFrame,
    tau: float = _JACCARD_TAU,
    candidates: DataFrame | None = None,
    max_df: int | None = _MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact Jaccard over shingle sets. Without `candidates`, considers
    pairs sharing ≥1 shingle of document frequency ≤ max_df (q63's exact
    path — the df cap is the blow-up control that stops a stop-shingle
    shared by f docs from contributing f² self-join rows; max_df=None
    disables it); with a candidate pair set (from LSH banding),
    intersections are computed ONLY for those pairs — the shape that keeps
    verification linear in the candidate count. Either way, emitted
    jaccard values are exact over the FULL shingle sets."""
    a = sh.alias("a")
    b = sh.alias("b")
    if candidates is not None:
        # NO manual broadcast hint (round-6 broadcast audit): the banded
        # candidate set grows LINEARLY with the corpus even under the
        # bucket cap (buckets x cap^2/2), so a pinned broadcast becomes
        # an executor-memory time bomb at 100 TB. AQE re-plans with
        # ACTUAL runtime sizes — it still broadcasts the (tiny) set at
        # fixture scale, giving the identical zero-shingle-shuffle plan,
        # and degrades to a shuffled hash join with skew-split when
        # candidates outgrow the threshold.
        cand_a = (
            candidates
            .join(a, F.col("a.doc_id") == F.col("doc_a"))
            .select("doc_a", "doc_b", F.col("a.s").alias("s_a"))
        )
        inter = (
            cand_a
            .join(
                b,
                (F.col("b.doc_id") == F.col("doc_b")) & (F.col("s_a") == F.col("b.s")),
            )
            .groupBy("doc_a", "doc_b")
            .count()
            .withColumnRenamed("count", "c")
        )
    elif max_df is not None:
        # blow-up-controlled exact path. Candidates meet only on shingles
        # below the df cap (the hot stop-list is cap-bounded-small by
        # construction → broadcast anti-join keeps the big shingle table
        # shuffle-free for the filter), and the SAME self-join that finds
        # them already yields their rare-shingle intersection counts —
        # one shuffle, identical shape to the uncapped path. The full
        # intersection is then completed by adding the HOT-shingle overlap
        # per candidate: each doc's hot-shingle set is a tiny array (≤ a
        # stop-list's worth), joined in by doc id and intersected JVM-side
        # (array_intersect) — no second pair-level shuffle, no exploded
        # pair × shingles intermediate, and emitted jaccard stays exact
        # over the FULL sets: c = |shared rare| + |shared hot|.
        # The stop list is computed ONCE per invocation and materialized
        # (localCheckpoint — it is cap-bounded-small by construction):
        # it feeds two different consumers below (anti-join filter,
        # hot-flag attach) whose subtrees are NOT identical, so without
        # the checkpoint each would re-run the full df-count pass over
        # the corpus-sized shingle table (r14: 8 passes over sh in the
        # plan → 3 — the df screen, the rare probe, the per-doc stats).
        hot = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("s")
            .localCheckpoint(eager=True)
        )
        rare = sh.join(F.broadcast(hot), "s", "left_anti")
        # Pair generation WITHOUT a self-join (guide §2.4, remove
        # shuffles outright): group the rare shingle table once by `s`
        # (collect_list is bounded by the df cap — ≤ max_df doc ids per
        # key, so no giant-key buffer), then explode the ordered
        # combinations JVM-side. The r13 self-join spelling (SHUFFLE_HASH
        # after a measured 1.54 s → 0.67 s over broadcast) exchanged the
        # corpus-sized table TWICE by `s` and built a hash relation per
        # partition; this shape exchanges it ONCE and emits the identical
        # pair multiset (proven row-identical on the sf0.1 corpus,
        # 1,130,536 pairs; measured 1.2–2.2 s self-join vs 1.0–2.0 s
        # grouped-explode, and one fewer corpus shuffle at any scale).
        # sort_array makes doc_a < doc_b by construction (shingle sets
        # are distinct per doc, so ids within a key are unique).
        dps = rare.groupBy("s").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ds")
        )
        pair_structs = (
            "flatten(transform(ds, (a, i) -> "
            "transform(slice(ds, i + 2, size(ds)), "
            "b -> struct(a AS doc_a, b AS doc_b))))"
        )
        inter_rare = (
            dps.select(F.explode(F.expr(pair_structs)).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .groupBy("doc_a", "doc_b")
            .count()
            .withColumnRenamed("count", "rc")
        )
        # Per-doc size AND hot-shingle set in ONE pass over sh (r14,
        # guide §2.3 "aggregate before you shuffle" / §1.2 fewer passes):
        # the r13 shape ran `sizes` (groupBy doc_id) and `hot_sets`
        # (semi-join + groupBy doc_id) as two separate corpus passes and
        # joined each twice (4 pair-level joins). One left join against
        # the broadcast stop list flags hot rows in the scan stage, one
        # doc-keyed aggregate emits both stats, and the pair table joins
        # it twice — inner, since every doc in a pair has stats by
        # construction. collect_set drops the NULLs of non-hot rows, so
        # a doc with no hot shingles gets an EMPTY set (exactly what the
        # old left-join + coalesce produced); proven row-identical at
        # tau=0 over all 1,130,536 sf0.1 candidate pairs
        # (plans/r14/exp_q63.log).
        doc_stats = (
            sh.join(
                F.broadcast(hot.withColumn("_hot", F.lit(True))), "s", "left"
            )
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n"),
                F.collect_set(F.when(F.col("_hot"), F.col("s"))).alias("hs"),
            )
        )
        hot_c = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
        c = F.col("rc") + hot_c
        jac = F.round(c.cast("double") / (F.col("na") + F.col("nb") - c), 6)
        return (
            inter_rare.join(
                doc_stats.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("n").alias("na"),
                    F.col("hs").alias("hs_a"),
                ),
                "doc_a",
            )
            .join(
                doc_stats.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("n").alias("nb"),
                    F.col("hs").alias("hs_b"),
                ),
                "doc_b",
            )
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= tau)
        )
    else:
        # uncapped all-pairs (opt-in): no join hint — measured broadcast vs
        # shuffle for this branch, the broadcast build cost cancels its
        # shuffle savings at this shape, and AQE picks correctly per size
        inter = (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .count()
            .withColumnRenamed("count", "c")
        )
    sizes = sh.groupBy("doc_id").count().withColumnRenamed("count", "n")
    jac = F.round(
        F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c")), 6
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


# ---------------------------------------------------------------- queries

@query(
    "q62_dedup_exact",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def q62_dedup_exact(spark, sf_dir) -> DataFrame:
    """Exact dedup on content, keeping the lowest doc_id per text —
    deterministic, unlike dropDuplicates' arbitrary-survivor choice (which
    would still pass row-count checks but not value-hash ones). One
    shuffle on the content key."""
    from .. import ops

    d = table(spark, sf_dir, "documents")
    return ops.dedup_keep_first(d, ["text"], [F.asc("doc_id")]).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@query(
    "q63_dedup_near",
    oracle=f"WITH {_SH_CTE}, {_JACCARD_TAIL}",
)
def q63_dedup_near(spark, sf_dir) -> DataFrame:
    """Near-duplicate pairs by exact shingle-set Jaccard ≥ τ: shingle →
    explode → df-capped self-join on shingle → exact intersection recount
    for candidates → |A∩B|/|A∪B|. Deterministic and fully oracled.

    Blow-up control (SURVEY §4.3.3): candidate generation skips shingles
    with document frequency > _MAX_SHINGLE_DF, so hot stop-shingles can't
    contribute quadratic join rows; emitted jaccard values stay exact over
    the full shingle sets (the cap only affects which pairs are
    considered, and only pairs whose EVERY shared shingle is hot are
    missed). q71's MinHash banding is the probabilistic alternative that
    also prunes by signature agreement."""
    return jaccard_pairs(shingles(spark, sf_dir))


def _simhash_bits_spark() -> str:
    hexhigh = "'8','9','a','b','c','d','e','f'"
    terms = [
        f"(CASE WHEN size(filter(hs, h -> substring(h, {i}, 1) IN ({hexhigh}))) * 2"
        f" > size(hs) THEN {1 << (i - 1)} ELSE 0 END)"
        for i in range(1, 17)
    ]
    return " + ".join(terms)


def _simhash_bits_duck() -> str:
    hexhigh = "'8','9','a','b','c','d','e','f'"
    terms = [
        f"(CASE WHEN len(list_filter(hs, h -> substring(h, {i}, 1) IN ({hexhigh}))) * 2"
        f" > len(hs) THEN {1 << (i - 1)} ELSE 0 END)"
        for i in range(1, 17)
    ]
    return " + ".join(terms)


@query(
    "q70_dedup_simhash",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs
        FROM documents
    )
    SELECT doc_id, CAST({_simhash_bits_duck()} AS BIGINT) AS simhash
    FROM hashed
    """,
)
def q70_dedup_simhash(spark, sf_dir) -> DataFrame:
    """16-bit SimHash: per-token md5, majority vote per bit position (hex
    digit ≥ 8 ⇒ bit 1). Entirely per-row expressions — ZERO shuffle, which
    is the point of SimHash at 100 TB: signatures come out of the scan
    stage; near-dup grouping is then a cheap groupBy on the signature."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("transform(split(text, ' '), t -> md5(t))").alias("hs"),
    ).select(
        "doc_id", F.expr(_simhash_bits_spark()).cast("long").alias("simhash")
    )


# MinHash family: Kirsch–Mitzenmacher two-hash construction — ONE md5
# per shingle yields two 32-bit halves (ha, hb); the j-th hash is
# (ha + j·hb) mod 2^32 (Kirsch & Mitzenmacher 2006: h1 + i·h2 preserves
# the estimator guarantees of i independent hashes). Identical integer
# arithmetic on both engines keeps the exact-oracle discipline, and the
# signature build — 80% of q71's wall time under the old md5-per-j
# family — hashes each shingle once instead of eight times.
_SIG_AB_SPARK = (
    "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) AS ha, "
    "CAST(conv(substring(md5(s), 9, 8), 16, 10) AS BIGINT) AS hb"
)
_SIG_AB_DUCK = (
    "CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) AS ha, "
    "CAST(('0x' || substring(md5(s), 9, 8)) AS BIGINT) AS hb"
)
# engine-neutral: MIN over the derived j-th hash, per doc
_SIG_MIN_COLS = ", ".join(
    f"MIN((ha + {j} * hb) % 4294967296) AS h{j}" for j in range(1, 9)
)
# band keys over bigint signature halves: '|'-separated to keep the
# concatenation injective across variable-length digit strings
_BAND_KEY_DUCK = [
    f"md5(CAST(h{2 * b - 1} AS VARCHAR) || '|' || CAST(h{2 * b} AS VARCHAR))"
    for b in range(1, 5)
]

# Band-bucket size cap: an LSH bucket of B docs yields B(B-1)/2 candidate
# pairs, so one pathological bucket (e.g. a boilerplate shingle set shared
# by a million docs) would reintroduce the quadratic join the banding
# exists to avoid. Buckets above the cap are EXCLUDED from candidate
# generation — the standard production degrade (members of a mega-bucket
# are near-identical boilerplate; handle them by exact-hash dedup, q62/
# q102, not pairwise scoring). Mirrored exactly in the oracle.
_MAX_BAND_BUCKET = 100


def minhash_band_candidates(
    sh: DataFrame, max_bucket: int | None = _MAX_BAND_BUCKET
) -> DataFrame:
    """MinHash signatures (8 two-hash-derived min-hashes from ONE md5 per
    shingle) → 4 bands × 2 rows → candidate pairs that collide in ≥1
    band, skipping buckets larger than `max_bucket`. Takes any
    (doc_id, s) shingle frame, so skew tests can feed pathological
    corpora directly."""
    ab = sh.select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)").alias(
            "ha"
        ),
        F.expr("CAST(conv(substring(md5(s), 9, 8), 16, 10) AS BIGINT)").alias(
            "hb"
        ),
    )
    sig = ab.groupBy("doc_id").agg(
        *[
            F.min((F.col("ha") + j * F.col("hb")) % 4294967296).alias(f"h{j}")
            for j in range(1, 9)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat(
                                F.col(f"h{2*b-1}").cast("string"),
                                F.lit("|"),
                                F.col(f"h{2*b}").cast("string"),
                            )
                        ).alias("key"),
                    )
                    for b in range(1, 5)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        # oversized buckets are few by construction (≤ 4n/max_bucket) →
        # broadcast anti-join keeps the band table shuffle-free here
        big = (
            bands.groupBy("band", "key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band", "key")
        )
        bands = bands.join(F.broadcast(big), ["band", "key"], "left_anti")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "q71_dedup_minhash_lsh",
    oracle=f"""
    WITH {_SH_CTE},
    sig AS (SELECT doc_id, {_SIG_MIN_COLS}
            FROM (SELECT doc_id, {_SIG_AB_DUCK} FROM sh) GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 1 AS band, {_BAND_KEY_DUCK[0]} AS key FROM sig
        UNION ALL SELECT doc_id, 2, {_BAND_KEY_DUCK[1]} FROM sig
        UNION ALL SELECT doc_id, 3, {_BAND_KEY_DUCK[2]} FROM sig
        UNION ALL SELECT doc_id, 4, {_BAND_KEY_DUCK[3]} FROM sig
    ),
    big AS (
        SELECT band, key FROM bands
        GROUP BY band, key HAVING COUNT(*) > {_MAX_BAND_BUCKET}
    ),
    safe AS (
        SELECT b.* FROM bands b
        WHERE NOT EXISTS (
            SELECT 1 FROM big g WHERE g.band = b.band AND g.key = b.key
        )
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM safe a JOIN safe b ON a.band = b.band AND a.key = b.key
                                AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT c0.doc_a, c0.doc_b,
           round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6) AS jaccard
    FROM cand c0
    JOIN inter i ON i.da = c0.doc_a AND i.db = c0.doc_b
    JOIN sz x ON x.doc_id = c0.doc_a
    JOIN sz y ON y.doc_id = c0.doc_b
    WHERE round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6) >= {_JACCARD_TAU}
    """,
)
def q71_dedup_minhash_lsh(spark, sf_dir) -> DataFrame:
    """MinHash + LSH banding, fully deterministic (md5-derived two-hash
    family, (ha + j·hb) mod 2^32 — exact oracle parity AND one hash per
    shingle instead of eight): 8 min-hashes per doc, 4 bands × 2 rows;
    docs are candidates iff a band collides; candidates are verified
    with exact Jaccard. This is the near-dup shape that survives 100 TB: signatures
    are a groupBy over shingles (linear), the band self-join only meets
    actual collisions — never all pairs — and band buckets above
    _MAX_BAND_BUCKET are excluded so one boilerplate mega-bucket can't
    reintroduce the quadratic join (skew degrade asserted in
    tests/test_scale_features.py). (Banding trades recall: with b=4, r=2,
    P[candidate] = 1-(1-j²)⁴.)"""
    sh = shingles(spark, sf_dir)
    # exact-Jaccard verification restricted to the banded candidates
    return jaccard_pairs(sh, candidates=minhash_band_candidates(sh))


@query(
    "q78_dedup_embedding",
    oracle=f"""
    WITH de AS (
        SELECT d.doc_id, d.lang, e.embedding
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round({dot_sql('a.embedding', 'b.embedding')}, 6) AS sim,
           a.lang AS lang_a, b.lang AS lang_b
    FROM de a JOIN de b ON a.doc_id < b.doc_id
    WHERE round({dot_sql('a.embedding', 'b.embedding')}, 6) >= {_EMB_TAU}
    """,
)
def q78_dedup_embedding(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-dup on documents: join docs to their vectors,
    emit pairs above the cosine threshold with language metadata — the
    semantic-dedup step of a training-data pipeline.

    Same two-phase shape as q65: block-grid cogroup GEMM candidates
    (similarity.grid_gemm_candidates — executor-side, no O(n²) theta
    join), then exact-fold verify + metadata join restricted to the
    candidate set. LSH pruning (similarity.lsh_pairs) replaces phase 1
    when even one full GEMM pass over the corpus is too much."""
    from .similarity import grid_gemm_candidates

    def de_frame():
        # fresh scans per consumer: the candidate cogroup and both verify
        # sides reuse this shape, and shared lineage would trip Spark's
        # ambiguous-self-join analysis
        d = table(spark, sf_dir, "documents").select("doc_id", "lang")
        e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return d.join(e, d.doc_id == e.vec_id).select("doc_id", "lang", "embedding")

    cand = grid_gemm_candidates(
        de_frame().select(F.col("doc_id").alias("vec_id"), "embedding"), _EMB_TAU
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    de = de_frame()
    a = de.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = de.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"),
        F.col("embedding").alias("emb_b"),
    )
    sim = F.round(dot(F.col("emb_a"), F.col("emb_b")), 6)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", sim.alias("sim"), "lang_a", "lang_b")
        .filter(F.col("sim") >= _EMB_TAU)
    )


def minhash_lsh_ml_pairs(spark, sf_dir, tau: float = 0.4, seed: int = 42) -> DataFrame:
    """pyspark.ml MinHashLSH variant of q71 for raw throughput (JVM hash
    family, no md5 strings). No cross-engine oracle by design; recall vs
    the exact q63 kernel is asserted in tests."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = shingles(spark, sf_dir).groupBy("doc_id").agg(
        F.collect_list("s").alias("sh_list")
    )
    cv = CountVectorizer(inputCol="sh_list", outputCol="features", binary=True)
    model = cv.fit(sh)
    feats = model.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=seed)
    lsh_model = lsh.fit(feats)
    pairs = lsh_model.approxSimilarityJoin(feats, feats, 1.0 - tau, distCol="jdist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1.0 - F.col("jdist")).alias("jaccard"),
        )
    )


_DECON_EVAL_MAX = 20   # doc_id < 20 stands in for the held-out eval set
_DECON_TAU = 0.2       # contaminated when >= 20% of a doc's shingles hit


@query(
    "q115_decontaminate",
    oracle=f"""
    WITH {_SH_CTE},
    corpus AS (
        SELECT doc_id FROM documents WHERE doc_id >= {_DECON_EVAL_MAX}
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < {_DECON_EVAL_MAX}),
    tot AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM sh
        WHERE doc_id >= {_DECON_EVAL_MAX} GROUP BY doc_id
    ),
    ov AS (
        SELECT sh.doc_id, COUNT(*) AS n_overlap
        FROM sh JOIN ev USING (s)
        WHERE sh.doc_id >= {_DECON_EVAL_MAX} GROUP BY sh.doc_id
    )
    SELECT c.doc_id,
           COALESCE(t.n_shingles, 0) AS n_shingles,
           COALESCE(o.n_overlap, 0) AS n_overlap,
           round(COALESCE(o.n_overlap, 0)
               / CAST(greatest(COALESCE(t.n_shingles, 0), 1) AS DOUBLE), 6)
               AS overlap_ratio,
           (round(COALESCE(o.n_overlap, 0)
               / CAST(greatest(COALESCE(t.n_shingles, 0), 1) AS DOUBLE), 6)
               >= {_DECON_TAU}) AS contaminated
    FROM corpus c
    LEFT JOIN tot t ON t.doc_id = c.doc_id
    LEFT JOIN ov o ON o.doc_id = c.doc_id
    """,
)
def q115_decontaminate(spark, sf_dir) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose 3-gram
    shingles overlap a held-out evaluation set (here: doc_id < 20 stands
    in for the benchmark) above a threshold — the step that keeps eval
    data out of training corpora. EVERY corpus doc is emitted — including
    <3-token docs that produce no shingles (n_shingles=0, ratio 0.0) —
    with its overlap ratio so the threshold stays a downstream policy
    choice; the flag thresholds the same ROUNDED ratio the row carries,
    so recomputing the policy from the emitted column always agrees.

    Scale shape: the eval shingle set is tiny and BROADCASTS (the corpus
    shingles are only ever the probe side of a broadcast semi join, never
    shuffled for the overlap test); the single shuffle is the per-doc
    count aggregate. Reuses the memoized shingle intermediate shared with
    q63/q71."""
    sh = shingles(spark, sf_dir)
    ev = (
        sh.filter(F.col("doc_id") < _DECON_EVAL_MAX).select("s").distinct()
    )
    corpus_sh = sh.filter(F.col("doc_id") >= _DECON_EVAL_MAX)
    corpus = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= _DECON_EVAL_MAX)
        .select("doc_id")
    )
    totals = corpus_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    overlaps = (
        corpus_sh.join(F.broadcast(ev), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    # greatest(n,1): shingle-less short docs get ratio 0.0, not NULL/NaN
    ratio = F.round(
        F.coalesce(F.col("n_overlap"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n_shingles"), F.lit(0)), F.lit(1)).cast("double"),
        6,
    )
    return (
        corpus.join(totals, "doc_id", "left")
        .join(overlaps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            ratio.alias("overlap_ratio"),
            (ratio >= _DECON_TAU).alias("contaminated"),
        )
    )


# ---- block-level ("line-level") dedup ratio (q120) ---------------------
_BLOCK_W = 8  # tokens per block — the "line" unit on a corpus with no \n


@query(
    "q120_dedup_blocks",
    oracle=f"""
    WITH blk AS (
        SELECT doc_id, UNNEST(
            list_transform(
                range(0, CAST(ceil(len(string_split(text, ' ')) / {_BLOCK_W}.0) AS BIGINT)),
                i -> md5(array_to_string(
                    list_slice(string_split(text, ' '),
                               i * {_BLOCK_W} + 1, i * {_BLOCK_W} + {_BLOCK_W}), ' '))
            )) AS h
        FROM documents
    ),
    freq AS (SELECT h, COUNT(*) AS gf FROM blk GROUP BY h)
    SELECT b.doc_id,
           COUNT(*) AS n_blocks,
           CAST(SUM(CASE WHEN f.gf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
           round(SUM(CASE WHEN f.gf > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
    FROM blk b JOIN freq f USING (h)
    GROUP BY b.doc_id
    """,
)
def q120_dedup_blocks(spark, sf_dir) -> DataFrame:
    """Block-level dedup scoring — the corpus-scale "line dedup" pass
    (CCNet-style): cut each doc into fixed-width token blocks (the line
    unit on a corpus with no newlines), count each block's GLOBAL
    frequency, and score every doc by the fraction of its blocks that are
    duplicated somewhere in the corpus. Downstream curation drops docs
    above a dup_ratio threshold or strips just the duplicated blocks.

    Plan: blocks are built JVM-side from ONE split (transform over an
    index sequence + slice — no token explode, no self-join) and hashed
    to md5 BEFORE the explode, so the only thing that ever shuffles is
    16-byte digests (the q102 discipline): one hash-aggregate for global
    frequencies, one join back on digest, one per-doc rollup. The tail
    block may be shorter than _BLOCK_W (both engines' slice clamps);
    range/ceil over a >=1-token corpus never hits Spark's descending-
    sequence trap but the math is guarded anyway via greatest(1, ...)."""
    # spread before the block-hash transform (io.spread, guide §2.5): the
    # block stream is built twice (frequency pass + per-doc rollup pass)
    # and the single-row-group fixture scan would md5-hash the whole
    # corpus in one task, twice.
    d = table_spread(spark, sf_dir, "documents", "doc_id")
    blocks = F.expr(
        f"transform(sequence(1, greatest(1, cast(ceil(size(split(text, ' ')) / {_BLOCK_W}.0) AS INT))),"
        f" i -> md5(concat_ws(' ', slice(split(text, ' '), (i - 1) * {_BLOCK_W} + 1, {_BLOCK_W}))))"
    )
    blk = d.select("doc_id", F.explode(blocks).alias("h"))
    freq = blk.groupBy("h").agg(F.count("*").alias("gf"))
    return (
        blk.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.when(F.col("gf") > 1, 1).otherwise(0)).alias("n_dup_blocks"),
            F.round(
                F.sum(F.when(F.col("gf") > 1, 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )


# ---- Bloom-filter decontamination (q124) -------------------------------
_BLOOM_M = 65536  # bit-space size
_BLOOM_K = 3      # probes per shingle

_BLOOM_POS_SQL = ", ".join(
    f"CAST(('0x' || substring(md5('{j}|' || s), 1, 8)) AS BIGINT) % {_BLOOM_M}"
    for j in range(1, _BLOOM_K + 1)
)


@query(
    "q124_bloom_decontaminate",
    oracle=f"""
    WITH {_SH_CTE.strip().rstrip()},
    bits AS (
        SELECT DISTINCT UNNEST([{_BLOOM_POS_SQL}]) AS pos
        FROM sh WHERE doc_id < {_DECON_EVAL_MAX}
    ),
    probe AS (
        SELECT doc_id, s, UNNEST([{_BLOOM_POS_SQL}]) AS pos
        FROM sh WHERE doc_id >= {_DECON_EVAL_MAX}
    ),
    hit AS (
        SELECT p.doc_id, p.s
        FROM probe p JOIN bits b ON p.pos = b.pos
        GROUP BY p.doc_id, p.s HAVING COUNT(*) = {_BLOOM_K}
    ),
    tot AS (
        SELECT doc_id, COUNT(*) AS n_shingles
        FROM sh WHERE doc_id >= {_DECON_EVAL_MAX} GROUP BY doc_id
    )
    SELECT c.doc_id,
           COALESCE(t.n_shingles, 0) AS n_shingles,
           COALESCE(h.n_hits, 0) AS n_maybe_hits,
           round(COALESCE(h.n_hits, 0)
                 / CAST(greatest(COALESCE(t.n_shingles, 0), 1) AS DOUBLE), 6)
               AS hit_ratio
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {_DECON_EVAL_MAX}) c
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN (SELECT doc_id, COUNT(*) AS n_hits FROM hit GROUP BY doc_id) h
        USING (doc_id)
    """,
)
def q124_bloom_decontaminate(spark, sf_dir) -> DataFrame:
    """Bloom-filter decontamination — the scale path for q115 when the
    held-out eval set is too big to broadcast raw: fold the eval set's
    shingles into an m-bit Bloom filter (k md5-derived probe positions
    each), then flag corpus shingles whose k positions are ALL set. False
    positives are possible (that's the Bloom trade — tune m/k), false
    negatives are not, and with a deterministic hash family the exact
    same false positives occur in both engines, so even the approximate
    structure has an exact differential oracle.

    Plan: the bit set is at most k·|eval shingles| distinct ints, orders
    of magnitude smaller than the eval shingle strings — it broadcasts
    long after the raw set cannot. Corpus shingles explode to k probe
    rows, broadcast-join the bit set, and a probe survives only with k
    matches; everything else is per-doc rollup. Shared kernel: the same
    memoized shingle table as q63/q71/q115 (scan-only under the
    harness). Eval split mirrors q115: doc_id < 20 is the
    stand-in eval set."""
    sh = shingles(spark, sf_dir)
    probes = F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}|"), F.col("s"))), 1, 8), 16, 10
            ).cast("long")
            % _BLOOM_M
            for j in range(1, _BLOOM_K + 1)
        ]
    )
    bits = (
        sh.filter(F.col("doc_id") < _DECON_EVAL_MAX)
        .select(F.explode(probes).alias("pos"))
        .distinct()
    )
    corpus_sh = sh.filter(F.col("doc_id") >= _DECON_EVAL_MAX)
    probe = corpus_sh.select("doc_id", "s", F.explode(probes).alias("pos"))
    hit = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "s")
        .agg(F.count("*").alias("k_hits"))
        .filter(F.col("k_hits") == _BLOOM_K)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    tot = corpus_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    corpus = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= _DECON_EVAL_MAX)
        .select("doc_id")
    )
    return (
        corpus.join(tot, "doc_id", "left")
        .join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).alias("n_maybe_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.greatest(
                    F.coalesce("n_shingles", F.lit(0)), F.lit(1)
                ).cast("double"),
                6,
            ).alias("hit_ratio"),
        )
    )


# ---- keep-best-quality dedup (q134) ------------------------------------
from .text import _QUALITY_SQL, _SPLIT_SQL  # noqa: E402  (no cycle: text never imports dedup)


@query(
    "q134_dedup_keep_best",
    oracle=f"""
    SELECT doc_id, n_group, quality, rn = 1 AS is_keeper FROM (
        SELECT doc_id, {_QUALITY_SQL} AS quality,
               COUNT(*) OVER (PARTITION BY md5(substring(text, 1, 40)))
                   AS n_group,
               row_number() OVER (
                   PARTITION BY md5(substring(text, 1, 40))
                   ORDER BY {_QUALITY_SQL} DESC, doc_id
               ) AS rn
        FROM documents
    )
    """,
)
def q134_dedup_keep_best(spark, sf_dir) -> DataFrame:
    """Dedup with a QUALITY-AWARE keeper: within each near-dup group
    (shared 40-char prefix, the q19/q111 candidate key) keep the highest-
    quality copy instead of the lowest id — what production curation
    actually does (min-id keeps whichever copy was crawled first; this
    keeps the best one). Keeper policy: q74 quality DESC, doc_id ASC on
    exact quality ties — deterministic because quality is already rounded
    to 6 (identical doubles cross-engine).

    Plan: the group key is hashed to md5 BEFORE the exchange, so the
    window shuffles 16-byte digests + the quality double, never the raw
    prefix (the q102 discipline); one shuffle total. Every doc is emitted
    with its verdict + group size so the drop set is auditable."""
    from pyspark.sql import Window

    from .text import quality_col

    d = table(spark, sf_dir, "documents")
    k = F.md5(F.substring("text", 1, 40))
    w = Window.partitionBy("k")
    wr = w.orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        d.select("doc_id", k.alias("k"), quality_col().alias("quality"))
        .withColumn("n_group", F.count("*").over(w))
        .withColumn("rn", F.row_number().over(wr))
        .select(
            "doc_id",
            "n_group",
            "quality",
            (F.col("rn") == 1).alias("is_keeper"),
        )
    )


@query(
    "q181_split_leakage",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, substring(text, 1, 40) AS pref,
               CASE WHEN {_SPLIT_SQL} < 80 THEN 'train'
                    WHEN {_SPLIT_SQL} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT pref, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
           string_agg(DISTINCT split, '|' ORDER BY split) AS splits,
           MIN(doc_id) AS min_doc
    FROM s GROUP BY pref
    HAVING COUNT(DISTINCT split) > 1
    """,
)
def q181_split_leakage(spark, sf_dir) -> DataFrame:
    """Train/test leakage audit: near-duplicate groups (q19's shared
    40-char prefix as the candidate key) that SPAN splits of the q132
    assignment — the exact failure mode hash-random splits cannot
    prevent (duplicates land in different splits and the eval set leaks
    into training). The production loop is: run this audit, then move
    whole dedup GROUPS (q111's components) to one split, not documents.
    One shuffle keyed on the prefix; the split column is scan-stage
    hash arithmetic; emitted rows are only the leaking groups."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit("|split-v1"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    s = d.select(
        "doc_id",
        F.substring("text", 1, 40).alias("pref"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        s.groupBy("pref")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("split").cast("long").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), "|").alias(
                "splits"
            ),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_splits") > 1)
    )


# synthetic URL per doc (the fixture carries none): 50 distinct pages per
# source plus tracking noise — enough aliasing for canonicalization to bite
_URL_RAW_SQL = (
    "'https://WWW.' || source || '.example.com/page/' "
    "|| CAST(doc_id % 50 AS VARCHAR) "
    "|| '?utm_source=feed&session=' || CAST(doc_id AS VARCHAR) || '#frag'"
)


@query(
    "q201_url_canonical_dedup",
    oracle=f"""
    WITH u AS (
        SELECT doc_id,
               {_URL_RAW_SQL} AS raw_url,
               lower('https://www.' || source || '.example.com/page/'
                     || CAST(doc_id % 50 AS VARCHAR)) AS canon_url
        FROM documents
    )
    SELECT canon_url, COUNT(*) AS n_aliases,
           MIN(doc_id) AS keeper_doc
    FROM u GROUP BY canon_url
    """,
)
def q201_url_canonical_dedup(spark, sf_dir) -> DataFrame:
    """URL canonicalization + dedup — the crawl front door: lowercase the
    host, strip the fragment and tracking parameters (utm_*, session
    ids), and collapse aliases of the same page to one keeper (min
    doc_id). The URLs are synthesized deterministically since the
    fixture has none; the REGEX canonicalization on the Spark side must
    land on the oracle's constructed canonical form — the check is that
    normalization actually inverts the noise. Scan-stage regex + one
    hash aggregate keyed on 60-byte canonical URLs; at crawl scale the
    groupBy keys on md5(canon_url) digests instead (q102's discipline)."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".example.com/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=feed&session="),
        F.col("doc_id").cast("string"),
        F.lit("#frag"),
    )
    canon = F.lower(
        F.regexp_replace(
            F.regexp_replace(raw, r"#.*$", ""),  # fragment
            r"\?.*$",  # query string (all params here are tracking noise)
            "",
        )
    )
    return (
        d.select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_aliases"),
            F.min("doc_id").alias("keeper_doc"),
        )
    )


_MH_K = 16  # signature components


@query(
    "q202_minhash_merge",
    oracle=f"""
    WITH v AS (
        SELECT DISTINCT source, t AS token
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
    ),
    h AS (
        SELECT v.source, j.j AS j,
               MIN(CAST(('0x' || substring(md5(CAST(j.j AS VARCHAR) || '|'
                                           || v.token), 1, 12)) AS BIGINT))
                   AS sig
        FROM v, UNNEST(generate_series(1, {_MH_K})) AS j(j)
        GROUP BY v.source, j.j
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
           round(CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)
                      AS DOUBLE) / {_MH_K}, 6) AS est_jaccard
    FROM h a JOIN h b ON a.j = b.j AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q202_minhash_merge(spark, sf_dir) -> DataFrame:
    """Mergeable-sketch algebra: per-source MinHash signatures over the
    token vocabulary, compared component-wise to ESTIMATE every source
    pair's vocabulary Jaccard (q186 computes it exactly; the agreement
    is testable). The point is mergeability — MIN is associative and
    commutative, so per-partition, per-day, or per-shard signatures
    merge by elementwise min without revisiting data: the sketch
    property that makes corpus-level similarity maintainable
    incrementally at 100 TB, same family as HLL (q23), CMS (q128), and
    Bloom (q124). The md5 hash family makes every signature component
    engine-exact, so even the ESTIMATE is differentially checked —
    sketch parity, not just bounds. Shuffles carry (source, j, min-hash)
    triples: sources × 16 rows."""
    d = table(spark, sf_dir, "documents")
    v = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    hj = v.select(
        "source",
        F.explode(F.expr(f"sequence(1, {_MH_K})")).alias("j"),
        "token",
    ).select(
        "source",
        "j",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("token"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    sig = hj.groupBy("source", "j").agg(F.min("h").alias("sig"))
    a = sig.select(
        F.col("source").alias("src_a"), "j", F.col("sig").alias("sig_a")
    )
    b = sig.select(
        F.col("source").alias("src_b"), "j", F.col("sig").alias("sig_b")
    )
    return (
        a.join(b, "j")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.when(F.col("sig_a") == F.col("sig_b"), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
            F.round(
                F.sum(
                    F.when(F.col("sig_a") == F.col("sig_b"), 1).otherwise(0)
                ).cast("double")
                / _MH_K,
                6,
            ).alias("est_jaccard"),
        )
    )


# ------------------------------------------------- exact substring spans

# Sliding-gram width (tokens) and the minimal reported span length. A span
# of k consecutive duplicated grams covers k + _SPAN_W - 1 tokens, so the
# _SPAN_W + 2 floor requires >= 3 consecutive shared grams — one colliding
# gram alone is noise on a small vocabulary.
_SPAN_W = 8
_SPAN_MIN = _SPAN_W + 2


@query(
    "q214_substring_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS p,
               md5(array_to_string(list_slice(t, i, i + {_SPAN_W} - 1), ' ')) AS h
        FROM toks, UNNEST(range(1, len(t) - {_SPAN_W} + 2)) AS u(i)
    ),
    freq AS (SELECT h, COUNT(*) AS gf FROM g GROUP BY h),
    sh AS (SELECT g.doc_id, g.p FROM g JOIN freq USING (h) WHERE gf > 1),
    grp AS (
        SELECT doc_id, p,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grpid
        FROM sh
    )
    SELECT doc_id,
           MIN(p) AS span_start,
           MAX(p) - MIN(p) + {_SPAN_W} AS span_len,
           COUNT(*) AS n_grams
    FROM grp GROUP BY doc_id, grpid
    HAVING MAX(p) - MIN(p) + {_SPAN_W} >= {_SPAN_MIN}
    """,
)
def q214_substring_spans(spark, sf_dir) -> DataFrame:
    """Exact duplicated-substring spans (the suffix-array dedup recipe of
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022, re-expressed relationally): slide an 8-token (_SPAN_W) gram window
    over every document, keep grams whose corpus-wide frequency is > 1,
    and merge runs of consecutive duplicated positions into maximal spans
    (gaps-and-islands: position minus row_number is constant within a
    run). Downstream curation CLIPS the reported [span_start, span_len)
    token ranges out of the text rather than dropping whole documents —
    the reference-free twin of q120's fixed-block scoring (overlapping
    grams find spans at ANY alignment; q120's disjoint blocks only
    multiples of the block width).

    Scale shape: grams are hashed to md5 BEFORE the explode leaves the
    scan stage, so the only bytes that ever shuffle are 16-byte digests +
    a position — never text. Global gram frequencies are a map-side-
    combined hash aggregate whose survivors (digests seen > once)
    SEMI-JOIN back onto the gram stream — not the tempting one-shuffle
    COUNT window over the digest, which would buffer a viral
    boilerplate gram's every occurrence in ONE unsplittable window
    partition at 100 TB (the q149 analysis; the aggregate's partials
    merge hierarchically and AQE skew-splits the join probe, so the hot
    gram costs extra tasks, not one giant task). Measured price at
    sf0.1: ~1.3 s → ~1.8 s (the gram stream is built once per consumer
    — subtrees don't share) — accepted, like q149, as the cost of a
    bounded worst case. The per-doc
    gaps-and-islands window partitions are single documents (no global
    sort). Short docs (< _SPAN_W tokens) produce no grams by
    construction. The doc-frequency cap discipline of q63 is
    unnecessary here: a hot gram costs linear rows, not a pairwise
    self-join. Tokens are materialized ONCE as a projected array column
    before the gram lambda — referencing split(text) inside the lambda
    would re-tokenize per gram (no CSE inside higher-order functions).
    Spark's descending-sequence trap is guarded with an explicit
    empty-array branch, matching the oracle's empty range()."""
    from pyspark.sql import Window

    # spread before the gram explode (io.spread, guide §2.5): the
    # single-row-group fixture scan would otherwise tokenize + md5-hash
    # the whole corpus in ONE task — and the gram stream is built twice
    # (frequency pass + probe pass), doubling that serial cost.
    d = table_spread(spark, sf_dir, "documents", "doc_id")
    grams = F.expr(
        f"CASE WHEN size(t) < {_SPAN_W}"
        f" THEN cast(array() AS array<struct<p:int,h:string>>)"
        f" ELSE transform(sequence(1, size(t) - {_SPAN_W} + 1),"
        f" i -> struct(i AS p, md5(concat_ws(' ', slice(t, i, {_SPAN_W}))) AS h)) END"
    )
    g = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", F.col("g.p").cast("long").alias("p"), F.col("g.h").alias("h"))
    )
    dup = (
        g.groupBy("h")
        .agg(F.count("*").alias("gf"))
        .where(F.col("gf") > 1)
        .select("h")
    )
    sh = g.join(dup, "h", "semi").select("doc_id", "p")
    run = F.col("p") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("p")
    )
    return (
        sh.withColumn("grpid", run)
        .groupBy("doc_id", "grpid")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") - F.min("p") + F.lit(_SPAN_W)).alias("span_len"),
            F.count("*").alias("n_grams"),
        )
        .where(F.col("span_len") >= _SPAN_MIN)
        .select("doc_id", "span_start", "span_len", "n_grams")
    )


@query(
    "q287_dedup_eval",
    oracle=f"""
    WITH {_SH_CTE},
    dfc AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_MAX_SHINGLE_DF}),
    rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s)),
    cand_e AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    exact AS (
        SELECT c0.doc_a, c0.doc_b FROM cand_e c0
        JOIN inter i ON i.da = c0.doc_a AND i.db = c0.doc_b
        JOIN sz x ON x.doc_id = c0.doc_a
        JOIN sz y ON y.doc_id = c0.doc_b
        WHERE round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6)
              >= {_JACCARD_TAU}
    ),
    sig AS (SELECT doc_id, {_SIG_MIN_COLS}
            FROM (SELECT doc_id, {_SIG_AB_DUCK} FROM sh) GROUP BY doc_id),
    bands AS (
        SELECT doc_id, 1 AS band, {_BAND_KEY_DUCK[0]} AS key FROM sig
        UNION ALL SELECT doc_id, 2, {_BAND_KEY_DUCK[1]} FROM sig
        UNION ALL SELECT doc_id, 3, {_BAND_KEY_DUCK[2]} FROM sig
        UNION ALL SELECT doc_id, 4, {_BAND_KEY_DUCK[3]} FROM sig
    ),
    big AS (
        SELECT band, key FROM bands
        GROUP BY band, key HAVING COUNT(*) > {_MAX_BAND_BUCKET}
    ),
    safe AS (
        SELECT b.* FROM bands b
        WHERE NOT EXISTS (
            SELECT 1 FROM big g WHERE g.band = b.band AND g.key = b.key
        )
    ),
    cand_l AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM safe a JOIN safe b ON a.band = b.band AND a.key = b.key
                                AND a.doc_id < b.doc_id
    ),
    lsh AS (
        SELECT c0.doc_a, c0.doc_b FROM cand_l c0
        JOIN inter i ON i.da = c0.doc_a AND i.db = c0.doc_b
        JOIN sz x ON x.doc_id = c0.doc_a
        JOIN sz y ON y.doc_id = c0.doc_b
        WHERE round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6)
              >= {_JACCARD_TAU}
    ),
    m AS (
        SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
               (SELECT COUNT(*) FROM lsh) AS n_lsh,
               (SELECT COUNT(*) FROM exact e
                JOIN lsh l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
                   AS tp
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_lsh AS BIGINT) AS n_lsh,
           CAST(tp AS BIGINT) AS tp,
           CASE WHEN n_lsh = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / n_lsh, 6) END AS precision,
           CASE WHEN n_exact = 0 THEN NULL
                ELSE round(CAST(tp AS DOUBLE) / n_exact, 6) END AS recall
    FROM m
    """,
)
def q287_dedup_eval(spark, sf_dir) -> DataFrame:
    """Dedup pipeline META-EVALUATION in-engine: precision/recall of the
    MinHash-LSH detector (q71) against the exact-Jaccard truth set
    (q63), as one row of metrics — the drift monitor a production
    pipeline runs when it changes banding parameters, bucket caps, or
    shingle width (a silent recall regression here is silently
    duplicated training data downstream). Both pair sets are the
    ALREADY-ORACLED queries reused verbatim; the metric layer is two
    tiny joins and one 1-row aggregate, and the composed oracle replays
    both detectors end-to-end. Note the asymmetry this measures: both
    sides exact-verify at τ, but their CANDIDATE generators differ
    (df-capped shingle join vs banded signatures + bucket cap), so
    precision < 1 is possible when banding surfaces a pair whose every
    shared shingle was df-pruned — exactly the blind-spot interaction
    worth monitoring."""
    exact = q63_dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    lsh = q71_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    ex_n = exact.agg(F.count("*").alias("n_exact"))
    lsh_n = lsh.agg(F.count("*").alias("n_lsh"))
    tp_n = exact.join(lsh, ["doc_a", "doc_b"]).agg(F.count("*").alias("tp"))
    return (
        ex_n.crossJoin(lsh_n)
        .crossJoin(tp_n)
        .select(
            "n_exact",
            "n_lsh",
            "tp",
            # no pairs at all (empty corpus / a shard with no dups):
            # precision/recall are UNDEFINED — NULL on both engines,
            # never an ANSI zero-division abort (empty-input walk)
            F.when(F.col("n_lsh") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(F.col("tp").cast("double") / F.col("n_lsh"), 6)
            )
            .alias("precision"),
            F.when(F.col("n_exact") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(F.col("tp").cast("double") / F.col("n_exact"), 6)
            )
            .alias("recall"),
        )
    )


@query(
    "q289_minhash_estimate",
    oracle=f"""
    WITH {_SH_CTE},
    dfc AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_MAX_SHINGLE_DF}),
    rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c0.doc_a AS da, c0.doc_b AS db, COUNT(*) AS c
        FROM cand c0
        JOIN sh a ON a.doc_id = c0.doc_a
        JOIN sh b ON b.doc_id = c0.doc_b AND b.s = a.s
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    sig AS (SELECT doc_id, {_SIG_MIN_COLS}
            FROM (SELECT doc_id, {_SIG_AB_DUCK} FROM sh) GROUP BY doc_id),
    agree AS (
        SELECT c.doc_a, c.doc_b,
               (CASE WHEN x.h1 = y.h1 THEN 1 ELSE 0 END
              + CASE WHEN x.h2 = y.h2 THEN 1 ELSE 0 END
              + CASE WHEN x.h3 = y.h3 THEN 1 ELSE 0 END
              + CASE WHEN x.h4 = y.h4 THEN 1 ELSE 0 END
              + CASE WHEN x.h5 = y.h5 THEN 1 ELSE 0 END
              + CASE WHEN x.h6 = y.h6 THEN 1 ELSE 0 END
              + CASE WHEN x.h7 = y.h7 THEN 1 ELSE 0 END
              + CASE WHEN x.h8 = y.h8 THEN 1 ELSE 0 END) AS k
        FROM cand c JOIN sig x ON x.doc_id = c.doc_a
                    JOIN sig y ON y.doc_id = c.doc_b
    )
    SELECT a.doc_a, a.doc_b,
           round(CAST(a.k AS DOUBLE) / 8, 6) AS j_est,
           round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6) AS j_exact,
           round(abs(CAST(a.k AS DOUBLE) / 8
                 - CAST(i.c AS DOUBLE) / (x.n + y.n - i.c)), 6) AS abs_err
    FROM agree a
    JOIN inter i ON i.da = a.doc_a AND i.db = a.doc_b
    JOIN sz x ON x.doc_id = a.doc_a
    JOIN sz y ON y.doc_id = a.doc_b
    WHERE round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6) >= 0.2
    """,
)
def q289_minhash_estimate(spark, sf_dir) -> DataFrame:
    """MinHash as a Jaccard ESTIMATOR, accuracy measured in-engine: for
    every candidate pair with exact Jaccard >= 0.2, the signature
    agreement fraction k/8 (the textbook unbiased estimate — each
    hash's minimum agrees with probability J) lands beside the exact
    value and the absolute error. This is the calibration table behind
    q71's banding math (P[band collision] = J^rows_per_band) — run it
    before changing signature width to see the estimator variance you
    are buying. Because the hash family is md5 on both engines (the
    repo's engine-portable-hashing discipline), the 'estimate' is
    DETERMINISTIC and the oracle checks it exactly — sketch accuracy
    as checkable data, the q23/q245 pattern. Plan: signature build is
    one groupBy over shingles; pairs join two 8-column signature rows;
    nothing quadratic (candidates come from the df-capped join)."""
    sh = shingles(spark, sf_dir)
    pairs = jaccard_pairs(sh, tau=0.2)  # df-capped candidates, exact scores
    sh.createOrReplaceTempView("sh_q289")
    sig = spark.sql(
        f"SELECT doc_id, {_SIG_MIN_COLS} "
        f"FROM (SELECT doc_id, {_SIG_AB_SPARK} FROM sh_q289) "
        "GROUP BY doc_id"
    )
    x = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{j}").alias(f"xa{j}") for j in range(1, 9)],
    )
    y = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{j}").alias(f"yb{j}") for j in range(1, 9)],
    )
    k = sum(
        F.when(F.col(f"xa{j}") == F.col(f"yb{j}"), 1).otherwise(0)
        for j in range(1, 9)
    )
    return (
        pairs.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(k.cast("double") / 8, 6).alias("j_est"),
            F.col("jaccard").alias("j_exact"),
            F.round(
                F.abs(k.cast("double") / 8 - F.col("jaccard")), 6
            ).alias("abs_err"),
        )
    )


@query(
    "q292_banding_curve",
    oracle=f"""
    WITH {_SH_CTE},
    dfc AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_MAX_SHINGLE_DF}),
    rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c0.doc_a AS da, c0.doc_b AS db, COUNT(*) AS c
        FROM cand c0
        JOIN sh a ON a.doc_id = c0.doc_a
        JOIN sh b ON b.doc_id = c0.doc_b AND b.s = a.s
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    sig AS (SELECT doc_id, {_SIG_MIN_COLS}
            FROM (SELECT doc_id, {_SIG_AB_DUCK} FROM sh) GROUP BY doc_id),
    pairs AS (
        SELECT c.doc_a, c.doc_b,
               round(CAST(i.c AS DOUBLE) / (x.n + y.n - i.c), 6) AS j,
               (CASE WHEN p.h1 = q.h1 AND p.h2 = q.h2 THEN 1 ELSE 0 END
              + CASE WHEN p.h3 = q.h3 AND p.h4 = q.h4 THEN 1 ELSE 0 END
              + CASE WHEN p.h5 = q.h5 AND p.h6 = q.h6 THEN 1 ELSE 0 END
              + CASE WHEN p.h7 = q.h7 AND p.h8 = q.h8 THEN 1 ELSE 0 END)
                   AS bands_hit
        FROM cand c
        JOIN inter i ON i.da = c.doc_a AND i.db = c.doc_b
        JOIN sz x ON x.doc_id = c.doc_a
        JOIN sz y ON y.doc_id = c.doc_b
        JOIN sig p ON p.doc_id = c.doc_a
        JOIN sig q ON q.doc_id = c.doc_b
    )
    SELECT CAST(floor(j * 10) AS INTEGER) AS j_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CASE WHEN bands_hit > 0 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS emp_collision_rate,
           round(CAST(SUM(CAST(1 - pow(1 - j * j, 4)
                 AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
               AS theory_collision_rate
    FROM pairs GROUP BY 1
    """,
)
def q292_banding_curve(spark, sf_dir) -> DataFrame:
    """The LSH S-CURVE, measured against theory in-engine: for b=4
    bands of r=2 rows, textbook banding collides a pair with
    probability 1 − (1 − J^r)^b — the curve that justifies every
    banding parameter choice. Per exact-Jaccard decile of the candidate
    pairs, this emits the EMPIRICAL fraction of pairs sharing at least
    one band key beside the MEAN THEORETICAL probability — the
    calibration a pipeline checks before trusting q71's recall at a new
    tau (and the continuation of q289's per-hash calibration up to the
    band level). Determinism discipline: the md5 hash family makes the
    empirical side reproducible and exactly oracle-checkable, and the
    theoretical mean folds in DECIMAL so decile averages are
    order-independent. Plan: the q63 candidate set joins two 8-column
    signature rows, then one decile rollup — nothing quadratic, nothing
    driver-side."""
    sh = shingles(spark, sf_dir)
    pairs = jaccard_pairs(sh, tau=0.0)  # all candidates with exact j
    sh.createOrReplaceTempView("sh_q292")
    sig = spark.sql(
        f"SELECT doc_id, {_SIG_MIN_COLS} "
        f"FROM (SELECT doc_id, {_SIG_AB_SPARK} FROM sh_q292) "
        "GROUP BY doc_id"
    )
    p = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{j}").alias(f"pa{j}") for j in range(1, 9)],
    )
    qq = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{j}").alias(f"qb{j}") for j in range(1, 9)],
    )
    bands_hit = sum(
        F.when(
            (F.col(f"pa{2 * i - 1}") == F.col(f"qb{2 * i - 1}"))
            & (F.col(f"pa{2 * i}") == F.col(f"qb{2 * i}")),
            1,
        ).otherwise(0)
        for i in range(1, 5)
    )
    j = F.col("jaccard")
    joined = (
        pairs.join(p, "doc_a")
        .join(qq, "doc_b")
        .select(
            F.floor(j * 10).cast("int").alias("j_decile"),
            (bands_hit > 0).cast("int").alias("collided"),
            (1 - F.pow(1 - j * j, 4)).alias("theory"),
        )
    )
    return joined.groupBy("j_decile").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            F.sum("collided").cast("double") / F.count("*"), 6
        ).alias("emp_collision_rate"),
        F.round(
            F.sum(F.col("theory").cast("decimal(28,12)")).cast("double")
            / F.count("*"),
            6,
        ).alias("theory_collision_rate"),
    )


# ----------------------- char-n-gram Jaccard (q314): the CJK-ready path

_CHAR_N = 8  # character n-gram width (whitespace-free shingling)

# Char 8-grams per doc (set semantics), on the SCRIPT-AUGMENTED text the
# q288 discipline synthesizes — so the operator is exercised on content
# where word splitting would genuinely fail (CJK has no spaces).
_CHAR_SH_CTE = f"""
aug AS (
    SELECT doc_id,
           substr(text, 1, 48) ||
           CASE lang WHEN 'zh' THEN '数据处理引擎数据处理引擎流水线'
                ELSE ' ' || lang || ' tail words here' END AS t
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, substr(t, i, {_CHAR_N}) AS s
    FROM aug, UNNEST(generate_series(1, length(t) - {_CHAR_N - 1})) AS u(i)
)
"""


@query(
    "q314_char_ngram_jaccard",
    oracle=f"WITH {_CHAR_SH_CTE},\n{_JACCARD_TAIL}",
)
def q314_char_ngram_jaccard(spark, sf_dir) -> DataFrame:
    """Near-duplicate pairs by CHARACTER-n-gram Jaccard — the
    whitespace-free shingling CJK and code corpora require (word
    shingles, q63, silently degenerate when there are no word
    boundaries: an unsegmented Chinese document is ONE token). Each doc
    contributes its distinct 8-char windows over script-augmented text
    (the q288 synthesis, so Chinese-labeled docs actually carry CJK
    characters and the operator is exercised where it matters), and the
    ENTIRE downstream machinery is q63's, reused verbatim via
    jaccard_pairs: df-capped candidate generation, broadcast hot-set
    completion, exact Jaccard over full sets. That reuse is the design
    point — shingling strategy is a pluggable first stage, scale
    controls and verification are shared. Unicode note: substr counts
    CHARACTERS on both engines, so multi-byte CJK windows align."""
    d = table(spark, sf_dir, "documents")
    tail = F.when(
        F.col("lang") == "zh",
        F.lit("数据处理引擎数据处理引擎流水线"),
    ).otherwise(F.concat(F.lit(" "), F.col("lang"), F.lit(" tail words here")))
    aug = d.select(
        "doc_id",
        F.concat(F.substring("text", 1, 48), tail).alias("t"),
    )
    n = _CHAR_N
    sh = aug.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN length(t) < {n} THEN cast(array() AS array<string>)"
                f" ELSE transform(sequence(1, length(t) - {n - 1}),"
                f" i -> substring(t, i, {n})) END"
            )
        ).alias("s"),
    ).distinct()
    return jaccard_pairs(sh)
