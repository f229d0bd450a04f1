"""Training-data preparation operators beyond dedup/similarity — RAG
chunking, n-gram decontamination, vocabulary induction, and the
mutual-kNN graph that SemDeDup-style semantic dedup builds on.

All batch shapes here are scan-stage array expressions plus at most one
keyed aggregation — the chunker and gram generators are per-row
`transform`/`slice` lambdas that run inside whole-stage codegen, so at
100 TB they cost one pass over the corpus with zero extra shuffles
before the (optional) aggregate.

Reference parity: the reference pipeline (mercadolibre_pipeline_dag.py)
has no LLM surface; these extend SURVEY.md §2.13's training-data family
(q62-q78, q114-q137) with the remaining curation steps a pretraining
corpus pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import dot_sql
from ..io import table, table_spread
from ..registry import query

_CHUNK_W = 64   # tokens per RAG chunk
_CHUNK_S = 48   # chunk stride (25% overlap)
_GRAM_N = 5     # decontamination n-gram width
_EVAL_MAX = 20  # doc_id < 20 stands in for the held-out eval set (q115's convention)
_CONTAM_TAU = 0.2
_VOCAB_TOP = 50
_KNN_K = 5
_KNN_TAU = 0.30  # radius bound — same threshold family as q65


@query(
    "q138_doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, greatest(len(toks) - 1, 0), {_CHUNK_S})) AS start
        FROM t
    )
    SELECT doc_id,
           start // {_CHUNK_S} AS chunk_id,
           array_to_string(list_slice(toks, start + 1, start + {_CHUNK_W}), ' ') AS chunk_text,
           CAST(len(list_slice(toks, start + 1, start + {_CHUNK_W})) AS BIGINT) AS n_chunk_toks
    FROM s
    """,
)
def q138_doc_chunking(spark, sf_dir) -> DataFrame:
    """Overlapping token-window chunking (RAG/embedding prep): every doc
    becomes ceil(n_toks/stride) chunks of ≤ 64 tokens with 16-token
    overlap. Pure scan-stage work — `sequence` generates the chunk starts
    per row and `slice` materializes each window, all inside codegen; no
    shuffle, no UDF, and chunk count scales with the doc, not the corpus.
    At 100 TB this runs as the projection of the corpus scan and writes
    straight back out partitioned however the index wants it."""
    return chunk_docs(table(spark, sf_dir, "documents"))


def chunk_docs(docs: DataFrame) -> DataFrame:
    """q138's chunker kernel over ANY documents-shaped relation
    (doc_id, text) — factored so the streaming ingest path (q362) can
    chunk one micro-batch with exactly the corpus chunker (same
    constants, same slice arithmetic), keeping the incrementally built
    index token-identical to a from-scratch q138 pass."""
    d = docs.select("doc_id", F.split("text", " ").alias("toks"))
    return (
        d.select(
            "doc_id",
            "toks",
            F.posexplode(
                F.expr(f"sequence(0, greatest(size(toks) - 1, 0), {_CHUNK_S})")
            ).alias("chunk_id", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.array_join(
                F.expr(f"slice(toks, start + 1, {_CHUNK_W})"), " "
            ).alias("chunk_text"),
            F.size(F.expr(f"slice(toks, start + 1, {_CHUNK_W})"))
            .cast("long")
            .alias("n_chunk_toks"),
        )
    )


@query(
    "q139_scd2_history",
    oracle="""
    WITH runs AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
        SELECT user_id, event_type, ts AS valid_from, event_id
        FROM runs WHERE is_start = 1
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current
    FROM starts
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
)
def q139_scd2_history(spark, sf_dir) -> DataFrame:
    """SCD type-2 historization: collapse each user's event stream into
    validity intervals of its tracked attribute (event_type) — a run
    starts where the attribute differs from its predecessor; valid_to is
    the next run's valid_from; the open interval is current.

    Two windows over the SAME partitioning key (user_id), so Spark plans
    ONE shuffle and both window operators run on the co-partitioned sort
    — the classic CDC-to-dimension compaction, fully distributed (no
    per-entity driver loop). Ties on ts break by event_id, so the history
    is deterministic under cross-engine nanosecond truncation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    e = table(spark, sf_dir, "events")
    starts = (
        e.withColumn(
            "is_start",
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
        )
        .filter("is_start")
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    return starts.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


_GRAMS_DUCK = (
    f"list_distinct(list_transform(generate_series(1, len(toks) - {_GRAM_N - 1}),"
    f" i -> array_to_string(list_slice(toks, i, i + {_GRAM_N - 1}), ' ')))"
)
# Spark's sequence() rejects descending bounds with a positive step, so the
# short-doc case needs an explicit guard (DuckDB's generate_series returns
# an empty list there).
_GRAMS_SPARK = (
    f"CASE WHEN size(toks) >= {_GRAM_N} THEN array_distinct("
    f"  transform(sequence(1, size(toks) - {_GRAM_N - 1}),"
    f"    i -> concat_ws(' ', slice(toks, i, {_GRAM_N}))))"
    f" ELSE array() END"
)


@query(
    "q140_ngram_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id, unnest({_GRAMS_DUCK}) AS gram FROM t),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < {_EVAL_MAX}),
    c AS (
        SELECT g.doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM g LEFT JOIN ev USING (gram)
        WHERE g.doc_id >= {_EVAL_MAX} GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(c.n_grams, 0) AS n_grams,
           CAST(COALESCE(c.n_hit, 0) AS BIGINT) AS n_hit,
           round(CASE WHEN COALESCE(c.n_grams, 0) > 0
                      THEN COALESCE(c.n_hit, 0) / c.n_grams ELSE 0.0 END, 6) AS overlap_frac,
           CASE WHEN COALESCE(c.n_grams, 0) > 0
                THEN COALESCE(c.n_hit, 0) / c.n_grams ELSE 0.0 END
               >= {_CONTAM_TAU} AS contaminated
    FROM documents d LEFT JOIN c USING (doc_id)
    WHERE d.doc_id >= {_EVAL_MAX}
    """,
)
def q140_ngram_decontaminate(spark, sf_dir) -> DataFrame:
    """N-gram-overlap decontamination (the GPT-3/PaLM recipe): a training
    doc is contaminated when the fraction of its distinct 5-grams that
    also appear in the held-out eval set exceeds τ. Stricter than q124's
    Bloom membership (graded overlap, not any-hit) and exact where q115's
    shingle screen is thresholded.

    Scale shape: the eval side is distinct 5-grams of a BOUNDED benchmark
    set — it broadcasts by construction, so the corpus-side gram stream
    joins map-side and the only shuffle is the per-doc count aggregate.
    Short docs (< 5 tokens) surface with n_grams = 0, not silently
    dropped — a curation gate must emit a verdict for every doc."""
    # spread before the 5-gram explode (io.spread, guide §2.5): the gram
    # stream is built twice (eval-distinct side + probe side) and the
    # single-row-group fixture scan would run both builds in one task.
    d = table_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    grams = d.select("doc_id", F.explode(F.expr(_GRAMS_SPARK)).alias("gram"))
    ev = (
        grams.filter(F.col("doc_id") < _EVAL_MAX)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    counts = (
        grams.filter(F.col("doc_id") >= _EVAL_MAX)
        .join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"))
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_hit") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        d.filter(F.col("doc_id") >= _EVAL_MAX)
        .select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            F.round(frac, 6).alias("overlap_frac"),
            (frac >= _CONTAM_TAU).alias("contaminated"),
        )
    )


@query(
    "q141_bigram_vocab",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    p AS (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS pair
        FROM t
    )
    SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
    ORDER BY n DESC, pair LIMIT {_VOCAB_TOP}
    """,
)
def q141_bigram_vocab(spark, sf_dir) -> DataFrame:
    """Vocabulary induction, BPE step 1: count adjacent token pairs across
    the corpus and keep the top merges. Pair generation is a per-row
    `transform` over the token array (codegen, no self-join on position —
    the naive explode-then-join-on-pos+1 shape would shuffle the whole
    token stream twice); the count is one two-phase hash aggregate and the
    top-k is TakeOrderedAndProject, so nothing but (pair, count) rows ever
    shuffle. A full BPE trainer iterates this with the merge applied —
    each iteration is this same one-aggregate pass."""
    d = table(spark, sf_dir, "documents").select(F.split("text", " ").alias("toks"))
    pairs = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN transform("
                "  sequence(1, size(toks) - 1),"
                "  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                " ELSE array() END"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_VOCAB_TOP)
    )


@query(
    "q142_knn_graph",
    oracle=f"""
    WITH sims AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               {dot_sql('a.embedding', 'b.embedding')} AS s
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    edges AS (
        SELECT src, dst, s FROM (
            SELECT src, dst, s,
                   row_number() OVER (PARTITION BY src ORDER BY s DESC, dst) AS rn
            FROM sims WHERE round(s, 6) >= {_KNN_TAU}
        ) WHERE rn <= {_KNN_K}
    )
    SELECT e.src, e.dst, round(e.s, 6) AS sim,
           (m.src IS NOT NULL) AS is_mutual
    FROM edges e LEFT JOIN edges m ON m.src = e.dst AND m.dst = e.src
    """,
)
def q142_knn_graph(spark, sf_dir) -> DataFrame:
    """Radius-bounded mutual-kNN graph over the embedding corpus — the
    structure SemDeDup (q129), diversity filtering, and graph clustering
    consume: for every vector, its top-k neighbors above similarity τ,
    with mutuality marked (mutual edges are the high-precision ones).

    τ bounds the candidate set so the graph is buildable at scale: phase 1
    reuses q65's block-grid GEMM kernel (executor-side numpy over block
    pairs, τ−ε guard — candidates grow with the τ-ball, never n²), phase 2
    re-scores candidates with the bit-exact JVM fold and ranks per source
    with one window. The mutuality check is a self-join of the EDGE list
    (n·k rows, tiny vs the corpus). At 100 TB the GEMM phase swaps in the
    IVF cell restriction (q72) — same downstream graph shape."""
    from ..functions import dot
    from .similarity import grid_gemm_candidates

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = grid_gemm_candidates(em, _KNN_TAU)
    # both directions: the grid emits each unordered pair once
    cand = cand.union(
        cand.select(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"))
    )
    a = em.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = em.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    w = Window.partitionBy("src").orderBy(F.desc("s"), F.asc("dst"))
    edges = (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            F.col("vec_a").alias("src"),
            F.col("vec_b").alias("dst"),
            dot(F.col("emb_a"), F.col("emb_b")).alias("s"),
        )
        .filter(F.round("s", 6) >= _KNN_TAU)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("src", "dst", "s")
    )
    e, m = edges.alias("e"), edges.alias("m")
    return e.join(
        m,
        (F.col("m.src") == F.col("e.dst")) & (F.col("m.dst") == F.col("e.src")),
        "left",
    ).select(
        F.col("e.src").alias("src"),
        F.col("e.dst").alias("dst"),
        F.round("e.s", 6).alias("sim"),
        F.col("m.src").isNotNull().alias("is_mutual"),
    )


_PCA_ITERS = 3
_PCA_DEC = "DECIMAL(38,20)"


def _pca_iter_duck(k: int, prev_v: str) -> str:
    from ..functions import dot_sql

    return f"""
    s{k} AS (SELECT e.vec_id, e.embedding,
                    {dot_sql('e.embedding', 'pv.v')} AS s
             FROM e CROSS JOIN {prev_v} pv),
    u{k} AS (SELECT t.j AS j,
                    CAST(SUM(CAST(s.s * CAST(s.embedding[t.j] AS DOUBLE)
                                  AS {_PCA_DEC})) AS DOUBLE) AS u
             FROM s{k} s, UNNEST(generate_series(1, len(s.embedding))) AS t(j)
             GROUP BY t.j),
    n{k} AS (SELECT sqrt(CAST(SUM(CAST(u * u AS {_PCA_DEC})) AS DOUBLE))
                    AS nrm FROM u{k}),
    v{k} AS (SELECT list(u.u / n.nrm ORDER BY u.j) AS v
             FROM u{k} u CROSS JOIN n{k} n)"""


@query(
    "q162_pca_power",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    dim AS (SELECT MAX(len(embedding)) AS d FROM e),
    v0 AS (SELECT list_transform(generate_series(1, d),
                                 i -> 1.0 / sqrt(CAST(d AS DOUBLE))) AS v
           FROM dim),
    {','.join(_pca_iter_duck(k, f'v{k - 1}') for k in range(1, _PCA_ITERS + 1))}
    SELECT t.j AS j, round(v.v[t.j], 9) AS loading,
           round(n{_PCA_ITERS}.nrm, 6) AS eigenvalue
    FROM v{_PCA_ITERS} v CROSS JOIN n{_PCA_ITERS},
         UNNEST(generate_series(1, len(v.v))) AS t(j)
    """,
)
def q162_pca_power(spark, sf_dir) -> DataFrame:
    """Top principal component of the embedding corpus by power iteration
    (3 fixed iterations from the deterministic uniform start) —
    the whitening/centering primitive an embedding pipeline runs before
    quantization (q121) or IVF cell training (q72). Like q156's TextRank,
    an ITERATIVE linear-algebra algorithm with an exact differential
    oracle: the oracle unrolls the same iterations as CTEs; every
    dimension's fan-in sum and both norms route through decimal(38,20),
    so partition order cannot move a bit, and the fixed start vector
    fixes the eigenvector sign.

    Scale shape per iteration: one broadcast of the (dim-sized) v vector,
    one pass over the materialized corpus computing scores s_i = x_i·v
    JVM-side, one posexplode + 64-key aggregate for u = Σ s_i·x_i — the
    corpus never shuffles, only (dim, partial-sum) rows do. The
    eigenvalue estimate is ‖u‖ of the last iteration. Nothing touches
    the driver; v re-enters the plan as a 1-row cross join, not a
    collect.

    Iteration discipline (r14, guide §5): the per-step iterate `red`
    (ONE row: sorted loadings + ‖u‖) is localCheckpoint'ed each
    iteration, so iteration k's plan starts from k-1's materialized
    result instead of embedding the whole prior lineage in its
    broadcast side (the r13 unrolled shape re-planned and re-evaluated
    every earlier iteration per step — exchange reuse is runtime-lucky
    under AQE, not guaranteed). The projected corpus is
    localCheckpoint'ed ONCE and re-read by all 3 passes —
    the standard persist-the-input discipline of iterative ML (MLlib
    does exactly this), paid fresh inside every invocation, never
    shared across runs. localCheckpoint (executor-local, not
    fault-tolerant) is the deliberate choice: the iterate is one row
    and the corpus copy is reconstructible by re-running the query.
    Measured (plans/r14/EXP_iterative.md): 1.5-1.6 s unrolled →
    1.3-1.5 s checkpointed at sf0.1, and the final plan drops from 4
    parquet scans (one per unrolled level) to zero — prior-iteration
    subtrees no longer appear downstream."""
    from ..functions import dot

    from ..io import spread

    # spread the corpus scan (io.spread, guide §2.5): the single-row-
    # group embeddings fixture materializes as ONE task — and the
    # checkpointed blocks inherit that width, so every iteration's dot
    # products and 64-way posexplode would run serially ×{_PCA_ITERS}.
    # spread fans the materialization to core width once; on any
    # healthy layout it is a no-op. Re-measured under the checkpointed
    # respell (VERDICT r13 #2, steal-free A/B in
    # plans/r14/EXP_iterative.md): spread 1.33-1.66 s vs no-spread
    # 1.23-1.49 s at the 2k-row fixture — the ~0.1 s is one exchange +
    # 32-task scheduling against trivially small per-task work, kept
    # anyway because the guard exists for exactly this degenerate
    # layout at real scale (single-task iterations over a 100 TB
    # corpus), where the one bounded exchange is noise. Projection
    # first so neither the exchange nor the checkpoint carries the
    # unused label column. All downstream sums are decimal-exact, so
    # partition assignment cannot move a bit.
    em = spread(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        f"{sf_dir}/embeddings.parquet",
        "vec_id",
    ).localCheckpoint(eager=True)
    dim = em.agg(F.max(F.size("embedding")).alias("d"))
    v = dim.select(
        F.expr(
            "transform(sequence(1, d), i -> 1.0 / sqrt(CAST(d AS DOUBLE)))"
        ).alias("v")
    )
    red = None
    for _ in range(_PCA_ITERS):
        s = em.crossJoin(F.broadcast(v)).select(
            "embedding", dot(F.col("embedding"), F.col("v")).alias("s")
        )
        terms = s.select(
            "s", F.posexplode("embedding").alias("pos", "x")
        ).select(
            (F.col("pos") + 1).alias("j"),
            (F.col("s") * F.col("x").cast("double")).alias("t"),
        )
        u = terms.groupBy("j").agg(
            F.sum(F.col("t").cast(_PCA_DEC)).cast("double").alias("u")
        )
        red = u.agg(
            F.array_sort(F.collect_list(F.struct("j", "u"))).alias("a"),
            F.sqrt(
                F.sum((F.col("u") * F.col("u")).cast(_PCA_DEC)).cast("double")
            ).alias("nrm"),
        ).localCheckpoint(eager=True)  # cut the per-step lineage (1 row)
        v = red.select(F.expr("transform(a, st -> st.u / nrm)").alias("v"))
    return (
        red.select(
            F.posexplode(F.expr("transform(a, st -> st.u / nrm)")).alias(
                "pos", "x"
            ),
            "nrm",
        ).select(
            (F.col("pos") + 1).alias("j"),
            F.round("x", 9).alias("loading"),
            F.round("nrm", 6).alias("eigenvalue"),
        )
    )


# MLM masking: token at (doc_id, pos) is masked when its md5-derived
# uniform (first 8 hex = 32 bits) falls under _MLM_RATE
_MLM_RATE_NUM, _MLM_RATE_DEN = 15, 100  # 15%
_MLM_THRESH = (2**32) * _MLM_RATE_NUM // _MLM_RATE_DEN  # exact integer gate
_MLM_U_DUCK = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' "
    "|| CAST(i AS VARCHAR) || '|mlm1'), 1, 8)) AS BIGINT)"
)


@query(
    "q165_mlm_mask",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    m AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, len(toks)),
                   i -> CASE WHEN {_MLM_U_DUCK} < {_MLM_THRESH}
                             THEN '[MASK]' ELSE toks[i] END) AS masked,
               len(toks) AS n_tok,
               len(list_filter(generate_series(1, len(toks)),
                               i -> {_MLM_U_DUCK} < {_MLM_THRESH})) AS n_masked
        FROM t
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_masked AS BIGINT) AS n_masked,
           array_to_string(masked, ' ') AS masked_text
    FROM m
    """,
)
def q165_mlm_mask(spark, sf_dir) -> DataFrame:
    """MLM training-data preparation (BERT-style): each token position
    draws a deterministic md5 uniform and is replaced by [MASK] at 15% —
    rerun-stable (same doc ⇒ same masks, the property that makes
    validation losses comparable across runs) and engine-exact because
    the gate is an INTEGER threshold on 32 hash bits, never a float
    compare. Pure scan-stage array transform: zero shuffle, zero UDF —
    at 100 TB this is a projection fused into the corpus scan, like
    q119/q132/q135."""
    mask_u = (
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        "CAST(i AS STRING), '|mlm1')), 1, 8), 16, 10) AS BIGINT)"
    )
    # spread before the per-token md5 transforms (io.spread, guide §2.5):
    # the single-row-group fixture scan would evaluate two md5 calls per
    # token position for the whole corpus in ONE task.
    d = table_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tok"),
        F.expr(
            f"size(filter(sequence(1, size(toks)),"
            f" i -> {mask_u} < {_MLM_THRESH}))"
        )
        .cast("long")
        .alias("n_masked"),
        F.array_join(
            F.expr(
                f"transform(sequence(1, size(toks)),"
                f" i -> CASE WHEN {mask_u} < {_MLM_THRESH}"
                f" THEN '[MASK]' ELSE element_at(toks, i) END)"
            ),
            " ",
        ).alias("masked_text"),
    )


_LB_WIDTH = 32  # tokens per length bucket


@query(
    "q166_length_buckets",
    oracle=f"""
    WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents)
    SELECT n_tok // {_LB_WIDTH} AS bucket,
           COUNT(*) AS n_docs,
           MAX(n_tok) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS sum_len,
           CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad_waste,
           round(CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS DOUBLE)
                 / (COUNT(*) * MAX(n_tok)), 6) AS waste_frac
    FROM t GROUP BY bucket
    """,
)
def q166_length_buckets(spark, sf_dir) -> DataFrame:
    """Length-bucketed batching audit: group docs into token-length
    buckets and measure the padding waste of batching each bucket to its
    max length — the quantity that decides training/inference batch
    geometry (uniform batching pads everything to the global max; small
    buckets trade scheduling slots for pad FLOPs). Scan-stage length
    projection + one tiny aggregate keyed by ≤ max_len/32
    buckets; integer arithmetic throughout."""
    d = table(spark, sf_dir, "documents").select(
        n_tok_col_long().alias("n_tok")
    )
    b = d.select(
        (F.col("n_tok") / _LB_WIDTH).cast("long").alias("bucket"), "n_tok"
    )
    waste = F.col("n_docs") * F.col("max_len") - F.col("sum_len")
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tok").alias("max_len"),
            F.sum("n_tok").cast("long").alias("sum_len"),
        )
        .select(
            "bucket",
            "n_docs",
            "max_len",
            "sum_len",
            waste.cast("long").alias("pad_waste"),
            F.round(
                waste.cast("double") / (F.col("n_docs") * F.col("max_len")), 6
            ).alias("waste_frac"),
        )
    )


def n_tok_col_long():
    from pyspark.sql import functions as _F

    return _F.size(_F.split("text", " ")).cast("long")


@query(
    "q169_map_in_arrow",
    oracle="""
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q169_map_in_arrow(spark, sf_dir) -> DataFrame:
    """mapInArrow: the zero-copy Arrow-native batch API — one level below
    mapInPandas (no pandas materialization, columnar kernels straight on
    the RecordBatch). Token counting via pyarrow.compute.count_substring
    is exactly len(split(' ')) but demonstrates the surface a native
    extension (tokenizers, image codecs) plugs into: the batch arrives
    as Arrow, compute stays vectorized C++, and nothing converts to
    Python objects. For pure arithmetic the built-in expressions (q75)
    remain the right path — this is the API for work Spark expressions
    CANNOT express; the fixture keeps it verifiable."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_tokens(batches):
        for b in batches:
            n_tok = pc.add(
                pc.count_substring(b.column("text"), pattern=" "), 1
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    n_tok.cast(pa.int64()),
                    b.column("n_chars"),
                ],
                names=["doc_id", "n_tok", "n_chars"],
            )

    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    return d.mapInArrow(count_tokens, "doc_id long, n_tok long, n_chars long")


@query(
    "q239_triangle_count",
    oracle=f"""
    WITH sims AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               {dot_sql('a.embedding', 'b.embedding')} AS s
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    edges AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src ORDER BY s DESC, dst) AS rn
            FROM sims WHERE round(s, 6) >= {_KNN_TAU}
        ) WHERE rn <= {_KNN_K}
    ),
    und AS (  -- mutual edges, one row per unordered pair (a < b)
        SELECT e.src AS a, e.dst AS b
        FROM edges e JOIN edges m ON m.src = e.dst AND m.dst = e.src
        WHERE e.src < e.dst
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    wedges AS (  -- paths of length 2 through a center node
        SELECT COUNT(*) AS n_wedges FROM (
            SELECT l.center FROM (
                SELECT a AS center, b AS leaf FROM und
                UNION ALL SELECT b AS center, a AS leaf FROM und
            ) n1 JOIN (
                SELECT a AS center, b AS leaf FROM und
                UNION ALL SELECT b AS center, a AS leaf FROM und
            ) l ON l.center = n1.center AND n1.leaf < l.leaf
        )
    )
    SELECT (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT COUNT(*) FROM tri) AS n_triangles,
           n_wedges,
           round(CASE WHEN n_wedges = 0 THEN 0.0
                 ELSE 3.0 * (SELECT COUNT(*) FROM tri) / n_wedges END, 6)
               AS clustering_coeff
    FROM wedges
    """,
)
def q239_triangle_count(spark, sf_dir) -> DataFrame:
    """Triangle count + global clustering coefficient over the mutual-kNN
    similarity graph — the third graph-analytics kernel (q111 connected
    components, q156 PageRank/TextRank, and now triads). Triangle density
    distinguishes tight near-duplicate CLUSTERS (cliques → candidates for
    one-per-group dedup, q129/q134) from chain-like topical neighborhoods
    (paths → keep all), so curation reads this before choosing a dedup
    policy for a cluster.

    Plan: mutual undirected edges come from q142's graph (each unordered
    pair once, a < b orientation); triangles are the canonical two-hop
    join e1(a,b)⋈e2(b,c) closed by a third edge (a,c) — the a<b<c
    orientation counts each triangle exactly once and bounds the join
    fan-out by forward-degree (at scale you additionally orient by
    degree: low-degree→high-degree edges make the worst-case fan-out
    O(E^1.5), the standard trick, noted here as the 100× upgrade).
    Wedges (open two-paths) are counted per center node; 3·triangles /
    wedges is the global clustering coefficient. Everything that shuffles
    is (int, int) edge rows — the corpus embeddings leave the plan after
    the kNN phase."""
    g = q142_knn_graph(spark, sf_dir)
    und = (
        g.where(F.col("is_mutual") & (F.col("src") < F.col("dst")))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(F.col("e1.a"), F.col("e1.b"), F.col("e2.b").alias("c"))
    )
    nbr = und.select(F.col("a").alias("center"), F.col("b").alias("leaf")).union(
        und.select(F.col("b").alias("center"), F.col("a").alias("leaf"))
    )
    n1, n2 = nbr.alias("n1"), nbr.alias("n2")
    wedges = n1.join(
        n2,
        (F.col("n2.center") == F.col("n1.center"))
        & (F.col("n1.leaf") < F.col("n2.leaf")),
    )
    counts = (
        und.agg(F.count("*").alias("n_edges"))
        .crossJoin(tri.agg(F.count("*").alias("n_triangles")))
        .crossJoin(wedges.agg(F.count("*").alias("n_wedges")))
    )
    return counts.select(
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.round(
            F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                3.0 * F.col("n_triangles") / F.col("n_wedges")
            ),
            6,
        ).alias("clustering_coeff"),
    )


@query(
    "q313_embedding_standardize",
    oracle="""
    WITH comp AS (
        SELECT vec_id, i,
               CAST(floor(embedding[i + 1] * 1e6 + 0.5) AS BIGINT) AS xq
        FROM embeddings, UNNEST(range(0, len(embedding))) u(i)
    ),
    stats AS (
        SELECT i,
               SUM(xq) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS mu,
               sqrt(SUM(xq * xq) / CAST(COUNT(*) AS DOUBLE) / 1e12
                    - (SUM(xq) / CAST(COUNT(*) AS DOUBLE) / 1e6)
                      * (SUM(xq) / CAST(COUNT(*) AS DOUBLE) / 1e6)) AS sigma
        FROM comp GROUP BY i
    )
    SELECT c.vec_id,
           CAST(COUNT(*) AS BIGINT) AS dim,
           round(SUM(CAST(floor((c.xq / 1e6 - s.mu) / s.sigma * 1e9 + 0.5)
                          AS BIGINT)) / 1e9, 6) AS z_sum,
           round(SUM(CAST(floor(((c.xq / 1e6 - s.mu) / s.sigma)
                                * ((c.xq / 1e6 - s.mu) / s.sigma) * 1e9 + 0.5)
                          AS BIGINT)) / 1e9, 6) AS z_norm_sq
    FROM comp c JOIN stats s USING (i)
    GROUP BY c.vec_id
    """,
)
def q313_embedding_standardize(spark, sf_dir) -> DataFrame:
    """Per-DIMENSION embedding standardization (whitening-lite): center
    and scale every coordinate by its corpus mean and population std —
    the preprocessing that stops a few high-variance dimensions from
    dominating cosine/L2 retrieval (full ZCA adds the rotation; the
    diagonal version is the production default because it needs only
    64 scalars). Plan: ONE posexplode pass folds per-dimension sums and
    sum-of-squares in DECIMAL (exact moments, the q90 discipline); the
    64-row stats table broadcasts back onto the components and each
    vector re-aggregates its standardized coordinates. The checked
    output is per-vector z-sum and z-norm' — the standardized vectors'
    invariants (corpus-wide, z_sum ~ 0 per dim and mean z_norm_sq ~ dim
    by construction; asserted in the unit test) — because emitting the
    raw arrays would just hash the same arithmetic with more bytes.
    At 100 TB: stats are one tree-aggregated pass; application is
    scan-stage."""
    em = table(spark, sf_dir, "embeddings")
    comp = em.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("x") * 1e6 + 0.5).cast("long").alias("xq"),
    )
    mu = F.sum("xq") / F.count("*").cast("double") / 1e6
    ex2 = F.sum(F.col("xq") * F.col("xq")) / F.count("*").cast("double") / 1e12
    stats = comp.groupBy("i").agg(
        mu.alias("mu"), F.sqrt(ex2 - mu * mu).alias("sigma")
    )
    z = (F.col("xq") / 1e6 - F.col("mu")) / F.col("sigma")
    # deterministic half-up integer quantization at 1e-9: identical
    # doubles -> identical integers on both engines (decimal-cast
    # rounding modes differ at exact boundaries; floor(+0.5) doesn't)
    zq = F.floor(z * 1e9 + 0.5).cast("long")
    z2q = F.floor(z * z * 1e9 + 0.5).cast("long")
    return (
        comp.join(F.broadcast(stats), "i")
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("dim"),
            F.round(F.sum(zq) / 1e9, 6).alias("z_sum"),
            F.round(F.sum(z2q) / 1e9, 6).alias("z_norm_sq"),
        )
    )
