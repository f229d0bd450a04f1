"""Similarity search over embeddings — SURVEY.md §2.12 (q64, q65, q72).

The `embeddings` fixture is unit-normalized (FIXTURES.md), so cosine
similarity ≡ dot product. The dot kernel (functions.dot) is a built-in
left fold accumulating in double — JVM-side, codegen'd, and bit-identical
to DuckDB's list_sum fold, which is what makes exact oracle parity on
float scores possible.

Scale ladder (the 100 TB story):
1. q64 brute-force top-k: broadcast the (small) query set against the
   full corpus — one pass, no shuffle of the corpus, per-partition heaps
   via the row_number window. Right answer for ≤ a few thousand queries.
2. q72 IVF-style pruning: assign every vector to its nearest centroid
   (broadcastable centroid set), then search only the query's cell —
   cuts candidates by the cell count at a small recall cost.
3. For corpus×corpus all-pairs (q65) the exact kernel is O(n²); the LSH
   variant (bucketed random projection, pyspark.ml) bounds candidates —
   provided as `lsh_pairs` with a fixed seed (recall-checked in tests,
   not oracle-hashed: hash functions differ across engines by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import dot, dot_sql
from ..io import table
from ..registry import query

_N_QUERIES = 10   # q64: vectors with vec_id < 10 are the query set
_TOP_K = 5
_PAIR_TAU = 0.30  # q65 threshold (fixture sims top out ≈ 0.40)
_GRID_B = 4       # q65 block-grid side; at scale: ceil(corpus_bytes / block_budget)
_N_CENTROIDS = 8  # q72: vectors with vec_id < 8 act as centroids


@query(
    "q64_sim_knn",
    oracle=f"""
    SELECT query_id, neighbor_id, sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({dot_sql('q.embedding', 'c.embedding')}, 6) + 0.0 AS sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {dot_sql('q.embedding', 'c.embedding')} DESC, c.vec_id
               ) AS rn
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ) WHERE rn <= {_TOP_K}
    """,
)
def q64_sim_knn(spark, sf_dir) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors, fold the dot
    product JVM-side, rank per query with a deterministic tiebreak."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return exact_topk(em, q, _TOP_K).select(
        "query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim")
    )


def grid_gemm_candidates(em: DataFrame, tau: float, n_blocks: int | None = None) -> DataFrame:
    """Executor-side block-grid GEMM candidate generator for all-pairs
    similarity (the shared kernel of q65 and q78).

    Splits the corpus into ``n_blocks`` row blocks (vec_id mod B); each
    unordered block pair {ra, cb} (ra ≤ cb) forms one grid cell, both
    blocks meet executor-side in a cogroup, and numpy GEMMs them. Nothing
    crosses the driver; replication factor is (B+1)/2 per side, and B is
    sized so two blocks fit executor memory. Candidates are kept above
    τ − ε (ε ≫ GEMM-vs-fold float divergence) so the exact verify pass
    can't lose a true pair."""
    import numpy as np
    import pandas as pd

    B = n_blocks or _GRID_B
    guard = tau - 1e-6

    # ONE explode emits every (cell, side) assignment — block p is the
    # LEFT operand (side 0) of cells (p, cb) for cb ≥ p and the RIGHT
    # operand (side 1) of cells (ra, p) for ra ≤ p — so the grid needs a
    # single shuffle of one frame (no cogroup self-join, which Spark's
    # ambiguous-self-join analysis rejects for join-derived inputs).
    assigned = (
        em.withColumn("p", F.pmod("vec_id", F.lit(B)))
        .select(
            "vec_id",
            "embedding",
            F.explode(
                F.expr(
                    f"concat("
                    f" transform(sequence(p, {B - 1}),"
                    f"   cb -> struct(p * {B} + cb AS cell, 0 AS side)),"
                    f" transform(sequence(0, p),"
                    f"   ra -> struct(ra * {B} + p AS cell, 1 AS side)))"
                )
            ).alias("a"),
        )
        .select(F.col("a.cell").alias("cell"), F.col("a.side").alias("side"),
                "vec_id", "embedding")
    )

    def gemm_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64")}
            )
        ids_a = left["vec_id"].to_numpy()
        ids_b = right["vec_id"].to_numpy()
        ma = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        mb = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        sims = ma @ mb.T
        ii, jj = np.nonzero(sims >= guard)
        ia, ib = ids_a[ii], ids_b[jj]
        cell = int(key[0])
        if cell // B == cell % B:
            # diagonal cell: both operands are the same block, every pair
            # appears twice — `<` both dedups and orders
            keep = ia < ib
            ia, ib = ia[keep], ib[keep]
        else:
            # off-diagonal: each cross-block pair appears exactly once,
            # in arbitrary id order — normalize (smaller id first)
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"vec_a": ia, "vec_b": ib})

    return assigned.groupBy("cell").applyInPandas(
        gemm_cell, schema="vec_a long, vec_b long"
    )


@query(
    "q65_sim_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({dot_sql('a.embedding', 'b.embedding')}, 6) + 0.0 AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({dot_sql('a.embedding', 'b.embedding')}, 6) >= {_PAIR_TAU}
    """,
)
def q65_sim_pairs(spark, sf_dir) -> DataFrame:
    """All-pairs above a similarity threshold (threshold, not rank, so
    float ties can't flip membership — SURVEY §5.2.2).

    Two-phase exact kernel, the shape that survives scale:
    1. CANDIDATES by block-grid matrix multiply: the corpus is split into
       _GRID_B row blocks (vec_id mod B); each unordered block pair
       {ra, cb} (ra ≤ cb) is one grid cell, both blocks meet executor-side
       in a cogroup and GEMM in numpy — ~50 ns/pair instead of an
       interpreted per-pair fold — keeping pairs above τ − ε (ε ≫
       GEMM-vs-fold float divergence, so no candidate is lost). NOTHING
       crosses the driver: replication factor is (B+1)/2 per side and B is
       sized so two blocks fit executor memory (at 100 TB: thousands of
       blocks, cells scheduled as ordinary shuffle tasks).
    2. VERIFY survivors with the expression-level left-fold dot — the tiny
       candidate set recomputed bit-identically to the DuckDB oracle. No
       broadcast hint on the verify joins: AQE broadcasts the corpus side
       at fixture scale and falls back to shuffle joins when it's big.

    `lsh_pairs` below replaces phase 1 with bucketed random projection
    when even one full GEMM pass is too much."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = grid_gemm_candidates(em, _PAIR_TAU)
    a = em.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = em.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    sim = F.round(dot(F.col("emb_a"), F.col("emb_b")), 6)
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", sim.alias("sim"))
        .filter(F.col("sim") >= _PAIR_TAU)
    )


@query(
    "q72_sim_ivf",
    oracle=f"""
    WITH centroids AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
        WHERE vec_id < {_N_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dot_sql('e.embedding', 'c.cent_emb')} DESC, c.cent_id
                   ) AS rn
            FROM embeddings e CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb, cent_id
        FROM assigned WHERE vec_id >= 100 AND vec_id < 105
    )
    SELECT query_id, neighbor_id, sim FROM (
        SELECT q.query_id, a.vec_id AS neighbor_id,
               round({dot_sql('q.q_emb', 'a.embedding')}, 6) + 0.0 AS sim,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {dot_sql('q.q_emb', 'a.embedding')} DESC, a.vec_id
               ) AS rn
        FROM queries q JOIN assigned a
          ON a.cent_id = q.cent_id AND a.vec_id <> q.query_id
    ) WHERE rn <= 3
    """,
)
def q72_sim_ivf(spark, sf_dir) -> DataFrame:
    """IVF-style approximate nearest neighbor: partition the corpus into
    Voronoi cells of a small centroid set (here: the first 8 vectors, a
    deterministic stand-in for trained k-means centroids), then search only
    the query's cell. The cell assignment is a broadcast join — the corpus
    never shuffles; at 100 TB the assigned table would be written
    partitioned by cent_id so a query touches one partition."""
    from .clustering import assign_to_centroids

    em = table(spark, sf_dir, "embeddings")
    cents = em.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    # the cell assignment IS one k-means assignment step — same kernel,
    # same deterministic tiebreak, one definition (clustering.py)
    return ivf_cell_topk(assign_to_centroids(em, cents))


def ivf_cell_topk(assigned: DataFrame, top_k: int = 3) -> DataFrame:
    """q72's single-probe cell scan over ANY (vec_id, embedding,
    cent_id) assignment relation: the 5 standard query vectors probe
    their own cell, top-k by (sim DESC, vec_id ASC). Factored so the
    streaming-maintained assignment table (q365) searches with exactly
    the batch spelling — the query half of the incremental == rebuild
    equivalence."""
    queries = _ivf_queries(assigned, F.col("cent_id").alias("q_cent"))
    cands = assigned.join(
        F.broadcast(queries),
        (F.col("cent_id") == F.col("q_cent"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot(F.col("q_emb"), F.col("embedding")).alias("sim_raw"),
    )
    return topk(cands, F.desc("sim_raw"), top_k).select(
        "query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim")
    )


# ---- the candidate -> verify kernel of the IVF/PQ family ----------------
# Every approximate query below is two stages: CANDIDATE generation (rank
# cells, probe them, score with the query's own scorer) and VERIFICATION
# (per-query top-k, then recall against the exact brute-force top-k). The
# stages live here once; each query states only its scorer and how it
# reports recall.


def _ivf_queries(frame: DataFrame, *cols) -> DataFrame:
    """The standard IVF query set: vectors 100..104 of ``frame`` as
    (query_id, q_emb, *cols)."""
    return frame.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 105)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), *cols
    )


def topk(cands: DataFrame, order, k: int, by=("query_id",)) -> DataFrame:
    """The first ``k`` rows of each ``by`` group by ``order``, ties broken
    by neighbor_id ASC (the total order every oracle states): one
    row_number window, so ranking is per-partition window heads."""
    w = Window.partitionBy(*by).orderBy(order, F.asc("neighbor_id"))
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def rank_cells(queries: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` nearest cells as (query_id, q_emb, cent_id,
    rn), ranked by (c_sim DESC, cent_id ASC): a k-row broadcast crossJoin
    and a per-query window over k rows (kilobytes)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("cent_id"))
    return (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "q_emb",
            "cent_id",
            dot(F.col("q_emb"), F.col("cent_emb")).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_emb", "cent_id", "rn")
    )


def exact_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """The exact brute-force top-k (query_id, neighbor_id, sim_raw) of the
    (query_id, q_emb) ``queries`` over every other ``corpus`` vector: the
    query set broadcasts, the corpus never shuffles."""
    cands = corpus.join(
        F.broadcast(queries.select("query_id", "q_emb")),
        F.col("vec_id") != F.col("query_id"),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot(F.col("q_emb"), F.col("embedding")).alias("sim_raw"),
    )
    return topk(cands, F.desc("sim_raw"), k)


def hit_counts(approx: DataFrame, exact: DataFrame, by) -> DataFrame:
    """(*by, n_hit): how many ``approx`` rows are in the ``exact`` top-k,
    per ``by`` group; groups with no hit emit no row (callers left-join)."""
    return (
        approx.join(exact, ["query_id", "neighbor_id"], "semi")
        .groupBy(*by)
        .agg(F.count("*").alias("n_hit"))
    )


def _recall(k: int):
    """The in-result recall@k column over a left-joined n_hit."""
    return F.round(
        F.coalesce(F.col("n_hit"), F.lit(0)) / float(k), 6
    ).alias("recall")


_IVF_ITERS = 3   # q319: Lloyd iterations for the trained coarse quantizer
_IVF_TOP_K = 3


def _kmeans_oracle_ctes(
    k: int,
    iters: int,
    train_pred: str | None = None,
    init_sql: str | None = None,
    src_rel: str | None = None,
    prefix: str = "",
) -> str:
    """DuckDB CTE chain replicating clustering.kmeans(k, iters) exactly:
    cent0 = first-k init, then (iters-1) × [decimal-exact per-dim means →
    float32 centroids, empty cells carrying the previous position →
    reassign]. Bit-identical cross-engine because every step is either
    exact (decimal sums, integer counts) or a deterministic double op on
    identical operands (the division, the float32 narrowing, the dot
    fold) — the same discipline recompute_centroids states.

    ``train_pred`` (q327): SQL predicate selecting the training subset —
    mirrors kmeans_fit(train_where=...): init = first k of the subset in
    vec_id order, Lloyd iterates over the subset only, and an extra
    ``asg_full`` CTE assigns the FULL corpus to the final centroids.

    ``init_sql`` (q330): a full SELECT producing (cent_id, cent_emb) —
    mirrors kmeans_fit(init_centroids=...); overrides the first-k init
    (compose with earlier CTEs, e.g. the maximin seed chain).

    ``src_rel``/``prefix`` (q331): train over a different relation
    (e.g. a sliced-subvector CTE) and namespace every CTE as
    {prefix}cent0/{prefix}asg0/… so several independent chains — one
    per PQ subspace — compose in a single WITH list."""
    src_rel = "embeddings" if src_rel is None else src_rel
    if init_sql is not None:
        train_rel = src_rel
        init = f"{prefix}cent0 AS ({init_sql})"
    elif train_pred is None:
        train_rel = src_rel
        init = f"""{prefix}cent0 AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb FROM {src_rel}
        WHERE vec_id < {k}
    )"""
    else:
        train_rel = f"(SELECT * FROM {src_rel} WHERE {train_pred})"
        init = f"""{prefix}cent0 AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb FROM {src_rel}
        WHERE {train_pred} ORDER BY vec_id LIMIT {k}
    )"""
    parts = [init]

    def asg(t: int, rel: str = "", name: str = "") -> str:
        return f"""{name or f'{prefix}asg{t}'} AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dot_sql('e.embedding', 'c.cent_emb')} DESC,
                                c.cent_id
                   ) AS rn
            FROM {rel or train_rel} e CROSS JOIN {prefix}cent{t} c
        ) WHERE rn = 1
    )"""

    parts.append(asg(0))
    for t in range(iters - 1):
        parts.append(f"""{prefix}mc{t} AS (
        SELECT cent_id,
               list_transform(list(m ORDER BY dim),
                              x -> CAST(x AS FLOAT)) AS cent_emb
        FROM (
            SELECT cent_id, dim,
                   CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(v) AS m
            FROM (
                SELECT cent_id,
                       unnest(range(len(embedding))) AS dim,
                       unnest(embedding) AS v
                FROM {prefix}asg{t}
            )
            GROUP BY cent_id, dim
        )
        GROUP BY cent_id
    )""")
        parts.append(f"""{prefix}cent{t + 1} AS (
        SELECT * FROM {prefix}mc{t}
        UNION ALL
        SELECT c.cent_id, c.cent_emb FROM {prefix}cent{t} c
        WHERE c.cent_id NOT IN (SELECT cent_id FROM {prefix}mc{t})
    )""")
        parts.append(asg(t + 1))
    if train_pred is not None:
        parts.append(
            asg(iters - 1, rel=src_rel, name=f"{prefix}asg_full")
        )
    return ",\n    ".join(parts)


def _exact_cte(
    k: int, corpus: str = "embeddings", queries: str = "queries", on: str = ""
) -> str:
    """The oracles' ``exact`` CTE: each query's brute-force top-k over
    every other ``corpus`` vector (``on``: an extra join predicate), by
    (dot DESC, vec_id) — the DuckDB twin of exact_topk."""
    return f"""exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'c.embedding')} DESC,
                                c.vec_id
                   ) AS rn
            FROM {queries} q JOIN {corpus} c ON c.vec_id <> q.query_id{on}
        ) WHERE rn <= {k}
    )"""


def _matched_cte(rel: str) -> str:
    """The oracles' ``matched`` CTE: per query, how many of ``rel``'s
    top-k rows are in ``exact`` — the DuckDB twin of hit_counts. ``rel``
    is aliased by its initial (ivf/ivfpq -> i, pq -> p)."""
    a = rel[0]
    return f"""matched AS (
        SELECT {a}.query_id, COUNT(*) AS n_hit
        FROM {rel} {a} JOIN exact e
          ON e.query_id = {a}.query_id AND e.neighbor_id = {a}.neighbor_id
        GROUP BY {a}.query_id
    )"""


@query(
    "q319_ivf_trained",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS)},
    final_asg AS (SELECT * FROM asg{_IVF_ITERS - 1}),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS q_cent
        FROM final_asg WHERE vec_id >= 100 AND vec_id < 105
    ),
    ivf AS (
        SELECT query_id, neighbor_id, sim_raw FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   {dot_sql('q.q_emb', 'a.embedding')} AS sim_raw,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'a.embedding')} DESC,
                                a.vec_id
                   ) AS rn
            FROM queries q JOIN final_asg a
              ON a.cent_id = q.q_cent AND a.vec_id <> q.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K)},
    {_matched_cte('ivf')}
    SELECT i.query_id, i.neighbor_id, round(i.sim_raw, 6) + 0.0 AS sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall
    FROM ivf i LEFT JOIN matched m ON m.query_id = i.query_id
    """,
)
def q319_ivf_trained(spark, sf_dir) -> DataFrame:
    """IVF with TRAINED k-means cells (VERDICT r7 #4) — q72's coarse
    quantizer upgraded from 'first 8 vectors as centroids' to centroids
    actually trained by clustering.kmeans's Lloyd loop (composed, not
    rebuilt: same assign_to_centroids broadcast-argmax kernel, same
    decimal-exact recompute_centroids — the corpus never shuffles, each
    iteration moves only (k × dim) floats to the driver plan). Search is
    q72's shape: the query probes only its own trained cell.

    The result carries its own quality metric in-band (q287's meta-eval
    discipline): per query, recall@3 against the EXACT
    brute-force top-3 over the full corpus — so a centroid
    regression shows up as a recall drop in the hashed result, not just
    a silent ranking change. (On THIS fixture recall reads low by
    construction: the embeddings are near-orthogonal noise, so a
    single-probe IVF captures ≈ 1/k of the true neighbors — the same
    64-d noise-band rationale as q65/q78's planted rows. Real clustered
    corpora, or multi-probe, raise it; the measurement, not the value,
    is the contract.) The whole train→assign→search→evaluate
    chain is replicated in closed form by the DuckDB oracle (unrolled
    Lloyd iterations, decimal-exact means, float32-narrowed centroids),
    making this — unlike most ANN implementations — a fully
    differentially-tested approximate index.

    At 100 TB: training runs on a sample (k-means|| init + early stop;
    the per-iteration plan is identical), assignment is one broadcast
    scan, and the assigned table persists partitioned by cent_id so a
    query touches one partition (q72's docstring contract, now with
    learned cells that actually balance load — hash cells give uniform
    COUNTS but arbitrary geometry; trained cells give locality, which is
    what bounds the recall loss)."""
    from .clustering import kmeans

    asg = kmeans(spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS)
    return _ivf_search_with_recall(spark, sf_dir, asg)


def _ivf_search_with_recall(spark, sf_dir, asg: DataFrame) -> DataFrame:
    """Single-probe IVF search + in-result recall@k against the exact
    brute-force top-k — the shared evaluate stage of q319 (full-corpus
    training) and q327 (sample training); ``asg`` is any (vec_id,
    embedding, cent_id) assignment frame."""
    ivf = ivf_cell_topk(asg, _IVF_TOP_K)
    exact = exact_topk(
        table(spark, sf_dir, "embeddings"), _ivf_queries(asg), _IVF_TOP_K
    )
    hits = hit_counts(ivf, exact, ("query_id",))
    return ivf.join(hits, "query_id", "left").select(
        "query_id", "neighbor_id", "sim", _recall(_IVF_TOP_K)
    )


_IVF_TRAIN_PRED = "vec_id % 4 = 0"  # q327: the training sample (25%)


@query(
    "q327_ivf_sample_trained",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS, train_pred=_IVF_TRAIN_PRED)},
    final_asg AS (SELECT * FROM asg_full),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS q_cent
        FROM final_asg WHERE vec_id >= 100 AND vec_id < 105
    ),
    ivf AS (
        SELECT query_id, neighbor_id, sim_raw FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   {dot_sql('q.q_emb', 'a.embedding')} AS sim_raw,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'a.embedding')} DESC,
                                a.vec_id
                   ) AS rn
            FROM queries q JOIN final_asg a
              ON a.cent_id = q.q_cent AND a.vec_id <> q.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K)},
    {_matched_cte('ivf')}
    SELECT i.query_id, i.neighbor_id, round(i.sim_raw, 6) + 0.0 AS sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall
    FROM ivf i LEFT JOIN matched m ON m.query_id = i.query_id
    """,
)
def q327_ivf_sample_trained(spark, sf_dir) -> DataFrame:
    """SAMPLE-TRAINED IVF — the 100 TB training shape made concrete
    (SURVEY round-9 forward-plan item 1, built early): the Lloyd loop
    iterates over a deterministic 25% subset (vec_id % 4 = 0 — the
    q114 hash-bucket discipline; at scale this is the sampled training
    table), and the full corpus is touched EXACTLY ONCE, by the final
    broadcast-argmax assignment. Init is the first k of the SUBSET in
    vec_id order (a TakeOrdered — ``vec_id < k`` can miss the sample
    entirely). Everything stays differentially oracled: the unrolled
    Lloyd CTEs gain the training predicate and one asg_full CTE, so a
    wrong init set, an iteration that accidentally reads the full
    corpus, or a final assignment against stale centroids all
    hash-fail. Search/evaluate is q319's shared single-probe stage —
    recall vs exact rides in-result, so the sample-vs-full training
    quality delta is measurable data (compare q319's recall column to
    this one). Cost shape at 100 TB: iterations × sample_size + 1 ×
    corpus_size, vs q319's iterations × corpus_size."""
    from .clustering import kmeans_fit

    asg, _ = kmeans_fit(
        spark,
        sf_dir,
        k=_N_CENTROIDS,
        iterations=_IVF_ITERS,
        train_where=F.expr(_IVF_TRAIN_PRED),
    )
    return _ivf_search_with_recall(spark, sf_dir, asg)


_IVF_PROBES = 2  # q323: cells probed per query (q319 probes 1)


@query(
    "q323_ivf_multiprobe",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS)},
    final_asg AS (SELECT * FROM asg{_IVF_ITERS - 1}),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb
        FROM embeddings WHERE vec_id >= 100 AND vec_id < 105
    ),
    probed AS (
        SELECT query_id, q_emb, cent_id FROM (
            SELECT q.query_id, q.q_emb, c.cent_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'c.cent_emb')} DESC,
                                c.cent_id
                   ) AS rn
            FROM queries q CROSS JOIN cent{_IVF_ITERS - 1} c
        ) WHERE rn <= {_IVF_PROBES}
    ),
    ivf AS (
        SELECT query_id, neighbor_id, sim_raw FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {dot_sql('p.q_emb', 'a.embedding')} AS sim_raw,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {dot_sql('p.q_emb', 'a.embedding')} DESC,
                                a.vec_id
                   ) AS rn
            FROM probed p JOIN final_asg a
              ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K)},
    {_matched_cte('ivf')}
    SELECT i.query_id, i.neighbor_id, round(i.sim_raw, 6) + 0.0 AS sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall
    FROM ivf i LEFT JOIN matched m ON m.query_id = i.query_id
    """,
)
def q323_ivf_multiprobe(spark, sf_dir) -> DataFrame:
    """MULTI-PROBE trained IVF — the recall knob on q319: each query
    searches its 2 nearest trained cells instead of one.
    Probing is the standard IVF accuracy/cost dial (nprobe in
    FAISS-style indexes): candidates scale ~linearly with the probe
    count while recall climbs toward exact — and because this engine
    carries recall@3 IN the result (q319's meta-eval
    discipline, same exact-top-k yardstick), the lift is itself
    oracle-checked data: on this fixture the expected single-probe
    recall is ≈ 1/k and 2 probes ≈ 2/k — the
    dial measurably works even on a noise corpus, which is exactly what
    a curation pipeline needs to SIZE nprobe instead of guessing.

    Plan: cell ranking is a k-row broadcast crossJoin + per-query
    window over k rows (kilobytes); candidate search joins the probed
    (query, cell) pairs against the assignment table on cent_id — at
    100 TB, with the assignment persisted partitioned by cent_id, a
    query reads exactly nprobe partitions. Training is shared with
    q319 via clustering.kmeans_fit (same Lloyd loop, same unrolled
    decimal-exact oracle CTEs)."""
    from .clustering import kmeans_fit

    asg, cents = kmeans_fit(spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS)
    em = table(spark, sf_dir, "embeddings")
    queries = _ivf_queries(em)
    probed = rank_cells(queries, cents, _IVF_PROBES)
    cands = (
        asg.join(F.broadcast(probed), ["cent_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("q_emb"), F.col("embedding")).alias("sim_raw"),
        )
    )
    ivf = topk(cands, F.desc("sim_raw"), _IVF_TOP_K)
    exact = exact_topk(em, queries, _IVF_TOP_K)
    hits = hit_counts(ivf, exact, ("query_id",))
    return ivf.join(hits, "query_id", "left").select(
        "query_id",
        "neighbor_id",
        F.round("sim_raw", 6).alias("sim"),
        _recall(_IVF_TOP_K),
    )


_FILTER_LABEL = 2  # q339: the metadata predicate pushed into the cell scan


@query(
    "q339_ivf_filtered",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS)},
    final_asg AS (
        SELECT a.vec_id, a.embedding, a.cent_id, e.label
        FROM asg{_IVF_ITERS - 1} a JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb
        FROM embeddings WHERE vec_id >= 100 AND vec_id < 105
    ),
    probed AS (
        SELECT query_id, q_emb, cent_id FROM (
            SELECT q.query_id, q.q_emb, c.cent_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'c.cent_emb')} DESC,
                                c.cent_id
                   ) AS rn
            FROM queries q CROSS JOIN cent{_IVF_ITERS - 1} c
        ) WHERE rn <= {_IVF_PROBES}
    ),
    sel AS (
        SELECT p.query_id,
               round(SUM(CASE WHEN a.label = {_FILTER_LABEL}
                              THEN 1.0 ELSE 0.0 END)
                     / COUNT(*), 6) AS probe_selectivity
        FROM probed p JOIN final_asg a
          ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
        GROUP BY p.query_id
    ),
    ivf AS (
        SELECT query_id, neighbor_id, sim_raw FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {dot_sql('p.q_emb', 'a.embedding')} AS sim_raw,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {dot_sql('p.q_emb', 'a.embedding')} DESC,
                                a.vec_id
                   ) AS rn
            FROM probed p JOIN final_asg a
              ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
             AND a.label = {_FILTER_LABEL}
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K, on=f' AND c.label = {_FILTER_LABEL}')},
    {_matched_cte('ivf')}
    SELECT i.query_id, i.neighbor_id, round(i.sim_raw, 6) + 0.0 AS sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall,
           s.probe_selectivity
    FROM ivf i
    LEFT JOIN matched m ON m.query_id = i.query_id
    JOIN sel s ON s.query_id = i.query_id
    """,
)
def q339_ivf_filtered(spark, sf_dir) -> DataFrame:
    """FILTERED ANN — metadata-predicate pushdown INTO the cell scan
    (VERDICT r8 #8, the vector-DB production shape): the query asks for
    nearest neighbors AMONG rows satisfying label = 2,
    and the predicate is applied to the probed cells' members BEFORE
    the rerank, never to a post-hoc truncation of an unfiltered top-k
    (post-filtering silently returns < k or misses qualifying
    neighbors just outside the unfiltered top-k — the classic filtered-
    ANN bug). Probing is q323's nprobe=2 shape over the
    SHARED trained model (clustering.kmeans_fit memo), ground truth is
    the exact brute force over the FILTERED corpus, and recall@3
    rides in-result as always.

    PER-PROBE PREDICATE SELECTIVITY is measured in-result
    (probe_selectivity = qualifying candidates / probed candidates):
    it is the production dial for filtered ANN — as selectivity falls
    the filtered cell scan returns fewer than k candidates and recall
    collapses, at which point the planner must switch strategy
    (pre-filter + brute force over the qualifying subset, or raise
    nprobe). Carrying it in the hashed result makes the dial itself
    differentially tested data, the q325 calibration discipline.

    At 100 TB: the assignment table persists partitioned by cent_id
    with metadata columns alongside, so the label predicate reaches the
    parquet scan of exactly the nprobe probed partitions (PushedFilters
    on label) — candidates never leave the cell, the filter never
    touches unprobed cells, and the selectivity statistic is computable
    from the same scan that serves the candidates."""
    from .clustering import kmeans_fit

    asg, cents = kmeans_fit(
        spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS
    )
    em = table(spark, sf_dir, "embeddings")
    asg_l = asg.join(em.select("vec_id", "label"), "vec_id")
    queries = _ivf_queries(em)
    probed = rank_cells(queries, cents, _IVF_PROBES)
    cand = asg_l.join(F.broadcast(probed), ["cent_id"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    sel = cand.groupBy("query_id").agg(
        F.round(
            F.sum(
                F.when(F.col("label") == _FILTER_LABEL, 1.0).otherwise(0.0)
            )
            / F.count("*"),
            6,
        ).alias("probe_selectivity")
    )
    ivf = topk(
        cand.filter(F.col("label") == _FILTER_LABEL).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("q_emb"), F.col("embedding")).alias("sim_raw"),
        ),
        F.desc("sim_raw"),
        _IVF_TOP_K,
    )
    exact = exact_topk(
        em.filter(F.col("label") == _FILTER_LABEL), queries, _IVF_TOP_K
    )
    return (
        ivf.join(hit_counts(ivf, exact, ("query_id",)), "query_id", "left")
        .join(sel, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim_raw", 6).alias("sim"),
            _recall(_IVF_TOP_K),
            "probe_selectivity",
        )
    )


_LADDER_PROBES = (1, 2, 4)  # q325: the nprobe rungs
_LADDER_NQ = 5              # queries 100..104


def _probe_rung_sql(p: int) -> str:
    """One nprobe rung of q325's oracle: probe the p nearest trained
    cells, rank candidates, count exact-top-k hits and candidates."""
    return f"""
        SELECT {p} AS nprobe,
               round(COALESCE(SUM(n_hit), 0)
                     / {float(_LADDER_NQ * _IVF_TOP_K)}, 6)
                   AS recall_at_{_IVF_TOP_K},
               CAST(COALESCE(SUM(n_cand), 0) AS BIGINT) AS candidates
        FROM (
            SELECT q.query_id,
                   (SELECT COUNT(*)
                    FROM probed{p} p JOIN final_asg a
                      ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id
                    WHERE p.query_id = q.query_id) AS n_cand,
                   (SELECT COUNT(*) FROM (
                        SELECT i.neighbor_id FROM (
                            SELECT p.query_id, a.vec_id AS neighbor_id,
                                   row_number() OVER (
                                       PARTITION BY p.query_id
                                       ORDER BY {dot_sql('p.q_emb', 'a.embedding')} DESC,
                                                a.vec_id
                                   ) AS rn
                            FROM probed{p} p JOIN final_asg a
                              ON a.cent_id = p.cent_id
                             AND a.vec_id <> p.query_id
                        ) i
                        WHERE i.query_id = q.query_id AND i.rn <= {_IVF_TOP_K}
                        ) iv JOIN exact e
                          ON e.query_id = q.query_id
                         AND e.neighbor_id = iv.neighbor_id
                   ) AS n_hit
            FROM queries q
        )
    """


def _probed_cte(p: int) -> str:
    return f"""probed{p} AS (
        SELECT query_id, q_emb, cent_id FROM (
            SELECT q.query_id, q.q_emb, c.cent_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'c.cent_emb')} DESC,
                                c.cent_id
                   ) AS rn
            FROM queries q CROSS JOIN cent{_IVF_ITERS - 1} c
        ) WHERE rn <= {p}
    )"""


@query(
    "q325_ivf_probe_ladder",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS)},
    final_asg AS (SELECT * FROM asg{_IVF_ITERS - 1}),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb
        FROM embeddings WHERE vec_id >= 100 AND vec_id < 105
    ),
    {", ".join(_probed_cte(p) for p in _LADDER_PROBES)},
    {_exact_cte(_IVF_TOP_K)}
    {" UNION ALL ".join(_probe_rung_sql(p) for p in _LADDER_PROBES)}
    """,
)
def q325_ivf_probe_ladder(spark, sf_dir) -> DataFrame:
    """The IVF PROBE LADDER — the nprobe recall/cost CURVE as one
    oracle-checked result (SURVEY round-9 forward-plan item 2, built
    early; q292's calibration-curve discipline applied to ANN): for
    nprobe ∈ (1, 2, 4), total exact-top-3 hits
    (as recall) and total candidates scanned across the query set.
    This is the table an operator actually tunes from — recall climbs
    with probes while candidates grow ~linearly, and both columns are
    hashed data, so a quantizer regression bends the measured curve
    rather than silently degrading answers. Training is shared with
    q319/q323 (kmeans_fit; the lazy training lineage is re-evaluated
    per rung at fixture scale — at 100 TB the assignment table and
    centroids persist once and every rung reads them).

    Scale: each rung is the q323 plan (k-row broadcast cell-ranking +
    cent_id-scoped candidate join); the ladder is a union of three
    5-row aggregates — kilobytes past the scans."""
    from functools import reduce

    from .clustering import kmeans_fit

    asg, cents = kmeans_fit(spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS)
    em = table(spark, sf_dir, "embeddings")
    queries = _ivf_queries(em)
    exact = exact_topk(em, queries, _IVF_TOP_K)
    ranked_cells = rank_cells(queries, cents, max(_LADDER_PROBES))

    def rung(p: int) -> DataFrame:
        probed = ranked_cells.filter(F.col("rn") <= p)
        cand = (
            asg.join(F.broadcast(probed), ["cent_id"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                dot(F.col("q_emb"), F.col("embedding")).alias("sim_raw"),
            )
        )
        hits = hit_counts(topk(cand, F.desc("sim_raw"), _IVF_TOP_K), exact, ())
        return (
            cand.agg(F.count("*").cast("long").alias("candidates"))
            .crossJoin(hits)
            .select(
                F.lit(p).alias("nprobe"),
                F.round(
                    F.col("n_hit") / float(_LADDER_NQ * _IVF_TOP_K), 6
                ).alias(f"recall_at_{_IVF_TOP_K}"),
                "candidates",
            )
        )

    return reduce(DataFrame.unionByName, [rung(p) for p in _LADDER_PROBES])


def lsh_pairs(spark, sf_dir, threshold: float = 0.7, seed: int = 42) -> DataFrame:
    """Scale path for q65: BucketedRandomProjectionLSH over the embedding
    column — candidates meet only within hash buckets, bounding the O(n²)
    blow-up. Euclidean distance on unit vectors maps to cosine via
    d² = 2 - 2·cos. Fixed seed for reproducibility; recall vs the exact
    kernel is asserted in tests (no cross-engine oracle: hash families are
    engine-specific by design)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    em = table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=1.0,
        numHashTables=4, seed=seed,
    )
    model = lsh.fit(em)
    max_dist = (2.0 - 2.0 * threshold) ** 0.5
    pairs = model.approxSimilarityJoin(em, em, max_dist, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            (1.0 - F.col("dist") * F.col("dist") / 2.0).alias("cos_sim"),
        )
    )


# ---- int8 embedding quantization (q121, q130) --------------------------
_XD = "CAST(x AS DOUBLE)"
# per-vector symmetric scale: max|x| / 127 (one int8 step in float units)
_QSCALE_EXPR = (
    f"aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs({_XD})))"
    " / 127.0"
)
# int8 codes via floor(x/scale + 0.5) — exact on doubles, no tie hazard
_QARR_EXPR = (
    "CASE WHEN scale = 0.0D THEN transform(embedding, x -> 0)"
    f" ELSE transform(embedding, x -> CAST(floor({_XD} / scale + 0.5) AS INT)) END"
)


@query(
    "q121_embed_quantize",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           array_to_string(
               CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
               ELSE list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
               END, ',') AS q,
           round(list_sum(list_transform(embedding, x ->
               CASE WHEN scale = 0.0 THEN CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
               ELSE (CAST(x AS DOUBLE)
                     - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
                    * (CAST(x AS DOUBLE)
                       - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale) END))
               / len(embedding), 12) AS mse
    FROM s
    """,
)
def q121_embed_quantize(spark, sf_dir) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage/
    bandwidth lever for ANN at scale (4 bytes → 1 byte per dim; IVF cells
    and GEMM blocks move 4× more vectors per shuffle byte). Per vector:
    scale = max|x| / 127, q_i = round-half-up(x_i / scale), plus the
    per-vector reconstruction MSE so downstream recall tuning can gate on
    quantization error instead of guessing.

    Pure scan-stage expression work over the array column (transform /
    aggregate HOFs — JVM-side, zero shuffle, no UDF). Rounding is
    floor(x + 0.5) — round-half-toward-+inf — deliberately, NOT round():
    floor is exact on doubles, so the result is bit-identical across
    engines with no HALF_UP-vs-banker's tie hazard (the parity discipline
    round() can't give at 0 decimal places). All math widens float →
    double first; float→double widening is exact, so both engines compute
    on identical doubles. Zero vectors (scale = 0) quantize to zeros and
    report their own energy as mse."""
    em = table(spark, sf_dir, "embeddings")
    xd = _XD
    s = em.select("vec_id", "embedding", F.expr(_QSCALE_EXPR).alias("scale"))
    qexpr = _QARR_EXPR
    err = f"({xd} - floor({xd} / scale + 0.5) * scale)"
    mse = (
        "round(aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + "
        f"CASE WHEN scale = 0.0D THEN {xd} * {xd} ELSE {err} * {err} END)"
        " / size(embedding), 12)"
    )
    return s.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        # serialized int8 codes: scalar result columns only (driver
        # canonicalizers hash scalars, not lists — VERDICT r4 #1)
        F.expr(
            f"array_join(transform({qexpr}, v -> cast(v AS string)), ',')"
        ).alias("q"),
        F.expr(mse).alias("mse"),
    )


# ---- asymmetric quantized top-k (q130) ---------------------------------
_PQ_TOP_K = 5


@query(
    "q130_sim_quantized_topk",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id, embedding, scale,
               CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
               ELSE list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
               END AS q
        FROM s
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        WHERE vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, approx_sim, exact_sim FROM (
        SELECT qu.query_id, c.vec_id AS neighbor_id,
               round(c.scale * {dot_sql('c.q', 'qu.q_emb')}, 6) + 0.0 AS approx_sim,
               round({dot_sql('c.embedding', 'qu.q_emb')}, 6) + 0.0 AS exact_sim,
               row_number() OVER (
                   PARTITION BY qu.query_id
                   ORDER BY c.scale * {dot_sql('c.q', 'qu.q_emb')} DESC, c.vec_id
               ) AS rn
        FROM qz c JOIN queries qu ON c.vec_id <> qu.query_id
    ) WHERE rn <= {_PQ_TOP_K}
    """,
)
def q130_sim_quantized_topk(spark, sf_dir) -> DataFrame:
    """Top-k search over the int8-QUANTIZED corpus with asymmetric
    distance (query stays float, corpus is codes): approx_sim =
    scale · ⟨q_int8, x_float⟩ — the memory-bandwidth lever that makes
    brute-force scans viable at 4× the vectors per shuffle byte (the
    standard ADC trick from product-quantization ANN, Jégou et al. 2011).
    Ranking uses the approximate score; the exact float score rides along
    per emitted neighbor so recall degradation is measurable downstream
    (tests assert top-k recall vs q64's exact ranking).

    Plan: same shape as q64 — query set broadcasts, the corpus never
    shuffles, one scan computes codes + approx scores, per-partition
    window heads. Quantization shares q121's module-level expressions
    (one definition, JVM-side HOFs, no UDF); int→double widening is
    exact, so the fold is bit-identical to the DuckDB oracle."""
    em = table(spark, sf_dir, "embeddings")
    corpus = (
        em.select(
            F.col("vec_id").alias("neighbor_id"),
            "embedding",
            F.expr(_QSCALE_EXPR).alias("scale"),
        )
        .withColumn("q", F.expr(_QARR_EXPR))
    )
    queries = em.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = corpus.join(
        F.broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        (F.col("scale") * dot(F.col("q"), F.col("q_emb"))).alias("approx_raw"),
        dot(F.col("embedding"), F.col("q_emb")).alias("exact_raw"),
    )
    return topk(cands, F.desc("approx_raw"), _PQ_TOP_K).select(
        "query_id",
        "neighbor_id",
        F.round("approx_raw", 6).alias("approx_sim"),
        F.round("exact_raw", 6).alias("exact_sim"),
    )


# ---- embedding hygiene validation (q136) -------------------------------
@query(
    "q136_embedding_validate",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           abs(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) - 1.0) < 0.001
               AS is_unit,
           len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
               AS has_nan,
           len(list_filter(embedding, x -> CAST(x AS DOUBLE) = 0.0))
               = len(embedding) AS is_zero
    FROM embeddings
    """,
)
def q136_embedding_validate(spark, sf_dir) -> DataFrame:
    """Embedding-column hygiene: per-vector dimension, L2 norm,
    unit-norm / NaN / all-zero flags — the validation pass that must gate
    every similarity operator here, because functions.dot's cross-engine
    parity PRECONDITION is equal-length NaN-free arrays (a dim mismatch
    silently diverges between engines; this operator is how a corpus
    proves it can't happen). A real ingest runs this before building any
    index and quarantines rows that fail.

    The norm is the same left-fold double accumulation as functions.dot
    (sqrt is correctly rounded in both engines, so round-6 parity holds).
    Pure scan-stage array HOFs: zero shuffle, no UDF; at 100 TB this
    rides along with the ingest scan for free."""
    em = table(spark, sf_dir, "embeddings")
    xd = "CAST(x AS DOUBLE)"
    sumsq = (
        f"aggregate(embedding, CAST(0.0 AS DOUBLE),"
        f" (acc, x) -> acc + {xd} * {xd})"
    )
    norm = F.sqrt(F.expr(sumsq))
    return em.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(norm, 6).alias("l2_norm"),
        (F.abs(norm - 1.0) < 0.001).alias("is_unit"),
        F.expr(f"size(filter(embedding, x -> isnan({xd}))) > 0").alias("has_nan"),
        F.expr(
            f"size(filter(embedding, x -> {xd} = 0.0)) = size(embedding)"
        ).alias("is_zero"),
    )


_POOL_CHUNKS = 4  # chunks per parent document (vec_id div 4)
_POOL_DEC = "DECIMAL(38,20)"


@query(
    "q178_embedding_pool",
    oracle=f"""
    WITH c AS (SELECT vec_id, vec_id // {_POOL_CHUNKS} AS doc,
                      embedding FROM embeddings),
    t AS (
        SELECT c.doc, j.j AS j,
               CAST(SUM(CAST(CAST(c.embedding[j.j] AS DOUBLE)
                             AS {_POOL_DEC})) AS DOUBLE) AS s,
               COUNT(*) AS n
        FROM c, UNNEST(generate_series(1, len(c.embedding))) AS j(j)
        GROUP BY c.doc, j.j
    )
    SELECT doc, MAX(n) AS n_chunks,
           array_to_string(list(printf('%.9f', round(s / n, 9) + 0.0)
                                ORDER BY j), ',') AS pooled
    FROM t GROUP BY doc
    """,
)
def q178_embedding_pool(spark, sf_dir) -> DataFrame:
    """Chunk→document embedding pooling (mean): chunk vectors grouped by
    parent doc (vec_id div 4 stands in for the chunker's
    doc_id), averaged per dimension through decimal sums, reassembled
    into an ordered array — the aggregation every RAG/retrieval index
    runs between q138's chunker and q64's search. One exchange keyed on
    (doc, dim) carrying scalar partial sums — never whole vectors — then
    a per-doc array rebuild (array_sort ∘ collect_list, order explicit).
    Exact cross-engine: per-dim means divide identical decimal-exact
    sums by identical counts."""
    em = table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") / _POOL_CHUNKS).cast("long").alias("doc"), "embedding"
    )
    t = (
        em.select("doc", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("doc", (F.col("pos") + 1).alias("j"))
        .agg(
            F.sum(F.col("x").cast("double").cast(_POOL_DEC))
            .cast("double")
            .alias("s"),
            F.count("*").alias("n"),
        )
    )
    # pooled vector serialized via fixed %.9f: identical doubles format
    # identically on both engines, and the result column stays scalar
    # (driver canonicalizers hash scalars, not lists — VERDICT r4 #1).
    # `+ 0.0` after round(): Spark round() normalizes -0.0 to +0.0 while
    # DuckDB preserves it, so printf would emit '-0.000000000' only on
    # the oracle side — same hazard q282 fixed; guarded on BOTH sides.
    return t.groupBy("doc").agg(
        F.max("n").alias("n_chunks"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(j, s, n))),"
            " st -> printf('%.9f', round(st.s / st.n, 9) + 0.0)), ',')"
        ).alias("pooled"),
    )


_HN_QUERIES = 10  # query chunks (vec_id < 10)
_HN_K = 5


@query(
    "q179_hard_negatives",
    oracle=f"""
    SELECT query_id, neg_id, sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
               round({dot_sql('q.embedding', 'c.embedding')}, 6) + 0.0 AS sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {dot_sql('q.embedding', 'c.embedding')} DESC,
                            c.vec_id
               ) AS rn
        FROM embeddings q JOIN embeddings c
          ON c.vec_id // {_POOL_CHUNKS} <> q.vec_id // {_POOL_CHUNKS}
        WHERE q.vec_id < {_HN_QUERIES}
    ) WHERE rn <= {_HN_K}
    """,
)
def q179_hard_negatives(spark, sf_dir) -> DataFrame:
    """Hard-negative mining for contrastive training: per query chunk,
    the top-k most similar chunks from OTHER documents — maximally
    confusable non-positives, the pairs that actually move an embedding
    model. Same broadcast-query shape as q64 with the positive exclusion
    widened from self-id to parent-doc-id (chunks of the same doc are
    near-positives, not negatives). At 100 TB the candidate stage swaps
    in the IVF cell restriction (q72) or block-grid GEMM (q65); the
    doc-exclusion predicate rides the rank stage unchanged."""
    em = table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = em.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    sim = dot(F.col("q_emb"), F.col("embedding"))
    cands = c.join(
        F.broadcast(q),
        (F.col("neighbor_id") / _POOL_CHUNKS).cast("long")
        != (F.col("query_id") / _POOL_CHUNKS).cast("long"),
    ).select("query_id", "neighbor_id", sim.alias("sim_raw"))
    return topk(cands, F.desc("sim_raw"), _HN_K).select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        F.round("sim_raw", 6).alias("sim"),
    )


# ---- IVF × int8 composition (q328): quantized ADC inside trained cells --
@query(
    "q328_ivf_adc",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS)},
    final_asg AS (SELECT * FROM asg{_IVF_ITERS - 1}),
    qc AS (
        SELECT vec_id, embedding, cent_id, scale,
               CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
               ELSE list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
               END AS q
        FROM (
            SELECT vec_id, embedding, cent_id,
                   list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
            FROM final_asg
        )
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS q_cent
        FROM final_asg WHERE vec_id >= 100 AND vec_id < 105
    ),
    ivf AS (
        SELECT query_id, neighbor_id, approx_raw, exact_raw FROM (
            SELECT qu.query_id, c.vec_id AS neighbor_id,
                   c.scale * {dot_sql('c.q', 'qu.q_emb')} AS approx_raw,
                   {dot_sql('c.embedding', 'qu.q_emb')} AS exact_raw,
                   row_number() OVER (
                       PARTITION BY qu.query_id
                       ORDER BY c.scale * {dot_sql('c.q', 'qu.q_emb')} DESC,
                                c.vec_id
                   ) AS rn
            FROM queries qu JOIN qc c
              ON c.cent_id = qu.q_cent AND c.vec_id <> qu.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K)},
    {_matched_cte('ivf')}
    SELECT i.query_id, i.neighbor_id,
           round(i.approx_raw, 6) + 0.0 AS approx_sim,
           round(i.exact_raw, 6) + 0.0 AS exact_sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall
    FROM ivf i LEFT JOIN matched m ON m.query_id = i.query_id
    """,
)
def q328_ivf_adc(spark, sf_dir) -> DataFrame:
    """IVF-PQ's production shape, composed from two existing kernels
    (SURVEY round-9 forward-plan item 2): q130's int8 asymmetric-distance
    scan run INSIDE q319's trained k-means cells — the query stays float,
    the cell's members are 4×-smaller int8 codes, and ranking uses
    approx = scale · ⟨codes, q_float⟩ (Jégou et al. 2011's ADC, with
    per-vector symmetric scalar quantization standing in for the PQ
    codebook — same storage/bandwidth lever, simpler codebook). Both
    error sources of a real IVF-PQ index are measured IN-RESULT: the
    exact float score rides along per emitted neighbor (quantization
    error), and recall@3 vs the exact full-corpus top-k
    rides per query (cell-restriction error, compounded by code
    ranking). Training, quantization, cell-scoped ADC ranking, and the
    recall join are all replicated closed-form by the DuckDB oracle —
    a differentially-tested IVF-PQ, which production ANN libraries
    don't get to have.

    Plan shape at 100 TB: the trained assignment persists partitioned
    by cent_id storing ONLY (vec_id, scale, q) — int8 codes cut the
    cell scan's bytes 4× vs float32, which is the whole point; the
    float embedding is read back only for the k emitted neighbors (here
    it rides the same scan because the oracle needs exact_sim for every
    candidate anyway). Queries broadcast; the quadratic never leaves
    cell scope (q319's contract), and the ADC fold is a JVM-side
    codegen'd built-in, no UDF."""
    from .clustering import kmeans

    asg = kmeans(spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS)
    corpus = asg.withColumn("scale", F.expr(_QSCALE_EXPR)).withColumn(
        "q", F.expr(_QARR_EXPR)
    )
    queries = _ivf_queries(asg, F.col("cent_id").alias("q_cent"))
    ivf = topk(
        corpus.join(
            F.broadcast(queries),
            (F.col("cent_id") == F.col("q_cent"))
            & (F.col("vec_id") != F.col("query_id")),
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.col("scale") * dot(F.col("q"), F.col("q_emb"))).alias(
                "approx_raw"
            ),
            dot(F.col("embedding"), F.col("q_emb")).alias("exact_raw"),
        ),
        F.desc("approx_raw"),
        _IVF_TOP_K,
    )
    exact = exact_topk(table(spark, sf_dir, "embeddings"), queries, _IVF_TOP_K)
    hits = hit_counts(ivf, exact, ("query_id",))
    return ivf.join(hits, "query_id", "left").select(
        "query_id",
        "neighbor_id",
        F.round("approx_raw", 6).alias("approx_sim"),
        F.round("exact_raw", 6).alias("exact_sim"),
        _recall(_IVF_TOP_K),
    )


# ---- maximin-seeded k-means (q330) --------------------------------------
def _maximin_seed_ctes(k: int) -> str:
    """Unrolled farthest-first seeding (clustering.maximin_seeds's DuckDB
    twin): s0 = vec_id 0; each rung picks the vector minimizing the max
    similarity to all previous seeds (ties → lowest vec_id, chosen ids
    excluded). greatest() over identical doubles is exact, so rung
    selection is bit-identical cross-engine."""
    parts = ["s0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0)"]
    for t in range(1, k):
        rels = ", ".join(f"s{j} a{j}" for j in range(t))
        dots = ", ".join(
            dot_sql("e.embedding", f"a{j}.embedding") for j in range(t)
        )
        worst = f"greatest({dots})" if t > 1 else dots
        excl = " UNION ALL ".join(f"SELECT vec_id FROM s{j}" for j in range(t))
        parts.append(f"""s{t} AS MATERIALIZED (
        SELECT vec_id, embedding FROM (
            SELECT e.vec_id, e.embedding,
                   row_number() OVER (ORDER BY {worst} ASC, e.vec_id) AS rn
            FROM embeddings e, {rels}
            WHERE e.vec_id NOT IN ({excl})
        ) WHERE rn = 1
    )""")
    return ",\n    ".join(parts)


_MAXIMIN_INIT_SQL = (
    "SELECT vec_id AS cent_id, embedding AS cent_emb FROM ("
    + " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(_N_CENTROIDS))
    + ")"
)


@query(
    "q330_kmeans_maximin_seed",
    oracle=f"""
    WITH {_maximin_seed_ctes(_N_CENTROIDS)},
    {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS, init_sql=_MAXIMIN_INIT_SQL)}
    SELECT a.cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           round(MIN({dot_sql('a.embedding', 'c.cent_emb')}), 6) + 0.0 AS min_sim,
           round(MAX({dot_sql('a.embedding', 'c.cent_emb')}), 6) + 0.0 AS max_sim
    FROM asg{_IVF_ITERS - 1} a
    JOIN cent{_IVF_ITERS - 1} c ON c.cent_id = a.cent_id
    GROUP BY a.cent_id
    """,
)
def q330_kmeans_maximin_seed(spark, sf_dir) -> DataFrame:
    """K-MEANS WITH DISTANCE-AWARE SEEDING (SURVEY round-9 forward-plan
    item 1): the Lloyd loop initialized from clustering.maximin_seeds —
    deterministic farthest-first traversal (Gonzalez 1985), the
    determinism-preserving stand-in for k-means++/k-means||'s weighted
    sampling, so the ENTIRE train (seed chain + every Lloyd iteration)
    stays closed-form differentially oracled: the seed rungs unroll as
    argmin-of-greatest CTEs, then feed cent0 of the same unrolled Lloyd
    chain q319 uses. A wrong seed pick, a tie broken differently, or an
    iteration initialized off the first-k path all hash-fail. (Both
    engines need the same blowup guard here: rung t references every
    earlier rung, so a pure-lazy spelling expands ~3^k plan nodes —
    Spark's analyzer OOMs and DuckDB's inlined CTEs exhaust file
    handles re-scanning the parquet. The Spark side collects each seed
    to the driver, the oracle pins AS MATERIALIZED.)

    The checked result is the per-cluster quality summary (cent_id =
    seed vec_id, member count, min/max member→centroid similarity —
    min/max because they're order-independent doubles; mean-of-dots is
    the one aggregate the decimal trick can't make portable): the
    balanced-cells claim of seeded init vs q319's first-k becomes
    hashed data, comparable across the two queries' results.

    Scale: seeding is k−1 scans × TakeOrdered(1) (one row moves per
    scan; at 100 TB it runs on q327's training sample and k-means||
    batches several seeds per scan), then the standard broadcast-argmax
    Lloyd loop — the corpus never shuffles anywhere in this plan."""
    from .clustering import kmeans_fit, maximin_seeds

    seeds = maximin_seeds(spark, sf_dir, k=_N_CENTROIDS)
    asg, cents = kmeans_fit(
        spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS,
        init_centroids=seeds,
    )
    sims = asg.join(F.broadcast(cents), "cent_id").select(
        "cent_id", dot(F.col("embedding"), F.col("cent_emb")).alias("sim")
    )
    return sims.groupBy("cent_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.round(F.min("sim"), 6).alias("min_sim"),
        F.round(F.max("sim"), 6).alias("max_sim"),
    )


# ---- product quantization with real subspace codebooks (q331) -----------
_PQ_SUBS = ((1, 32), (33, 32))  # 1-based (start, length): 64-d → 2 × 32-d
_PQ_CB_K = 8                    # centroids per subspace codebook


def _pq_best_expr(
    arr_col: str, start: int, length: int, col: str = "embedding"
) -> str:
    """Scan-stage PQ encode for one subspace: argmax over the broadcast
    codebook array of (dot(centroid, subvector), cent_id, cent_emb) —
    assign_to_centroids's fold widened to also return the winning
    centroid VECTOR, so encode and reconstruct happen in the same
    expression with zero shuffle. Ties → lowest cent_id (array sorted,
    strictly-better keeps). ``col`` (q335): encode a different array
    column, e.g. the residual."""
    sub = f"slice({col}, {start}, {length})"
    sims = (
        f"transform({arr_col}, c -> struct("
        f" aggregate(zip_with(c.cent_emb, {sub},"
        "   (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        "   CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS sim,"
        " c.cent_id AS cent_id, c.cent_emb AS cent_emb))"
    )
    return (
        f"aggregate({sims},"
        " CAST(NULL AS STRUCT<sim: DOUBLE, cent_id: BIGINT,"
        " cent_emb: ARRAY<FLOAT>>),"
        " (acc, s) -> CASE WHEN acc IS NULL OR s.sim > acc.sim"
        " THEN s ELSE acc END)"
    )


def _pq_codebooks(spark, sf_dir, src: DataFrame, col: str) -> list[DataFrame]:
    """Train one k-means codebook per _PQ_SUBS slice of ``src[col]`` and
    fold each to a 1-row array column __cb0 / __cb1 (sorted by cent_id)
    that crossJoin-broadcasts into the encode scan."""
    from .clustering import kmeans_fit

    folded = []
    for i, (st, ln) in enumerate(_PQ_SUBS):
        sub = src.select("vec_id", F.slice(col, st, ln).alias("embedding"))
        _, cents = kmeans_fit(
            spark, sf_dir, k=_PQ_CB_K, iterations=_IVF_ITERS, source=sub
        )
        folded.append(
            cents.agg(
                F.array_sort(
                    F.collect_list(F.struct("cent_id", "cent_emb"))
                ).alias(f"__cb{i}")
            )
        )
    return folded


@query(
    "q331_pq_adc",
    oracle=f"""
    WITH sub1 AS (
        SELECT vec_id, list_slice(embedding, 1, 32) AS embedding
        FROM embeddings
    ),
    sub2 AS (
        SELECT vec_id, list_slice(embedding, 33, 64) AS embedding
        FROM embeddings
    ),
    {_kmeans_oracle_ctes(_PQ_CB_K, _IVF_ITERS, src_rel='sub1', prefix='p1_')},
    {_kmeans_oracle_ctes(_PQ_CB_K, _IVF_ITERS, src_rel='sub2', prefix='p2_')},
    codes AS (
        SELECT e.vec_id, e.embedding,
               a1.cent_id AS code1, c1.cent_emb AS ce1,
               a2.cent_id AS code2, c2.cent_emb AS ce2
        FROM embeddings e
        JOIN p1_asg{_IVF_ITERS - 1} a1 ON a1.vec_id = e.vec_id
        JOIN p1_cent{_IVF_ITERS - 1} c1 ON c1.cent_id = a1.cent_id
        JOIN p2_asg{_IVF_ITERS - 1} a2 ON a2.vec_id = e.vec_id
        JOIN p2_cent{_IVF_ITERS - 1} c2 ON c2.cent_id = a2.cent_id
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb,
               list_slice(embedding, 1, 32) AS q1,
               list_slice(embedding, 33, 64) AS q2
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    pq AS (
        SELECT query_id, neighbor_id, code1, code2, approx_raw, exact_raw
        FROM (
            SELECT qu.query_id, c.vec_id AS neighbor_id, c.code1, c.code2,
                   {dot_sql('c.ce1', 'qu.q1')} + {dot_sql('c.ce2', 'qu.q2')}
                       AS approx_raw,
                   {dot_sql('c.embedding', 'qu.q_emb')} AS exact_raw,
                   row_number() OVER (
                       PARTITION BY qu.query_id
                       ORDER BY {dot_sql('c.ce1', 'qu.q1')}
                                + {dot_sql('c.ce2', 'qu.q2')} DESC,
                                c.vec_id
                   ) AS rn
            FROM codes c JOIN queries qu ON c.vec_id <> qu.query_id
        ) WHERE rn <= {_PQ_TOP_K}
    ),
    {_exact_cte(_PQ_TOP_K)},
    {_matched_cte('pq')}
    SELECT p.query_id, p.neighbor_id, p.code1, p.code2,
           round(p.approx_raw, 6) + 0.0 AS approx_sim,
           round(p.exact_raw, 6) + 0.0 AS exact_sim,
           round(COALESCE(m.n_hit, 0) / {float(_PQ_TOP_K)}, 6) AS recall
    FROM pq p LEFT JOIN matched m ON m.query_id = p.query_id
    """,
)
def q331_pq_adc(spark, sf_dir) -> DataFrame:
    """PRODUCT QUANTIZATION with REAL per-subspace codebooks (SURVEY
    round-9 item 1; Jégou et al. 2011 proper, upgrading q328's scalar
    stand-in): the 64-d embedding splits into {len(_PQ_SUBS)} × 32-d
    subvectors, an independent k-means codebook (k=8, the
    shared unrolled-Lloyd oracle chain per subspace via src_rel/prefix)
    trains on each slice, every vector encodes as its per-subspace
    nearest-centroid ids — {len(_PQ_SUBS)} small ints replacing 64
    floats, the 100 TB storage shape — and ADC scoring reconstructs
    from the codebooks: approx = Σ_j ⟨codebook_j[code_j], q_sub_j⟩
    (the sum of two doubles in fixed operand order — exact parity).

    Everything is hashed data: the codes themselves (code1/code2 — a
    wrong codebook or tiebreak shows up directly), the approx and
    exact scores per emitted neighbor, and recall@5 vs the
    exact float top-k per query. Both training chains, both encodes,
    the ADC ranking and the recall join replicate closed-form in
    DuckDB — a differentially-tested PQ index end to end.

    Plan discipline: training is the q319 broadcast-argmax loop per
    subspace (corpus never shuffles); ENCODE + RECONSTRUCT happen in
    one scan — each codebook folds to a 1-row array, crossJoin-
    broadcasts, and a widened assign_to_centroids fold returns the
    winning (cent_id, cent_emb) per subspace, so no corpus-sized join
    assembles the code table (the naive per-subspace-assignment join
    would shuffle the corpus on vec_id once per subspace). Queries
    broadcast; ranking is per-partition window heads."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = em
    for cb in _pq_codebooks(spark, sf_dir, em, "embedding"):
        corpus = corpus.crossJoin(F.broadcast(cb))
    corpus = corpus.select(
        "vec_id",
        "embedding",
        F.expr(_pq_best_expr("__cb0", *_PQ_SUBS[0])).alias("__b0"),
        F.expr(_pq_best_expr("__cb1", *_PQ_SUBS[1])).alias("__b1"),
    )
    queries = em.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.slice("embedding", *_PQ_SUBS[0]).alias("q1"),
        F.slice("embedding", *_PQ_SUBS[1]).alias("q2"),
    )
    cands = (
        corpus.join(
            F.broadcast(queries), F.col("vec_id") != F.col("query_id")
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("__b0.cent_id").alias("code1"),
            F.col("__b1.cent_id").alias("code2"),
            (
                dot(F.col("__b0.cent_emb"), F.col("q1"))
                + dot(F.col("__b1.cent_emb"), F.col("q2"))
            ).alias("approx_raw"),
            dot(F.col("embedding"), F.col("q_emb")).alias("exact_raw"),
        )
    )
    pq = topk(cands, F.desc("approx_raw"), _PQ_TOP_K)
    exact = exact_topk(em, queries, _PQ_TOP_K)
    hits = hit_counts(pq, exact, ("query_id",))
    return pq.join(hits, "query_id", "left").select(
        "query_id",
        "neighbor_id",
        "code1",
        "code2",
        F.round("approx_raw", 6).alias("approx_sim"),
        F.round("exact_raw", 6).alias("exact_sim"),
        _recall(_PQ_TOP_K),
    )


# ---- rotation-PQ (q340): orthogonal transform before quantization ------
# Sylvester-Hadamard rotation, scaled orthonormal: R[i][j] =
# (-1)^popcount(i & j) / 8 for dim 64 (H H^T = 64 I). Chosen over a
# LEARNED OPQ rotation deliberately: the alternating-SVD fit is not
# relationally expressible (adjudicated like HNSW/streaming-maximin),
# while the Hadamard rotation is the standard non-learned instantiation
# of the same idea (FAISS's RandomRotation / "RR" OPQ fallback) AND is
# exactly reproducible in both engines — signs are integers, /8 is a
# power of two, and the fold order matches functions.dot, so the
# rotated corpus is bit-identical cross-engine (verified).
_ROT_EXPR_SPARK = (
    "transform(sequence(0, 63), i -> CAST(aggregate("
    " zip_with(embedding, sequence(0, 63),"
    "  (v, j) -> CASE WHEN bit_count(i & j) % 2 = 0"
    "   THEN CAST(v AS DOUBLE) ELSE -CAST(v AS DOUBLE) END),"
    " CAST(0.0 AS DOUBLE), (acc, s) -> acc + s) / 8.0 AS FLOAT))"
)
_ROT_EXPR_SQL = (
    "list_transform(range(64), i -> CAST(list_sum("
    " list_transform(range(64), j -> CASE WHEN bit_count(i & j) % 2 = 0"
    "  THEN CAST(embedding[j + 1] AS DOUBLE)"
    "  ELSE -CAST(embedding[j + 1] AS DOUBLE) END)) / 8.0 AS FLOAT))"
)


def _q340_rotated(spark, sf_dir) -> DataFrame:
    """The rotated corpus, materialized once per source stamp (the
    production artifact: rotated vectors are what an OPQ/RR index
    STORES; every consumer — two codebook trainings, the encode scan,
    the query projection — then reads a flat parquet scan instead of
    duplicating the rotation subtree into each unrolled Lloyd lineage,
    the q335 plan-blowup guard). v1 + the rotation name in the key."""
    from ..io import materialize_once, memo_location

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rot = em.select("vec_id", F.expr(_ROT_EXPR_SPARK).alias("embedding"))
    out = memo_location("q340_rot_hadamard_v1", sf_dir, "embeddings")
    return materialize_once(spark, out, lambda p: rot.write.parquet(p))


@query(
    "q340_pq_rotated",
    oracle=f"""
    WITH rot AS MATERIALIZED (
        SELECT vec_id, {_ROT_EXPR_SQL} AS embedding FROM embeddings
    ),
    rsub1 AS MATERIALIZED (
        SELECT vec_id, list_slice(embedding, 1, 32) AS embedding FROM rot
    ),
    rsub2 AS MATERIALIZED (
        SELECT vec_id, list_slice(embedding, 33, 64) AS embedding FROM rot
    ),
    {{ctes1}},
    {{ctes2}},
    codes AS (
        SELECT e.vec_id, e.embedding,
               a1.cent_id AS code1, c1.cent_emb AS ce1,
               a2.cent_id AS code2, c2.cent_emb AS ce2
        FROM embeddings e
        JOIN r1_asg{_IVF_ITERS - 1} a1 ON a1.vec_id = e.vec_id
        JOIN r1_cent{_IVF_ITERS - 1} c1 ON c1.cent_id = a1.cent_id
        JOIN r2_asg{_IVF_ITERS - 1} a2 ON a2.vec_id = e.vec_id
        JOIN r2_cent{_IVF_ITERS - 1} c2 ON c2.cent_id = a2.cent_id
    ),
    queries AS (
        SELECT e.vec_id AS query_id, e.embedding AS q_emb,
               list_slice(r.embedding, 1, 32) AS q1,
               list_slice(r.embedding, 33, 64) AS q2
        FROM embeddings e JOIN rot r ON r.vec_id = e.vec_id
        WHERE e.vec_id < {_N_QUERIES}
    ),
    pq AS (
        SELECT query_id, neighbor_id, code1, code2, approx_raw, exact_raw
        FROM (
            SELECT qu.query_id, c.vec_id AS neighbor_id, c.code1, c.code2,
                   {dot_sql('c.ce1', 'qu.q1')} + {dot_sql('c.ce2', 'qu.q2')}
                       AS approx_raw,
                   {dot_sql('c.embedding', 'qu.q_emb')} AS exact_raw,
                   row_number() OVER (
                       PARTITION BY qu.query_id
                       ORDER BY {dot_sql('c.ce1', 'qu.q1')}
                                + {dot_sql('c.ce2', 'qu.q2')} DESC,
                                c.vec_id
                   ) AS rn
            FROM codes c JOIN queries qu ON c.vec_id <> qu.query_id
        ) WHERE rn <= {_PQ_TOP_K}
    ),
    {_exact_cte(_PQ_TOP_K)},
    {_matched_cte('pq')}
    SELECT p.query_id, p.neighbor_id, p.code1, p.code2,
           round(p.approx_raw, 6) + 0.0 AS approx_sim,
           round(p.exact_raw, 6) + 0.0 AS exact_sim,
           round(COALESCE(m.n_hit, 0) / {float(_PQ_TOP_K)}, 6) AS recall
    FROM pq p LEFT JOIN matched m ON m.query_id = p.query_id
    """.format(
        ctes1=_kmeans_oracle_ctes(
            _PQ_CB_K, _IVF_ITERS, src_rel="rsub1", prefix="r1_"
        ),
        ctes2=_kmeans_oracle_ctes(
            _PQ_CB_K, _IVF_ITERS, src_rel="rsub2", prefix="r2_"
        ),
    ),
)
def q340_pq_rotated(spark, sf_dir) -> DataFrame:
    """ROTATION-PQ (OPQ's non-learned instantiation — VERDICT r8 #8's
    "learned rotation before PQ" rung, adjudicated to the exactly-
    reproducible Hadamard rotation; see _ROT_EXPR_SPARK's rationale):
    the corpus is rotated by the orthonormal Sylvester-Hadamard matrix
    BEFORE q331's subspace split, so each 32-d subvector mixes all 64
    original coordinates — the energy-balancing effect a learned OPQ
    rotation optimizes, obtained transform-side. Because the rotation
    is orthogonal, dot products are preserved (⟨Rx, Ry⟩ = ⟨x, y⟩), so
    the EXACT ground truth is computed on the ORIGINAL embeddings while
    ADC scores live entirely in rotated space — the recall column
    therefore measures the true end-to-end index quality including the
    rotation's float round-trip.

    Hashed data: per-subspace codes from codebooks trained ON THE
    ROTATED slices (two more unrolled decimal-exact Lloyd chains over
    materialized rotated relations), ADC approx vs exact scores, and
    recall@5 — directly comparable against q331's unrotated
    row to measure what the rotation buys on this corpus.

    At 100 TB: the rotation is one scan-stage matvec (64 fused
    multiply-adds per output dim, JVM-side whole-stage codegen, no
    shuffle) writing the rotated table once — the same write-once memo
    every consumer then scans (io.materialize_once); queries rotate at
    lookup time (64×64 flops per query, driver-trivial)."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rot = _q340_rotated(spark, sf_dir)
    # encode in rotated space, carry the ORIGINAL vector for exact scoring
    corpus = rot.select("vec_id", F.col("embedding").alias("r_emb")).join(
        em, "vec_id"
    )
    for cb in _pq_codebooks(spark, sf_dir, rot, "embedding"):
        corpus = corpus.crossJoin(F.broadcast(cb))
    corpus = corpus.select(
        "vec_id",
        "embedding",
        F.expr(_pq_best_expr("__cb0", *_PQ_SUBS[0], col="r_emb")).alias(
            "__b0"
        ),
        F.expr(_pq_best_expr("__cb1", *_PQ_SUBS[1], col="r_emb")).alias(
            "__b1"
        ),
    )
    queries = em.filter(F.col("vec_id") < _N_QUERIES).join(
        rot.select("vec_id", F.col("embedding").alias("r_emb")), "vec_id"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.slice("r_emb", *_PQ_SUBS[0]).alias("q1"),
        F.slice("r_emb", *_PQ_SUBS[1]).alias("q2"),
    )
    cands = (
        corpus.join(
            F.broadcast(queries), F.col("vec_id") != F.col("query_id")
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("__b0.cent_id").alias("code1"),
            F.col("__b1.cent_id").alias("code2"),
            (
                dot(F.col("__b0.cent_emb"), F.col("q1"))
                + dot(F.col("__b1.cent_emb"), F.col("q2"))
            ).alias("approx_raw"),
            dot(F.col("embedding"), F.col("q_emb")).alias("exact_raw"),
        )
    )
    pq = topk(cands, F.desc("approx_raw"), _PQ_TOP_K)
    exact = exact_topk(em, queries, _PQ_TOP_K)
    hits = hit_counts(pq, exact, ("query_id",))
    return pq.join(hits, "query_id", "left").select(
        "query_id",
        "neighbor_id",
        "code1",
        "code2",
        F.round("approx_raw", 6).alias("approx_sim"),
        F.round("exact_raw", 6).alias("exact_sim"),
        _recall(_PQ_TOP_K),
    )


# ---- IVF-PQ end-to-end (q334): trained cells × subspace codebooks ------
@query(
    "q334_ivfpq",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS, prefix='c_')},
    sub1 AS (
        SELECT vec_id, list_slice(embedding, 1, 32) AS embedding
        FROM embeddings
    ),
    sub2 AS (
        SELECT vec_id, list_slice(embedding, 33, 64) AS embedding
        FROM embeddings
    ),
    {_kmeans_oracle_ctes(_PQ_CB_K, _IVF_ITERS, src_rel='sub1', prefix='p1_')},
    {_kmeans_oracle_ctes(_PQ_CB_K, _IVF_ITERS, src_rel='sub2', prefix='p2_')},
    codes AS (
        SELECT e.vec_id, e.embedding, cc.cent_id AS cell,
               a1.cent_id AS code1, c1.cent_emb AS ce1,
               a2.cent_id AS code2, c2.cent_emb AS ce2
        FROM embeddings e
        JOIN c_asg{_IVF_ITERS - 1} cc ON cc.vec_id = e.vec_id
        JOIN p1_asg{_IVF_ITERS - 1} a1 ON a1.vec_id = e.vec_id
        JOIN p1_cent{_IVF_ITERS - 1} c1 ON c1.cent_id = a1.cent_id
        JOIN p2_asg{_IVF_ITERS - 1} a2 ON a2.vec_id = e.vec_id
        JOIN p2_cent{_IVF_ITERS - 1} c2 ON c2.cent_id = a2.cent_id
    ),
    queries AS (
        SELECT c.vec_id AS query_id, c.embedding AS q_emb, c.cell AS q_cell,
               list_slice(c.embedding, 1, 32) AS q1,
               list_slice(c.embedding, 33, 64) AS q2
        FROM codes c WHERE c.vec_id >= 100 AND c.vec_id < 105
    ),
    ivfpq AS (
        SELECT query_id, neighbor_id, code1, code2, approx_raw, exact_raw
        FROM (
            SELECT qu.query_id, c.vec_id AS neighbor_id, c.code1, c.code2,
                   {dot_sql('c.ce1', 'qu.q1')} + {dot_sql('c.ce2', 'qu.q2')}
                       AS approx_raw,
                   {dot_sql('c.embedding', 'qu.q_emb')} AS exact_raw,
                   row_number() OVER (
                       PARTITION BY qu.query_id
                       ORDER BY {dot_sql('c.ce1', 'qu.q1')}
                                + {dot_sql('c.ce2', 'qu.q2')} DESC,
                                c.vec_id
                   ) AS rn
            FROM queries qu JOIN codes c
              ON c.cell = qu.q_cell AND c.vec_id <> qu.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K)},
    {_matched_cte('ivfpq')}
    SELECT i.query_id, i.neighbor_id, i.code1, i.code2,
           round(i.approx_raw, 6) + 0.0 AS approx_sim,
           round(i.exact_raw, 6) + 0.0 AS exact_sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall
    FROM ivfpq i LEFT JOIN matched m ON m.query_id = i.query_id
    """,
)
def q334_ivfpq(spark, sf_dir) -> DataFrame:
    """IVF-PQ END-TO-END — the two halves composed (SURVEY round-9
    item 1; both built this round): q319's trained coarse quantizer
    scopes the search to the query's cell, and WITHIN the cell q331's
    per-subspace codebooks score candidates by PQ-ADC. This is the
    production FAISS IVFADC shape with two honest simplifications,
    both declared: the PQ encodes RAW vectors rather than residuals
    (x − coarse_centroid) — residual encoding needs per-cell codebook
    arithmetic the oracle would state identically, at 2× the CTE bill —
    and m=2 subspaces of 32 dims. The index stores, per vector:
    (cell, code1, code2) — three small ints replacing 64 floats; the
    cell partition bounds the scan, the codes bound the bytes.

    All three training chains (coarse + two subspaces) plus encode,
    cell-scoped ADC ranking, and recall vs the exact full-corpus top-k
    replicate closed-form in DuckDB via the prefixed unrolled-Lloyd
    CTEs. Every error source is measurable in the hashed result:
    cell restriction (recall), quantization (approx vs exact per
    neighbor), and a wrong codebook or assignment (the codes).

    Plan: training never shuffles the corpus (broadcast-argmax loops);
    the serving scan computes cell + both codes + both reconstructions
    in ONE pass (three 1-row broadcast folds); queries broadcast;
    ranking is per-partition window heads. At 100 TB the encoded table
    persists partitioned by cell and the scan reads only probed
    partitions — q328's contract with q331's bytes."""
    from .clustering import kmeans

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    asg = kmeans(spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS)
    corpus = asg
    for cb in _pq_codebooks(spark, sf_dir, em, "embedding"):
        corpus = corpus.crossJoin(F.broadcast(cb))
    corpus = corpus.select(
        "vec_id",
        "embedding",
        F.col("cent_id").alias("cell"),
        F.expr(_pq_best_expr("__cb0", *_PQ_SUBS[0])).alias("__b0"),
        F.expr(_pq_best_expr("__cb1", *_PQ_SUBS[1])).alias("__b1"),
    )
    queries = _ivf_queries(
        corpus,
        F.col("cell").alias("q_cell"),
        F.slice("embedding", *_PQ_SUBS[0]).alias("q1"),
        F.slice("embedding", *_PQ_SUBS[1]).alias("q2"),
    )
    cands = (
        corpus.join(
            F.broadcast(queries),
            (F.col("cell") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("__b0.cent_id").alias("code1"),
            F.col("__b1.cent_id").alias("code2"),
            (
                dot(F.col("__b0.cent_emb"), F.col("q1"))
                + dot(F.col("__b1.cent_emb"), F.col("q2"))
            ).alias("approx_raw"),
            dot(F.col("embedding"), F.col("q_emb")).alias("exact_raw"),
        )
    )
    ivfpq = topk(cands, F.desc("approx_raw"), _IVF_TOP_K)
    exact = exact_topk(em, queries, _IVF_TOP_K)
    hits = hit_counts(ivfpq, exact, ("query_id",))
    return ivfpq.join(hits, "query_id", "left").select(
        "query_id",
        "neighbor_id",
        "code1",
        "code2",
        F.round("approx_raw", 6).alias("approx_sim"),
        F.round("exact_raw", 6).alias("exact_sim"),
        _recall(_IVF_TOP_K),
    )


# ---- residual-encoding IVF-PQ (q335): textbook IVFADC ------------------
_RESID_EXPR = (
    "CAST(CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE) AS FLOAT)"
)


def _q335_resid(spark, sf_dir) -> DataFrame:
    """The materialized residual table (vec_id, embedding, cell,
    cell_emb, r_emb) shared by q335 and q337: coarse-assign, compute
    float32-narrowed residuals in the scan, persist via the
    materialize_once memo (full-path slug + source stamp — the
    shingles convention). Every consumer then reads a flat scan, which
    is both the plan-blowup guard (see q335's docstring) and the
    production IVFADC shape."""
    from .clustering import kmeans_fit
    from ..io import materialize_once, memo_location

    asg, ccents = kmeans_fit(
        spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS
    )
    resid_lazy = (
        asg.alias("a")
        .join(
            F.broadcast(ccents.alias("c")),
            F.col("a.cent_id") == F.col("c.cent_id"),
        )
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("a.embedding").alias("embedding"),
            F.col("a.cent_id").alias("cell"),
            F.col("c.cent_emb").alias("cell_emb"),
            F.zip_with(
                F.col("a.embedding"),
                F.col("c.cent_emb"),
                lambda x, y: (x.cast("double") - y.cast("double")).cast(
                    "float"
                ),
            ).alias("r_emb"),
        )
    )
    # v1 + model knobs in the key, bumped in LOCKSTEP with the
    # kmeans_cent_v1 memo it derives from: a kernel-version bump that
    # refreshed the centroid memo but not this one would silently serve
    # residuals computed from the OLD model (surfacing only as a
    # differential hash failure instead of a rebuild).
    out = memo_location(
        f"q335_resid_v1_k{_N_CENTROIDS}_i{_IVF_ITERS}", sf_dir, "embeddings"
    )
    return materialize_once(
        spark, out, lambda p: resid_lazy.write.parquet(p)
    )


@query(
    "q335_ivfpq_residual",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS, prefix='c_')},
    resid AS MATERIALIZED (
        SELECT a.vec_id, a.embedding, a.cent_id AS cell, c.cent_emb AS cell_emb,
               list_transform(list_zip(a.embedding, c.cent_emb),
                              s -> {_RESID_EXPR}) AS r_emb
        FROM c_asg{_IVF_ITERS - 1} a
        JOIN c_cent{_IVF_ITERS - 1} c ON c.cent_id = a.cent_id
    ),
    rsub1 AS MATERIALIZED (
        SELECT vec_id, list_slice(r_emb, 1, 32) AS embedding FROM resid
    ),
    rsub2 AS MATERIALIZED (
        SELECT vec_id, list_slice(r_emb, 33, 64) AS embedding FROM resid
    ),
    {_kmeans_oracle_ctes(_PQ_CB_K, _IVF_ITERS, src_rel='rsub1', prefix='p1_')},
    {_kmeans_oracle_ctes(_PQ_CB_K, _IVF_ITERS, src_rel='rsub2', prefix='p2_')},
    codes AS (
        SELECT r.vec_id, r.embedding, r.cell, r.cell_emb,
               a1.cent_id AS code1, c1.cent_emb AS ce1,
               a2.cent_id AS code2, c2.cent_emb AS ce2
        FROM resid r
        JOIN p1_asg{_IVF_ITERS - 1} a1 ON a1.vec_id = r.vec_id
        JOIN p1_cent{_IVF_ITERS - 1} c1 ON c1.cent_id = a1.cent_id
        JOIN p2_asg{_IVF_ITERS - 1} a2 ON a2.vec_id = r.vec_id
        JOIN p2_cent{_IVF_ITERS - 1} c2 ON c2.cent_id = a2.cent_id
    ),
    queries AS (
        SELECT c.vec_id AS query_id, c.embedding AS q_emb, c.cell AS q_cell,
               list_slice(c.embedding, 1, 32) AS q1,
               list_slice(c.embedding, 33, 64) AS q2
        FROM codes c WHERE c.vec_id >= 100 AND c.vec_id < 105
    ),
    ivfpq AS (
        SELECT query_id, neighbor_id, code1, code2, approx_raw, exact_raw
        FROM (
            SELECT qu.query_id, c.vec_id AS neighbor_id, c.code1, c.code2,
                   {dot_sql('c.cell_emb', 'qu.q_emb')}
                       + {dot_sql('c.ce1', 'qu.q1')}
                       + {dot_sql('c.ce2', 'qu.q2')} AS approx_raw,
                   {dot_sql('c.embedding', 'qu.q_emb')} AS exact_raw,
                   row_number() OVER (
                       PARTITION BY qu.query_id
                       ORDER BY {dot_sql('c.cell_emb', 'qu.q_emb')}
                                + {dot_sql('c.ce1', 'qu.q1')}
                                + {dot_sql('c.ce2', 'qu.q2')} DESC,
                                c.vec_id
                   ) AS rn
            FROM queries qu JOIN codes c
              ON c.cell = qu.q_cell AND c.vec_id <> qu.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K)},
    {_matched_cte('ivfpq')}
    SELECT i.query_id, i.neighbor_id, i.code1, i.code2,
           round(i.approx_raw, 6) + 0.0 AS approx_sim,
           round(i.exact_raw, 6) + 0.0 AS exact_sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall
    FROM ivfpq i LEFT JOIN matched m ON m.query_id = i.query_id
    """,
)
def q335_ivfpq_residual(spark, sf_dir) -> DataFrame:
    """RESIDUAL-ENCODING IVF-PQ — textbook IVFADC (Jégou et al. 2011
    §IV; closes q334's declared delta): the PQ codebooks train on and
    encode the RESIDUAL r = x − coarse_centroid(x), so codebook
    capacity models the within-cell displacement rather than absolute
    position — the reason FAISS defaults to residual encoding — and
    ADC scoring adds the coarse term back:
    approx = ⟨cell_centroid, q⟩ + Σ_j ⟨codebook_j[code_j], q_sub_j⟩
    (three doubles summed in fixed left-to-right order on identical
    operands — exact parity; with the search cell-scoped the coarse
    term is constant per query, but the general candidate-cell
    spelling is kept so multiprobe composes unchanged).

    The parity-critical design point: residuals NARROW TO FLOAT32
    (CAST(x_d − c_d AS FLOAT), the same double subtraction + IEEE
    narrowing on both engines — also what FAISS stores). Keeping raw
    double residuals would poison the Lloyd chain: the decimal(28,12)
    sums that make centroid means order-independent are only
    engine-portable for values EXACT at that scale (float32 shortest
    reprs are; full-precision doubles are not — functions.py's scale
    rule), so the float32 narrowing is what lets the entire
    residual-codebook train reuse the unrolled oracle machinery
    unchanged. Codebooks are GLOBAL across cells (FAISS's default
    IVFADC layout — per-cell codebooks are the by_residual variant the
    oracle could state with k more CTE chains).

    Plan: one broadcast join (k-row centroid set) computes residuals
    in the scan, and the residual table MATERIALIZES (write-once memo,
    io.materialize_once — exact float32 parquet round-trip): every
    later stage reads a flat scan. This is a correctness-of-cost
    requirement, not a cache nicety — the coarse Lloyd lineage
    embedded lazily inside each codebook-training iteration multiplies
    to ~2^iters(coarse) × 2^iters(codebook) × m plan leaves and OOMs
    the driver during analysis (measured here; q330's blowup class at
    one level deeper), and it is also exactly what production IVFADC
    does: the residual/encoded table persists, training and serving
    read it. The oracle needs the same guard: the resid/rsub CTEs are
    AS MATERIALIZED, else DuckDB re-inlines the coarse chain into
    every codebook iteration (measured: hung past 300 s; materialized
    it runs ~4 s). Codebook training is then the standard
    broadcast-argmax loop over residual slices; encode + reconstruct
    ride the same one-scan fold family as q331/q334. Corpus never
    shuffles."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    resid = _q335_resid(spark, sf_dir)
    corpus = resid
    for cb in _pq_codebooks(spark, sf_dir, resid, "r_emb"):
        corpus = corpus.crossJoin(F.broadcast(cb))
    corpus = corpus.select(
        "vec_id",
        "embedding",
        "cell",
        "cell_emb",
        F.expr(_pq_best_expr("__cb0", *_PQ_SUBS[0], col="r_emb")).alias(
            "__b0"
        ),
        F.expr(_pq_best_expr("__cb1", *_PQ_SUBS[1], col="r_emb")).alias(
            "__b1"
        ),
    )
    queries = _ivf_queries(
        corpus,
        F.col("cell").alias("q_cell"),
        F.slice("embedding", *_PQ_SUBS[0]).alias("q1"),
        F.slice("embedding", *_PQ_SUBS[1]).alias("q2"),
    )
    cands = (
        corpus.join(
            F.broadcast(queries),
            (F.col("cell") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("__b0.cent_id").alias("code1"),
            F.col("__b1.cent_id").alias("code2"),
            (
                dot(F.col("cell_emb"), F.col("q_emb"))
                + dot(F.col("__b0.cent_emb"), F.col("q1"))
                + dot(F.col("__b1.cent_emb"), F.col("q2"))
            ).alias("approx_raw"),
            dot(F.col("embedding"), F.col("q_emb")).alias("exact_raw"),
        )
    )
    ivfpq = topk(cands, F.desc("approx_raw"), _IVF_TOP_K)
    exact = exact_topk(em, queries, _IVF_TOP_K)
    hits = hit_counts(ivfpq, exact, ("query_id",))
    return ivfpq.join(hits, "query_id", "left").select(
        "query_id",
        "neighbor_id",
        "code1",
        "code2",
        F.round("approx_raw", 6).alias("approx_sim"),
        F.round("exact_raw", 6).alias("exact_sim"),
        _recall(_IVF_TOP_K),
    )


# ---- per-cell codebook IVFADC (q337): FAISS by_residual proper ----------
def _percell_chains() -> str:
    """The 16 per-cell-per-subspace codebook training chains (8 cells ×
    2 subspaces), each an independent unrolled Lloyd over that cell's
    residual slice. train_pred='TRUE' routes _kmeans_oracle_ctes onto
    its ORDER BY vec_id LIMIT k init — first-k OF THE CELL, since cell
    membership is arbitrary vec_ids (the vec_id < k spelling would pick
    rows outside the cell)."""
    parts = []
    for c in range(_N_CENTROIDS):
        for j, (lo, hi) in enumerate([(1, 32), (33, 64)]):
            rel = (
                f"(SELECT vec_id, list_slice(r_emb, {lo}, {hi}) AS embedding"
                f" FROM resid WHERE cell = {c})"
            )
            parts.append(
                _kmeans_oracle_ctes(
                    _PQ_CB_K,
                    _IVF_ITERS,
                    train_pred="TRUE",
                    src_rel=rel,
                    prefix=f"c{c}s{j}_",
                )
            )
    return ",\n    ".join(parts)


def _percell_union(j: int, what: str) -> str:
    """UNION ALL across cells of the final per-cell assignment (what =
    'asg': vec_id → cent_id) or codebook (what = 'cent': cell, cent_id,
    cent_emb) for subspace j."""
    t = _IVF_ITERS - 1
    if what == "asg":
        return " UNION ALL ".join(
            f"SELECT vec_id, cent_id FROM c{c}s{j}_asg{t}"
            for c in range(_N_CENTROIDS)
        )
    return " UNION ALL ".join(
        f"SELECT {c} AS cell, cent_id, cent_emb FROM c{c}s{j}_cent{t}"
        for c in range(_N_CENTROIDS)
    )


@query(
    "q337_ivfpq_percell",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS, prefix='c_')},
    resid AS MATERIALIZED (
        SELECT a.vec_id, a.embedding, a.cent_id AS cell, c.cent_emb AS cell_emb,
               list_transform(list_zip(a.embedding, c.cent_emb),
                              s -> {_RESID_EXPR}) AS r_emb
        FROM c_asg{_IVF_ITERS - 1} a
        JOIN c_cent{_IVF_ITERS - 1} c ON c.cent_id = a.cent_id
    ),
    {_percell_chains()},
    asg_s0 AS ({_percell_union(0, 'asg')}),
    asg_s1 AS ({_percell_union(1, 'asg')}),
    cb_s0 AS ({_percell_union(0, 'cent')}),
    cb_s1 AS ({_percell_union(1, 'cent')}),
    codes AS MATERIALIZED (
        SELECT r.vec_id, r.embedding, r.cell, r.cell_emb,
               a0.cent_id AS code1, b0.cent_emb AS ce1,
               a1.cent_id AS code2, b1.cent_emb AS ce2
        FROM resid r
        JOIN asg_s0 a0 ON a0.vec_id = r.vec_id
        JOIN cb_s0 b0 ON b0.cell = r.cell AND b0.cent_id = a0.cent_id
        JOIN asg_s1 a1 ON a1.vec_id = r.vec_id
        JOIN cb_s1 b1 ON b1.cell = r.cell AND b1.cent_id = a1.cent_id
    ),
    queries AS (
        SELECT c.vec_id AS query_id, c.embedding AS q_emb, c.cell AS q_cell,
               list_slice(c.embedding, 1, 32) AS q1,
               list_slice(c.embedding, 33, 64) AS q2
        FROM codes c WHERE c.vec_id >= 100 AND c.vec_id < 105
    ),
    ivfpq AS (
        SELECT query_id, neighbor_id, code1, code2, approx_raw, exact_raw
        FROM (
            SELECT qu.query_id, c.vec_id AS neighbor_id, c.code1, c.code2,
                   {dot_sql('c.cell_emb', 'qu.q_emb')}
                       + {dot_sql('c.ce1', 'qu.q1')}
                       + {dot_sql('c.ce2', 'qu.q2')} AS approx_raw,
                   {dot_sql('c.embedding', 'qu.q_emb')} AS exact_raw,
                   row_number() OVER (
                       PARTITION BY qu.query_id
                       ORDER BY {dot_sql('c.cell_emb', 'qu.q_emb')}
                                + {dot_sql('c.ce1', 'qu.q1')}
                                + {dot_sql('c.ce2', 'qu.q2')} DESC,
                                c.vec_id
                   ) AS rn
            FROM queries qu JOIN codes c
              ON c.cell = qu.q_cell AND c.vec_id <> qu.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K)},
    {_matched_cte('ivfpq')}
    SELECT i.query_id, i.neighbor_id, i.code1, i.code2,
           round(i.approx_raw, 6) + 0.0 AS approx_sim,
           round(i.exact_raw, 6) + 0.0 AS exact_sim,
           round(COALESCE(m.n_hit, 0) / {float(_IVF_TOP_K)}, 6) AS recall
    FROM ivfpq i LEFT JOIN matched m ON m.query_id = i.query_id
    """,
)
def q337_ivfpq_percell(spark, sf_dir) -> DataFrame:
    """PER-CELL codebook IVFADC — FAISS's by_residual layout proper
    (the last declared delta, SURVEY round-9 item 1): every coarse cell
    trains its OWN pair of subspace codebooks on ITS members' residuals
    — 8 cells × 2 subspaces = 16 independent Lloyd chains — so codebook
    capacity adapts to each cell's residual geometry instead of
    averaging across cells (the reason FAISS by_residual beats global
    codebooks on clustered data). Per-cell init must be first-k OF THE
    CELL in vec_id order (cell membership is arbitrary ids; the
    vec_id < k spelling would miss the cell entirely) — the same
    TakeOrdered discipline as q327's sampled init, routed via
    train_pred. A codebook lookup is now (cell, code): per-vector index
    storage is unchanged at (cell, code1, code2), and the decode table
    is k_cells × m × k_cb centroids — still kilobytes, still broadcast.

    All 17 training chains (1 coarse + 16 per-cell), the residual
    computation, per-cell encode, cell-scoped ADC ranking, and recall
    vs exact replicate closed-form in DuckDB — the oracle is ~16
    prefixed Lloyd chains over a MATERIALIZED residual CTE, mechanical
    composition of the q335 machinery. Spark side: the resid table is
    the q335 memo (shared — training reads a flat scan), each cell's
    codebook trains on a cell-filtered slice, and the 16 tiny codebooks
    collect to an 8-row (cell, cb0, cb1) frame that BROADCAST-joins the
    corpus on cell — encode + reconstruct stay one scan + one 8-row
    join; the corpus never shuffles. At 100 TB the per-cell training
    is embarrassingly parallel (cells are disjoint) and serving is
    identical to q335 with a (cell, code)-keyed decode map."""
    from .clustering import kmeans_fit
    from ..io import materialize_once, memo_location

    resid = _q335_resid(spark, sf_dir)
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb_schema = (
        "cell bigint, "
        "cb0 array<struct<cent_id: bigint, cent_emb: array<float>>>, "
        "cb1 array<struct<cent_id: bigint, cent_emb: array<float>>>"
    )

    # the 16 trainings are one-time ETL: the (cell, cb0, cb1) decode
    # table memoizes like the model itself (v1 key — bump on kernel
    # change), so later processes skip straight to serving
    def build_codebooks(path: str) -> None:
        rows = []
        for c in range(_N_CENTROIDS):
            cell_cbs = []
            for (st, ln) in _PQ_SUBS:
                sub = resid.filter(F.col("cell") == c).select(
                    "vec_id", F.slice("r_emb", st, ln).alias("embedding")
                )
                _, cents = kmeans_fit(
                    spark,
                    sf_dir,
                    k=_PQ_CB_K,
                    iterations=_IVF_ITERS,
                    source=sub,
                    train_where=F.lit(True),
                )
                got = sorted(
                    (r["cent_id"], r["cent_emb"]) for r in cents.collect()
                )
                cell_cbs.append(
                    [{"cent_id": i, "cent_emb": e} for i, e in got]
                )
            rows.append((c, cell_cbs[0], cell_cbs[1]))
        spark.createDataFrame(rows, cb_schema).coalesce(1).write.parquet(
            path
        )

    out = memo_location("q337_cbs_v1", sf_dir, "embeddings")
    cb_df = materialize_once(spark, out, build_codebooks)
    corpus = (
        resid.join(F.broadcast(cb_df), "cell")
        .select(
            "vec_id",
            "embedding",
            "cell",
            "cell_emb",
            F.expr(_pq_best_expr("cb0", *_PQ_SUBS[0], col="r_emb")).alias(
                "__b0"
            ),
            F.expr(_pq_best_expr("cb1", *_PQ_SUBS[1], col="r_emb")).alias(
                "__b1"
            ),
        )
    )
    queries = _ivf_queries(
        corpus,
        F.col("cell").alias("q_cell"),
        F.slice("embedding", *_PQ_SUBS[0]).alias("q1"),
        F.slice("embedding", *_PQ_SUBS[1]).alias("q2"),
    )
    cands = (
        corpus.join(
            F.broadcast(queries),
            (F.col("cell") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("__b0.cent_id").alias("code1"),
            F.col("__b1.cent_id").alias("code2"),
            (
                dot(F.col("cell_emb"), F.col("q_emb"))
                + dot(F.col("__b0.cent_emb"), F.col("q1"))
                + dot(F.col("__b1.cent_emb"), F.col("q2"))
            ).alias("approx_raw"),
            dot(F.col("embedding"), F.col("q_emb")).alias("exact_raw"),
        )
    )
    ivfpq = topk(cands, F.desc("approx_raw"), _IVF_TOP_K)
    exact = exact_topk(em, queries, _IVF_TOP_K)
    hits = hit_counts(ivfpq, exact, ("query_id",))
    return ivfpq.join(hits, "query_id", "left").select(
        "query_id",
        "neighbor_id",
        "code1",
        "code2",
        F.round("approx_raw", 6).alias("approx_sim"),
        F.round("exact_raw", 6).alias("exact_sim"),
        _recall(_IVF_TOP_K),
    )


# ---- clustered-corpus IVF evidence (q343) ---------------------------------
# The r9 skew-axis proof (scripts/scale_proof.py --ivf-skew) lived only in
# a script: every REGISTERED recall number rode the decorrelated noise
# fixture, where trained cells come out balanced. q343 derives a
# PLANTED-CLUSTER corpus from the embeddings table IN-PLAN — identically
# on both engines — so per-cell occupancy skew and the recall-vs-nprobe
# lift become differentially checked data.
_CLU_ANCHORS = 5    # planted cluster centers: the first 5 fixture vectors
_CLU_BLEND = 2.0    # anchor weight: 2·anchor + vector, then re-normalized
_CLU_PROBE_HI = 4   # the high-nprobe setting (low is 1)
_CLU_K = 8          # trained cells (same k as the IVF family)

# cluster shares by vec_id % 16: 8/16, 4/16, 2/16, 1/16, 1/16 — a planted
# Zipf so the hot cell holds ~half the corpus
_CLU_CASE_SQL = """CASE WHEN e.vec_id % 16 < 8 THEN 0
                 WHEN e.vec_id % 16 < 12 THEN 1
                 WHEN e.vec_id % 16 < 14 THEN 2
                 WHEN e.vec_id % 16 < 15 THEN 3
                 ELSE 4 END"""

_CLU_SQL = f"""clustered AS MATERIALIZED (
        SELECT vec_id,
               list_transform(blend, x -> CAST(x / norm AS FLOAT))
                   AS embedding
        FROM (
            SELECT vec_id, blend,
                   sqrt({dot_sql('blend', 'blend')}) AS norm
            FROM (
                SELECT e.vec_id,
                       list_transform(
                           list_zip(a.embedding, e.embedding),
                           s -> CAST(s[1] AS DOUBLE) * {_CLU_BLEND}
                                + CAST(s[2] AS DOUBLE)) AS blend
                FROM embeddings e
                JOIN embeddings a ON a.vec_id = {_CLU_CASE_SQL}
            )
        )
    )"""


def clustered_corpus(spark, sf_dir) -> DataFrame:
    """Planted-cluster variant of the embeddings table, derived IN-PLAN:
    vector v blends toward anchor a(v) = embedding[v % 16 → Zipf bucket]
    as unit-normalize(2·a + v). Every step is a deterministic double op
    on identical operands (the blend, the norm's left-fold dot, the
    division, the float32 narrowing), so Spark and the DuckDB oracle
    derive bit-identical corpora — the cross-engine-exact rotation
    discipline (q340) applied to cluster planting."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = em.filter(F.col("vec_id") < _CLU_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a_emb"),
    )
    g = F.col("vec_id") % 16
    aid = (
        F.when(g < 8, 0)
        .when(g < 12, 1)
        .when(g < 14, 2)
        .when(g < 15, 3)
        .otherwise(4)
    ).cast("bigint")
    blended = (
        em.withColumn("anchor_id", aid)
        .join(F.broadcast(anchors), "anchor_id")
        .withColumn(
            "blend",
            F.zip_with(
                "a_emb",
                "embedding",
                lambda a, e: a.cast("double") * _CLU_BLEND
                + e.cast("double"),
            ),
        )
        .withColumn("norm", F.sqrt(dot(F.col("blend"), F.col("blend"))))
    )
    return blended.select(
        "vec_id",
        F.transform(
            "blend", lambda x: (x / F.col("norm")).cast("float")
        ).alias("embedding"),
    )


def _clustered_corpus_memo(spark, sf_dir) -> DataFrame:
    """materialize_once the derived corpus (the Lloyd chain over it
    re-references its source ~2^iters times — the q331/q335 plan-blowup
    class; a memoized parquet makes each re-reference a scan)."""
    from ..io import materialize_once, memo_location

    key = memo_location("clu_corpus_v1", sf_dir, "embeddings")
    return materialize_once(
        spark, key, lambda p: clustered_corpus(spark, sf_dir).write.parquet(p)
    )


@query(
    "q343_ivf_clustered",
    oracle=f"""
    WITH {_CLU_SQL},
    {_kmeans_oracle_ctes(_CLU_K, _IVF_ITERS, src_rel='clustered', prefix='cl_')},
    final_asg AS (SELECT * FROM cl_asg{_IVF_ITERS - 1}),
    cellocc AS (
        SELECT cent_id, COUNT(*) AS cell_n FROM final_asg GROUP BY cent_id
    ),
    total AS (SELECT COUNT(*) AS n FROM clustered),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb
        FROM clustered WHERE vec_id >= 100 AND vec_id < 105
    ),
    ranked AS (
        SELECT query_id, q_emb, cent_id, rn FROM (
            SELECT q.query_id, q.q_emb, c.cent_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'c.cent_emb')} DESC,
                                c.cent_id
                   ) AS rn
            FROM queries q CROSS JOIN cl_cent{_IVF_ITERS - 1} c
        ) WHERE rn <= {_CLU_PROBE_HI}
    ),
    probes AS (SELECT * FROM (VALUES (1), ({_CLU_PROBE_HI})) AS t(nprobe)),
    probed AS (
        SELECT p.nprobe, r.query_id, r.q_emb, r.cent_id, r.rn
        FROM probes p JOIN ranked r ON r.rn <= p.nprobe
    ),
    cand AS (
        SELECT pr.nprobe, pr.query_id, a.vec_id AS neighbor_id,
               {dot_sql('pr.q_emb', 'a.embedding')} AS sim
        FROM probed pr JOIN final_asg a
          ON a.cent_id = pr.cent_id AND a.vec_id <> pr.query_id
    ),
    topk AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY nprobe, query_id
                       ORDER BY sim DESC, neighbor_id
                   ) AS rn
            FROM cand
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    {_exact_cte(_IVF_TOP_K, corpus='clustered')},
    rec AS (
        SELECT t.nprobe, t.query_id, COUNT(*) AS n_hit
        FROM topk t JOIN exact e
          ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
        GROUP BY t.nprobe, t.query_id
    )
    SELECT pr.query_id, pr.nprobe, pr.rn AS probe_rank, pr.cent_id,
           CAST(co.cell_n AS BIGINT) AS cell_n,
           round(co.cell_n * 1.0 / tot.n, 6) + 0.0 AS cell_share,
           round(COALESCE(rec.n_hit, 0) / {float(_IVF_TOP_K)}, 6) + 0.0
               AS recall
    FROM probed pr
    JOIN cellocc co ON co.cent_id = pr.cent_id
    CROSS JOIN total tot
    LEFT JOIN rec
      ON rec.nprobe = pr.nprobe AND rec.query_id = pr.query_id
    """,
)
def q343_ivf_clustered(spark, sf_dir) -> DataFrame:
    """IVF ON A CLUSTERED CORPUS — per-cell occupancy skew and the
    recall-vs-nprobe lift as differentially checked data (VERDICT r9
    #2). The noise fixture trains BALANCED cells, so the registered ANN
    ladder never showed what production embedding corpora do: trained
    cells inherit the data's cluster mass, the hot cell holds a large
    corpus fraction, and nprobe must rise with k to hold recall (the
    k/nprobe joint-sizing rule, BASELINE.md round 9 — measured there by
    scripts/scale_proof.py, CHECKED here in a registered oracle).

    The corpus is derived in-plan (clustered_corpus): a planted Zipf
    over 5 anchors (50/25/12.5/6.25/6.25%), bit-identical cross-engine.
    The result carries, per (query, nprobe∈{1,4},
    probed cell): the cell's member count and corpus share (occupancy —
    hot-cluster queries probe a cell holding ~half the corpus, the
    candidate-read tax the r9 proof measured at 20-34%) and
    recall@3 vs the exact top-k over the same clustered
    corpus (the nprobe lift). A quantizer regression, an occupancy
    shift, or a recall drop all hash-fail.

    At 100 TB: the derivation is one broadcast join + scan-stage array
    math (memoized once, like every training artifact); training and
    probing are the q319/q323 plans — the point of this query is the
    EVIDENCE, the plan shapes are the family's."""
    from .clustering import assign_to_centroids, kmeans_fit

    clu = _clustered_corpus_memo(spark, sf_dir)
    asg, cents = kmeans_fit(
        spark, sf_dir, k=_CLU_K, iterations=_IVF_ITERS, source=clu
    )
    # memoize the trained model: the lazy Lloyd chain would otherwise
    # re-run per downstream reference (occupancy, candidates, top-k)
    from ..io import materialize_once, memo_location

    tag = f"v1_k{_CLU_K}_i{_IVF_ITERS}"
    cents = materialize_once(
        spark,
        memo_location(f"clu_ivf_cent_{tag}", sf_dir, "embeddings"),
        lambda p: cents.write.parquet(p),
    )
    asg = materialize_once(
        spark,
        memo_location(f"clu_ivf_asg_{tag}", sf_dir, "embeddings"),
        lambda p: assign_to_centroids(clu, cents).write.parquet(p),
    )

    cell_occ = asg.groupBy("cent_id").agg(
        F.count("*").cast("long").alias("cell_n")
    )
    total = clu.agg(F.count("*").alias("n"))
    queries = _ivf_queries(clu)
    ranked = rank_cells(queries, cents, _CLU_PROBE_HI)
    probes = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(_CLU_PROBE_HI))).alias("nprobe")
    )
    probed = probes.join(
        ranked, ranked["rn"] <= probes["nprobe"]
    ).select("nprobe", "query_id", "q_emb", "cent_id", "rn")
    cands = (
        asg.join(F.broadcast(probed), ["cent_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "nprobe",
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    by = ("nprobe", "query_id")
    rec = hit_counts(
        topk(cands, F.desc("sim"), _IVF_TOP_K, by),
        exact_topk(clu, queries, _IVF_TOP_K),
        by,
    )
    return (
        probed.select("nprobe", "query_id", "cent_id", "rn")
        .join(cell_occ, "cent_id")
        .crossJoin(F.broadcast(total))
        .join(rec, ["nprobe", "query_id"], "left")
        .select(
            "query_id",
            "nprobe",
            F.col("rn").alias("probe_rank"),
            "cent_id",
            "cell_n",
            F.round(F.col("cell_n") / F.col("n"), 6).alias("cell_share"),
            _recall(_IVF_TOP_K),
        )
    )


# q348 binary quantization: one sign bit per dimension, packed into two
# 32-bit halves (a signed-BIGINT-safe spelling of a 64-bit word; SUM of
# distinct powers of two == bitwise OR, and each half stays < 2^32).
# Zero is quantized to bit 0 (x > 0 strictly) — an exact float compare,
# identical cross-engine.
# Hamming candidate depth before exact rerank: 15x the final k. A 64-bit
# code is SHORT for binary quantization (production uses dim-matched
# 512-1024-bit codes); on dense near-tie bands (the planted-cluster
# geometry: ~250 vectors within cosine 0.88-0.93 of a hot query) the
# measured screen recall is 0.38 at 3x, 0.64 at 10x, 0.82 at 15x — the
# depth buys back what the short code cannot resolve, still reading 50x
# less than a full float rerank.
_BQ_RERANK = 15 * _PQ_TOP_K


def _bq_pack_expr(lo: int, hi: int) -> str:
    """Spark-side packed word over embedding dims [lo, hi)."""
    return (
        f"aggregate(filter(sequence({lo}, {hi - 1}), "
        f"i -> element_at(embedding, i + 1) > 0), "
        f"CAST(0 AS BIGINT), (a, i) -> a + shiftleft(CAST(1 AS BIGINT), i - {lo}))"
    )


def _bq_pack_sql(lo: int, hi: int) -> str:
    """DuckDB twin of :func:`_bq_pack_expr`."""
    return (
        f"CAST(list_sum(list_transform(range({lo}, {hi}), "
        f"i -> CASE WHEN embedding[i + 1] > 0 "
        f"THEN 1::BIGINT << (i - {lo}) ELSE 0::BIGINT END)) AS BIGINT)"
    )


@query(
    "q348_sim_binary_hamming",
    oracle=f"""
    WITH packed AS (
        SELECT vec_id, embedding,
               {_bq_pack_sql(0, 32)} AS w_lo,
               {_bq_pack_sql(32, 64)} AS w_hi
        FROM embeddings
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb, w_lo AS q_lo,
               w_hi AS q_hi
        FROM packed WHERE vec_id < {_N_QUERIES}
    ),
    cand AS (
        SELECT qu.query_id, c.vec_id AS neighbor_id,
               bit_count(xor(c.w_lo, qu.q_lo))
                   + bit_count(xor(c.w_hi, qu.q_hi)) AS hamming,
               round({dot_sql('c.embedding', 'qu.q_emb')}, 6) + 0.0
                   AS exact_sim
        FROM packed c JOIN queries qu ON c.vec_id <> qu.query_id
    ),
    screened AS (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY hamming, neighbor_id) AS rn_h
        FROM cand
    )
    SELECT query_id, neighbor_id, hamming, exact_sim FROM (
        SELECT query_id, neighbor_id, hamming, exact_sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY exact_sim DESC, neighbor_id) AS rn_e
        FROM screened WHERE rn_h <= {_BQ_RERANK}
    ) WHERE rn_e <= {_PQ_TOP_K}
    """,
)
def q348_sim_binary_hamming(spark, sf_dir) -> DataFrame:
    """BINARY-QUANTIZED ANN — the 1-bit rung under q130's int8: each
    embedding keeps only its per-dimension SIGN, packed into two 32-bit
    halves of a 64-bit word (SUM of distinct powers of two == bitwise
    OR, signed-BIGINT-safe), so the candidate scan compares vectors
    with TWO XOR+POPCOUNT instructions instead of a 64-float dot —
    64 bits/vector vs 256 bytes, a 32× memory-bandwidth lever, and the
    reason binary embeddings are the production cold-tier for
    billion-vector search. Hamming distance approximates angle for
    roughly-isotropic vectors (sign-random-projection LSH, Charikar
    2002: P[sign mismatch] = theta/pi per dimension); ranking quality
    is recovered by an exact-cosine RERANK of the top-75
    Hamming candidates (15x the final k — the standard
    screen-then-rerank contract, same shape as the IVF family's
    probe-then-rerank).

    Plan: the query set (with its own packed words) broadcasts; the
    corpus packs in the scan (JVM-side HOFs, no UDF) and never
    shuffles; bit_count(xor()) is whole-stage-codegen integer work;
    two per-query row_number heads (Hamming screen, exact rerank) ride
    one window exchange. At 100 TB the packed words are a materialized
    64-bit column — the scan reads 8 bytes/vector and the float
    embeddings are fetched only for the 75-row rerank set
    (column pruning does this for free: exact_sim is the only
    consumer). Cross-engine exactness: the sign test (x > 0) is an
    exact float compare, packing is integer arithmetic, Hamming is
    integer, and the rerank dot follows q64's proven left-fold
    discipline; ties in Hamming and in exact_sim both break on
    neighbor_id. Zero vectors pack to 0 and simply rank by popcount of
    the query — no guard needed (q136 validates upstream)."""
    return binary_hamming_topk(table(spark, sf_dir, "embeddings"))


def binary_hamming_topk(em: DataFrame) -> DataFrame:
    """q348's kernel over any (vec_id, embedding) frame — factored out
    so the recall pin can run it on the planted-cluster geometry, where
    sign-projection actually has signal to preserve (on the decorrelated
    noise fixture every cosine is near zero and ANY screen's top-k is
    noise-rank roulette)."""
    packed = em.select(
        "vec_id",
        "embedding",
        F.expr(_bq_pack_expr(0, 32)).alias("w_lo"),
        F.expr(_bq_pack_expr(32, 64)).alias("w_hi"),
    )
    queries = packed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    hamming = F.bit_count(
        F.col("w_lo").bitwiseXOR(F.col("q_lo"))
    ) + F.bit_count(F.col("w_hi").bitwiseXOR(F.col("q_hi")))
    cands = (
        packed.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            hamming.alias("hamming"),
            (F.round(dot(F.col("embedding"), F.col("q_emb")), 6) + 0.0).alias(
                "exact_sim"
            ),
        )
    )
    screened = topk(cands, F.asc("hamming"), _BQ_RERANK)
    return topk(screened, F.desc("exact_sim"), _PQ_TOP_K)


# ---- q364: incremental IVF re-training drift check -------------------------

_DRIFT_W0_PRED = "vec_id % 2 = 0"  # epoch-0 corpus: the first ingest wave


def _ivf_probe_hits(spark, sf_dir, asg: DataFrame) -> DataFrame:
    """(query_id, n_hit) for the 5 standard query vectors: single-probe
    IVF top-3 hits against the exact brute-force top-3 — the recall
    numerator q364 differences across model epochs. Same probe/exact
    shapes as _ivf_search_with_recall, reduced to the per-query count
    (queries with ZERO hits still emit a row — the drift check must see
    a recall collapse, not lose the row)."""
    queries = _ivf_queries(asg)
    exact = exact_topk(table(spark, sf_dir, "embeddings"), queries, _IVF_TOP_K)
    matched = hit_counts(ivf_cell_topk(asg, _IVF_TOP_K), exact, ("query_id",))
    return queries.select("query_id").join(matched, "query_id", "left").select(
        "query_id", F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit")
    )


@query(
    "q364_ivf_retrain_drift",
    oracle=f"""
    WITH {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS, train_pred=_DRIFT_W0_PRED, prefix="s")},
    {_kmeans_oracle_ctes(_N_CENTROIDS, _IVF_ITERS, prefix="f")},
    a0 AS (SELECT * FROM sasg_full),
    a1 AS (SELECT * FROM fasg{_IVF_ITERS - 1}),
    moved AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN a0.cent_id <> a1.cent_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS moved_n
        FROM a0 JOIN a1 USING (vec_id)
    ),
    q0 AS (SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS q_cent
           FROM a0 WHERE vec_id >= 100 AND vec_id < 105),
    q1 AS (SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS q_cent
           FROM a1 WHERE vec_id >= 100 AND vec_id < 105),
    {_exact_cte(_IVF_TOP_K, queries='q0')},
    ivf0 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'a.embedding')} DESC,
                                a.vec_id
                   ) AS rn
            FROM q0 q JOIN a0 a
              ON a.cent_id = q.q_cent AND a.vec_id <> q.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    ivf1 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {dot_sql('q.q_emb', 'a.embedding')} DESC,
                                a.vec_id
                   ) AS rn
            FROM q1 q JOIN a1 a
              ON a.cent_id = q.q_cent AND a.vec_id <> q.query_id
        ) WHERE rn <= {_IVF_TOP_K}
    ),
    h0 AS (SELECT i.query_id, COUNT(*) AS n FROM ivf0 i
           JOIN exact e USING (query_id, neighbor_id) GROUP BY i.query_id),
    h1 AS (SELECT i.query_id, COUNT(*) AS n FROM ivf1 i
           JOIN exact e USING (query_id, neighbor_id) GROUP BY i.query_id)
    SELECT q.query_id,
           round(COALESCE(h0.n, 0) / {float(_IVF_TOP_K)}, 6) AS recall_stale,
           round(COALESCE(h1.n, 0) / {float(_IVF_TOP_K)}, 6)
               AS recall_retrained,
           round((COALESCE(h1.n, 0) - COALESCE(h0.n, 0))
                 / {float(_IVF_TOP_K)}, 6) AS recall_delta,
           m.moved_n,
           round(m.moved_n * 1.0 / m.n_total, 6) AS moved_frac
    FROM (SELECT query_id FROM q0) q
    LEFT JOIN h0 USING (query_id)
    LEFT JOIN h1 USING (query_id)
    CROSS JOIN moved m
    """,
)
def q364_ivf_retrain_drift(spark, sf_dir) -> DataFrame:
    """INCREMENTAL IVF RE-TRAINING DRIFT CHECK (VERDICT r12 #5) — the
    two-epoch production shape the one-shot trainers (q319/q327) don't
    exercise: epoch 0 trains the coarse quantizer on the FIRST INGEST
    WAVE only (vec_id % 2 = 0 — kmeans_fit's train_where, the q327
    sample-training path) and serves the grown corpus with that STALE
    model; epoch 1 re-trains on the full corpus. The drift between them
    is measured as oracled DATA, per the q325 calibration discipline
    (quality numbers ride in the hashed result, never in prose):
    recall@3 per standard query under the stale vs the
    re-trained model (and their delta), plus the re-assignment delta —
    how many vectors change cells on re-train (moved_n, moved_frac),
    which is exactly the index-rebuild cost the re-train cadence has to
    amortize. Both Lloyd chains, both probes, and the brute-force
    reference are replicated in closed form by the oracle (two
    prefix-namespaced unrolled CTE chains), so a drift-measurement bug
    — stale model accidentally re-trained, probe against the wrong
    epoch's cells, moved-count off by the join width — fails the hash.

    On THIS fixture the numbers read as near-orthogonal-noise numbers
    (the q319 rationale): recall is low by construction and re-training
    moves many cells because cluster structure is weak; the CONTRACT is
    the measurement, which is corpus-independent. At 100 TB the same
    query runs as: epoch-0 centroids from the shipped index, epoch-1
    centroids from the re-train job, moved_frac computed map-side on
    the co-partitioned (old, new) assignment join — and its value is
    what gates whether the re-shard (q193's rebalance) is worth
    scheduling this cadence."""
    from .clustering import kmeans, kmeans_fit

    asg0, _ = kmeans_fit(
        spark,
        sf_dir,
        k=_N_CENTROIDS,
        iterations=_IVF_ITERS,
        train_where=F.expr(_DRIFT_W0_PRED),
    )
    asg1 = kmeans(spark, sf_dir, k=_N_CENTROIDS, iterations=_IVF_ITERS)

    moved = (
        asg0.select("vec_id", F.col("cent_id").alias("c0"))
        .join(asg1.select("vec_id", F.col("cent_id").alias("c1")), "vec_id")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(F.when(F.col("c0") != F.col("c1"), 1).otherwise(0))
            .cast("long")
            .alias("moved_n"),
        )
    )
    h0 = _ivf_probe_hits(spark, sf_dir, asg0).withColumnRenamed("n_hit", "h0")
    h1 = _ivf_probe_hits(spark, sf_dir, asg1).withColumnRenamed("n_hit", "h1")
    k = float(_IVF_TOP_K)
    return (
        h0.join(h1, "query_id")
        .crossJoin(F.broadcast(moved))
        .select(
            "query_id",
            F.round(F.col("h0") / k, 6).alias("recall_stale"),
            F.round(F.col("h1") / k, 6).alias("recall_retrained"),
            F.round((F.col("h1") - F.col("h0")) / k, 6).alias("recall_delta"),
            "moved_n",
            F.round(F.col("moved_n") * 1.0 / F.col("n_total"), 6).alias(
                "moved_frac"
            ),
        )
    )
