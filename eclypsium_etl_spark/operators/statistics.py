"""Statistical / analytical operators: regression aggregates, lateral
(correlated top-k) joins, histograms, ordered string aggregation, and
windowed anomaly scoring.

Reference parity: the reference DAG (mercadolibre_pipeline_dag.py) has a
single filter query and no analytics surface; these extend SURVEY.md
§2.13 with the descriptive-statistics layer an analytics engine is
expected to carry (DuckDB/Trino/Snowflake all ship regr_*/width_bucket/
listagg natively).

Float discipline: every aggregate of doubles goes through the decimal
moment sums (functions.dsum) so results are order-independent and hash-
identical to the DuckDB oracle at any parallelism — the built-in
regr_slope/corr are one-pass float accumulations whose low bits depend
on partition order, which a differential gate cannot accept.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import dsum, dsum_sql
from ..io import spread, table
from ..registry import query

# z-score parameters: trailing frame size and the anomaly threshold
_Z_FRAME = 20
_Z_MIN_N = 5
_Z_TAU = 2.5


@query(
    "q143_regression_agg",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               {dsum_sql('l_quantity')} AS sx,
               {dsum_sql('l_quantity * l_quantity')} AS sxx,
               {dsum_sql('l_extendedprice')} AS sy,
               {dsum_sql('l_extendedprice * l_extendedprice')} AS syy,
               {dsum_sql('l_quantity * l_extendedprice')} AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
           round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 6)
               AS intercept,
           round(((sxy - sx * sy / n) * (sxy - sx * sy / n))
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2,
           round((sxy - sx * sy / n)
                 / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS corr
    FROM s
    """,
)
def q143_regression_agg(spark, sf_dir) -> DataFrame:
    """Per-group OLS regression + correlation (regr_slope / regr_intercept
    / regr_r2 / corr) of extendedprice on quantity, computed from the five
    decimal moment sums — one two-phase hash aggregate over the fact
    table, the same cost as q90's variance. The built-in regr_* family
    would give the same values within float noise; the explicit-moment
    form is the deterministic one (and at 100 TB the moments are also what
    you'd persist, since they merge associatively across partitions and
    days)."""
    # project to the 3 needed columns, then spread (io.spread, guide §2.5):
    # the single-row-group fixture scan would otherwise run the partial
    # aggregate — five decimal(28,4) moment products over every row — in
    # ONE task; the exchange carries only the narrow projection and the
    # partial agg then uses the whole box. Keyed on l_extendedprice
    # (high-cardinality) rather than round-robin: keyless repartition
    # pays a sort-before-repartition inside the single scan task
    # (SPARK-23207), measured 1.3-1.8 s round-robin vs 1.0-1.5 s hashed.
    # A no-op on any layout that already splits to core width.
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        ),
        f"{sf_dir}/lineitem.parquet",
        "l_extendedprice",
    )
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum("l_quantity").alias("sx"),
        dsum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        dsum("l_extendedprice").alias("sy"),
        dsum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    cov_n = sxy - sx * sy / n  # n·cov — shared numerator
    var_x = sxx - sx * sx / n
    var_y = syy - sy * sy / n
    slope = cov_n / var_x
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(sy / n - slope * sx / n, 6).alias("intercept"),
        F.round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
        F.round(cov_n / F.sqrt(var_x * var_y), 6).alias("corr"),
    )


@query(
    "q144_join_lateral",
    oracle="""
    SELECT c.c_custkey, top.o_orderkey, top.o_totalprice
    FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) top
    WHERE c.c_nationkey = 1
    """,
)
def q144_join_lateral(spark, sf_dir) -> DataFrame:
    """Correlated LATERAL subquery — per-customer top-2 orders expressed
    as a dependent join, the SQL-standard twin of q37's window top-k.
    Catalyst decorrelates it (DomainJoin rewrite) into a join + per-key
    limit over the distinct correlation domain rather than re-running the
    inner query per outer row — the plan shape that survives scale; a true
    nested-loop re-execution would be O(outer × inner scan). Registered in
    SQL form because LATERAL has no DataFrame-API equivalent."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, top.o_orderkey, top.o_totalprice
        FROM customer c,
             LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                       ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) top
        WHERE c.c_nationkey = 1
        """
    )


# Shared bucket expression: semantics of width_bucket(x, 0, 600000, 12)
# (underflow → 0, overflow → 13), but spelled as the IDENTICAL arithmetic
# on both engines — the built-ins compute the bin via different float
# paths (x·n/(hi−lo) vs x/w), which can disagree by 1 ulp for values at a
# boundary; floor(x/50000) evaluated on the same doubles cannot.
_BUCKET_SQL = (
    "CASE WHEN o_totalprice < 0 THEN 0 "
    "WHEN o_totalprice >= 600000 THEN 13 "
    "ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1 END"
)


@query(
    "q145_histogram",
    oracle=f"""
    WITH b AS (SELECT {_BUCKET_SQL} AS bucket, o_totalprice FROM orders)
    SELECT bucket,
           CAST((bucket - 1) * 50000.0 AS DOUBLE) AS lo,
           CAST(bucket * 50000.0 AS DOUBLE) AS hi,
           COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS revenue
    FROM b GROUP BY bucket
    """,
)
def q145_histogram(spark, sf_dir) -> DataFrame:
    """Equi-width histogram (width_bucket semantics) — the scan-stage
    binning primitive behind distribution profiling and range-partition
    planning. Bucketing is a pure projection (codegen), the rollup one
    small aggregate keyed by ≤ n_buckets+2 values — at 100 TB this is a
    full scan but a kilobyte-sized shuffle. Bucket bounds are derived
    from the bucket id post-aggregate so the result is self-describing
    (the overflow bucket keeps its open hi edge visible rather than
    silently clamping)."""
    o = table(spark, sf_dir, "orders")
    b = o.select(F.expr(_BUCKET_SQL).alias("bucket"), "o_totalprice")
    return (
        b.groupBy("bucket")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("revenue"))
        .select(
            "bucket",
            ((F.col("bucket") - 1) * 50000.0).cast("double").alias("lo"),
            (F.col("bucket") * 50000.0).cast("double").alias("hi"),
            "n",
            "revenue",
        )
    )


@query(
    "q146_string_agg",
    oracle="""
    SELECT c_nationkey,
           COUNT(DISTINCT c_mktsegment) AS n_segments,
           string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
               AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def q146_string_agg(spark, sf_dir) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg): the distinct
    segment names per nation, '|'-joined in lexical order. Deterministic
    ONLY because the order is explicit — collect_list order is partition-
    dependent, so the sort happens inside the aggregate expression
    (array_sort ∘ collect_set), never relied on from shuffle order. The
    aggregate state is the distinct set (bounded by segment cardinality),
    so this scales like a count-distinct, not like the concatenated
    output."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|").alias(
            "segments"
        ),
    )


@query(
    "q147_anomaly_zscore",
    oracle=f"""
    WITH s AS (
        SELECT event_id, user_id, ts, value,
               COUNT(*) OVER w AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(28,4))) OVER w AS DOUBLE)
                   AS sxx
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_Z_FRAME - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, value,
           round((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 6)
               AS zscore
    FROM s
    WHERE n >= {_Z_MIN_N}
      AND (sxx - sx * sx / n) / (n - 1) > 0
      AND abs(round((value - sx / n)
                    / sqrt((sxx - sx * sx / n) / (n - 1)), 6)) > {_Z_TAU}
    """,
)
def q147_anomaly_zscore(spark, sf_dir) -> DataFrame:
    """Windowed anomaly detection: each event's value scored against the
    trailing 20-event mean/stddev of ITS user, anomalies = |z| > τ.
    One shuffle (partition by user), moments via windowed decimal sums so
    the flag is deterministic at any parallelism; the round-before-compare
    keeps the τ boundary bit-identical cross-engine. The streaming twin is
    q87's stateful spend tracker — same per-key moment state, unbounded
    input."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_Z_FRAME - 1), 0)
    )
    e = table(spark, sf_dir, "events")
    dec = "decimal(28,4)"
    s = e.select(
        "event_id",
        "user_id",
        "value",
        F.count("*").over(w).alias("n"),
        F.sum(F.col("value").cast(dec)).over(w).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast(dec))
        .over(w)
        .cast("double")
        .alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    z = F.round((F.col("value") - F.col("sx") / F.col("n")) / F.sqrt(var), 6)
    return (
        s.filter((F.col("n") >= _Z_MIN_N) & (var > 0))
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > _Z_TAU)
        .select("event_id", "user_id", "value", "zscore")
    )


_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey"]


@query(
    "q157_profile_columns",
    oracle="""
    SELECT 'o_orderstatus' AS col, COUNT(*) - COUNT(o_orderstatus) AS n_null,
           COUNT(DISTINCT o_orderstatus) AS n_distinct,
           CAST(MIN(o_orderstatus) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderstatus) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    """,
)
def q157_profile_columns(spark, sf_dir) -> DataFrame:
    """Column profiling (ANALYZE-style: null count, distinct count,
    min/max per column) in ONE scan — the data-quality pass every
    ingestion pipeline runs. All per-column statistics are computed as
    one wide aggregate row and unpivoted to (col, stats) rows with
    stack(), so profiling N columns costs one table pass, not N (the
    oracle's UNION ALL states per-column semantics; DuckDB's optimizer
    likewise merges the scans). Min/max surface as strings so
    heterogeneous column types share one schema — the profile table
    pattern."""
    o = table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack})"
        " AS (col, n_null, n_distinct, min_val, max_val)"
    )


_ED_BUCKETS = 8


@query(
    "q185_histogram_equidepth",
    oracle=f"""
    WITH b AS (
        SELECT o_totalprice,
               ntile({_ED_BUCKETS})
                   OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           {dsum_sql('o_totalprice')} AS revenue
    FROM b GROUP BY bucket
    """,
)
def q185_histogram_equidepth(spark, sf_dir) -> DataFrame:
    """Equi-DEPTH histogram (quantile buckets via ntile) — q145's
    equi-width twin and the basis of range-partition boundary planning:
    each bucket holds the same row count and its [lo, hi] edges ARE the
    sampled split points a range exchange would use. The global ntile is
    the fixture-scale spelling; at 100 TB the same boundaries come from
    approx_percentile (t-digest, mergeable) without any global sort —
    the histogram needs the edges, not a total order. Tiebreak on
    o_orderkey makes bucket assignment deterministic across engines.
    NULL prices are PINNED out (filtered on both sides): a NULL has no
    position in a value distribution — a histogram that ranks it would
    also inherit the divergent engine null sort order (null-injection
    walk finding); count NULLs separately (q157's profile) if needed."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    b = o.select(
        "o_totalprice",
        F.ntile(_ED_BUCKETS)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        dsum("o_totalprice").alias("revenue"),
    )


# 16-bit × 2 Morton (Z-order) interleave, generated once per dialect —
# identical integer arithmetic, so the curve value is engine-exact
_Z_BITS = 16
_Z_SPARK = " + ".join(
    t
    for i in range(_Z_BITS)
    for t in (
        f"shiftleft(shiftright(a, {i}) & 1, {2 * i})",
        f"shiftleft(shiftright(b, {i}) & 1, {2 * i + 1})",
    )
)
_Z_DUCK = " + ".join(
    t
    for i in range(_Z_BITS)
    for t in (
        f"(((a >> {i}) & 1) << {2 * i})",
        f"(((b >> {i}) & 1) << {2 * i + 1})",
    )
)


@query(
    "q195_zorder_layout",
    oracle=f"""
    WITH k AS (
        SELECT o_orderkey % 65536 AS a, o_custkey % 65536 AS b,
               o_totalprice
        FROM orders
    ),
    z AS (SELECT ({_Z_DUCK}) AS zval, a, b, o_totalprice FROM k)
    SELECT CAST(zval // 67108864 AS BIGINT) AS z_bucket,
           COUNT(*) AS n,
           CAST(MIN(a) AS BIGINT) AS a_min, CAST(MAX(a) AS BIGINT) AS a_max,
           CAST(MIN(b) AS BIGINT) AS b_min, CAST(MAX(b) AS BIGINT) AS b_max
    FROM z GROUP BY z_bucket
    """,
)
def q195_zorder_layout(spark, sf_dir) -> DataFrame:
    """Z-order (Morton) layout clustering — the multi-dimensional
    data-skipping trick behind OPTIMIZE ZORDER BY: interleaving the bits
    of two keys gives a 1-D sort order in which ranges of EITHER key
    stay spatially clustered, so per-file min/max stats prune scans on
    both columns at once. The curve value is pure integer bit
    arithmetic (generated identically for both engines); the emitted
    per-bucket key envelopes (a_min..a_max × b_min..b_max) are exactly
    the file-skipping statistics a reader would consult — tight
    envelopes = effective pruning. At 100 TB: compute zval, range-write
    sorted by it, and file stats do the rest."""
    o = table(spark, sf_dir, "orders")
    k = o.select(
        (F.col("o_orderkey") % 65536).alias("a"),
        (F.col("o_custkey") % 65536).alias("b"),
    )
    z = k.select(F.expr(f"({_Z_SPARK})").alias("zval"), "a", "b")
    return (
        z.groupBy(F.floor(F.col("zval") / 67108864).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("a").cast("long").alias("a_min"),
            F.max("a").cast("long").alias("a_max"),
            F.min("b").cast("long").alias("b_min"),
            F.max("b").cast("long").alias("b_max"),
        )
    )


@query(
    "q196_outlier_iqr",
    oracle="""
    WITH f AS (
        SELECT o_orderstatus,
               quantile_cont(o_totalprice, 0.25) AS q1,
               quantile_cont(o_totalprice, 0.75) AS q3
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
           round(f.q3 + 1.5 * (f.q3 - f.q1), 6) AS upper_fence
    FROM orders o JOIN f ON f.o_orderstatus = o.o_orderstatus
    WHERE o.o_totalprice > f.q3 + 1.5 * (f.q3 - f.q1)
    """,
)
def q196_outlier_iqr(spark, sf_dir) -> DataFrame:
    """Tukey IQR outlier detection per group: values above
    Q3 + 1.5·IQR — the robust data-quality fence that a mean/stddev
    rule (q147) gets wrong under heavy tails, since quartiles don't
    move with the outliers being hunted. Per-group fences are a
    3-row aggregate that broadcasts back onto the fact scan, so the
    detection pass is scan + broadcast-join + filter: one job, no
    fact shuffle. Exact interpolated quantiles match DuckDB's
    quantile_cont (q80's proven parity); at 100 TB swap in
    approx_percentile for the fence and keep the same join shape."""
    o = table(spark, sf_dir, "orders")
    f = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    fence = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        o.join(F.broadcast(f), "o_orderstatus")
        .filter(F.col("o_totalprice") > fence)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.round(fence, 6).alias("upper_fence"),
        )
    )


@query(
    "q197_first_touch_attribution",
    oracle="""
    WITH ft AS (
        SELECT user_id, event_type AS channel FROM (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    rev AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT ft.channel, COUNT(*) AS n_users,
           CAST(SUM(CAST(COALESCE(rev.revenue, 0.0) AS DECIMAL(28,4)))
                AS DOUBLE) AS revenue
    FROM ft LEFT JOIN rev ON rev.user_id = ft.user_id
    GROUP BY ft.channel
    """,
)
def q197_first_touch_attribution(spark, sf_dir) -> DataFrame:
    """First-touch attribution: each user's lifetime purchase revenue
    credited to the channel (event type) of their FIRST event — the
    marketing-analytics allocation every growth team starts with
    (last-touch is the same window ordered DESC). First-touch, per-user
    revenue, and the join all key on user_id — one exchange family —
    and users who never purchased still attribute 0 revenue to their
    entry channel rather than vanishing (LEFT join + coalesce). The
    final rollup is channel-cardinality rows."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ft = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("channel"))
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(28,4)"))
            .cast("double")
            .alias("revenue")
        )
    )
    return (
        ft.join(rev, "user_id", "left")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.coalesce("revenue", F.lit(0.0)).cast("decimal(28,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


_LIFT_DECILES = 10


@query(
    "q198_decile_lift",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS score,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    d AS (
        SELECT ntile({_LIFT_DECILES})
                   OVER (ORDER BY score DESC, user_id) AS decile,
               converted
        FROM u
    ),
    agg AS (
        SELECT decile, COUNT(*) AS n,
               CAST(SUM(converted) AS BIGINT) AS n_conv
        FROM d GROUP BY decile
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(n_conv) AS tc FROM agg)
    SELECT a.decile, a.n, a.n_conv,
           round(CAST(a.n_conv AS DOUBLE) / a.n, 6) AS conv_rate,
           round((CAST(a.n_conv AS DOUBLE) / a.n)
                 / (CAST(t.tc AS DOUBLE) / t.tn), 6) AS lift
    FROM agg a CROSS JOIN tot t
    """,
)
def q198_decile_lift(spark, sf_dir) -> DataFrame:
    """Decile lift/gains table — the model-evaluation readout: entities
    ranked by a score (lifetime spend as the stand-in; a model
    propensity plugs in identically), cut into deciles, each decile's
    conversion rate divided by the base rate. Lift ≈ 1 everywhere means
    the score carries no signal. Per-user collapse and the decile
    rollup are two small aggregates; the base rate folds back via a
    1-row cross join (no collect); every ratio derives from exact
    integers so both engines agree bitwise."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(28,4)"))
        .cast("double")
        .alias("score"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("converted"),
    )
    d = u.select(
        F.ntile(_LIFT_DECILES)
        .over(W.orderBy(F.desc("score"), F.asc("user_id")))
        .alias("decile"),
        "converted",
    )
    agg = d.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    tot = agg.agg(F.sum("n").alias("tn"), F.sum("n_conv").alias("tc"))
    rate = F.col("n_conv").cast("double") / F.col("n")
    base = F.col("tc").cast("double") / F.col("tn")
    return agg.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "n_conv",
        F.round(rate, 6).alias("conv_rate"),
        F.round(rate / base, 6).alias("lift"),
    )


@query(
    "q199_calendar_dim",
    oracle="""
    WITH d AS (
        SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-12-31',
                                      INTERVAL 1 DAY))::DATE AS day
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(year(day) AS INT) AS y,
           CAST(month(day) AS INT) AS m,
           CAST(dayofmonth(day) AS INT) AS dom,
           CAST(date_diff('day', DATE '2024-01-01', day) % 7 AS INT) AS dow0,
           CAST((date_diff('day', DATE '2024-01-01', day) // 7) AS INT)
               AS week0,
           CAST(quarter(day) AS INT) AS q,
           (date_diff('day', DATE '2024-01-01', day) % 7) IN (5, 6)
               AS is_weekend
    FROM d
    """,
)
def q199_calendar_dim(spark, sf_dir) -> DataFrame:
    """Calendar dimension (date spine) generation — the table every
    warehouse joins facts against for fiscal rollups and gap-free
    reporting, generated in-engine (sequence + explode, no driver loop,
    no source file). Day-of-week and week number derive from an EXPLICIT
    epoch anchor (days since 2024-01-01, a Monday) in integer arithmetic
    — the engines' native dayofweek/weekofyear DISAGREE on origin
    (Spark: 1=Sunday; DuckDB isodow: 1=Monday; ISO week years differ at
    boundaries), a classic cross-engine trap this formulation sidesteps
    entirely. One row per day: 366 rows for 2024 regardless of fact
    volume."""
    days = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(DATE '2024-01-01', DATE '2024-12-31',"
                " INTERVAL 1 DAY)"
            )
        ).alias("day")
    )
    epoch = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
    return days.select(
        F.col("day").cast("timestamp").alias("day"),
        F.year("day").cast("int").alias("y"),
        F.month("day").cast("int").alias("m"),
        F.dayofmonth("day").cast("int").alias("dom"),
        (epoch % 7).cast("int").alias("dow0"),
        F.floor(epoch / 7).cast("int").alias("week0"),
        F.quarter("day").cast("int").alias("q"),
        (epoch % 7).isin(5, 6).alias("is_weekend"),
    )


@query(
    "q203_quantile_sketch",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.95), 6) AS p95_exact,
           TRUE AS p50_within_1pct,
           TRUE AS p95_within_1pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def q203_quantile_sketch(spark, sf_dir) -> DataFrame:
    """Quantile sketch (approx_percentile) with a bounds-checking oracle
    — q23's pattern applied to the last sketch in the family
    (HLL→q23, CMS→q128, Bloom→q124, MinHash→q202): the emitted columns
    are the EXACT interpolated quantiles plus booleans asserting the
    sketch landed within 1% relative error at accuracy 10000. The
    sketch is mergeable and single-pass — the 100 TB quantile path
    where exact percentile's per-group sort is not — and this query
    keeps its error contract continuously verified rather than assumed.
    (Value tolerance, not rank tolerance: at fixture sizes the
    Greenwald-Khanna rank error ≪ 1% of value for these smooth
    distributions.)"""
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.50)").alias("e50"),
        F.expr("percentile(o_totalprice, 0.95)").alias("e95"),
        F.expr("approx_percentile(o_totalprice, 0.50, 10000)").alias("a50"),
        F.expr("approx_percentile(o_totalprice, 0.95, 10000)").alias("a95"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.01
    )
    return agg.select(
        "o_orderstatus",
        F.round("e50", 6).alias("p50_exact"),
        F.round("e95", 6).alias("p95_exact"),
        within("a50", "e50").alias("p50_within_1pct"),
        within("a95", "e95").alias("p95_within_1pct"),
    )


@query(
    "q204_rolling_multi_horizon",
    oracle="""
    WITH d AS (
        SELECT user_id, epoch(date_trunc('day', ts)) AS day_s,
               CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total
        FROM events WHERE user_id < 20
        GROUP BY user_id, date_trunc('day', ts)
    )
    SELECT user_id, CAST(to_timestamp(day_s) AS TIMESTAMP) AS day,
           round(CAST(SUM(CAST(total AS DECIMAL(28,4)))
                 OVER (PARTITION BY user_id ORDER BY day_s
                       RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 4) AS roll_7d,
           round(CAST(SUM(CAST(total AS DECIMAL(28,4)))
                 OVER (PARTITION BY user_id ORDER BY day_s
                       RANGE BETWEEN 2332800 PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 4) AS roll_28d
    FROM d
    """,
)
def q204_rolling_multi_horizon(spark, sf_dir) -> DataFrame:
    """Multi-horizon rolling metrics (trailing 7-day AND 28-day spend)
    computed in ONE pass: both RANGE frames share the identical
    partitioning and ordering, so Catalyst plans a single exchange and a
    single sort with two frame evaluators — the metrics-table pattern
    (daily grain × k horizons) that naive per-horizon queries re-shuffle
    k times. Day keys compare as epoch seconds so the frame bounds are
    exact integers on both engines; sums are decimal-routed per the
    house discipline."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    d = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("total")
    ).withColumn("day_s", F.unix_timestamp("day"))
    roll = lambda days: (  # noqa: E731
        F.round(
            F.sum(F.col("total").cast("decimal(28,4)"))
            .over(
                Window.partitionBy("user_id")
                .orderBy("day_s")
                .rangeBetween(-(days - 1) * 86400, 0)
            )
            .cast("double"),
            4,
        )
    )
    return d.select(
        "user_id",
        "day",
        roll(7).alias("roll_7d"),
        roll(28).alias("roll_28d"),
    )


@query(
    "q207_percent_of_total",
    oracle="""
    WITH m AS (
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    t AS (SELECT CAST(SUM(CAST(revenue AS DECIMAL(28,4))) AS DOUBLE)
                 AS grand FROM m)
    SELECT m.o_orderstatus, m.o_orderpriority, round(m.revenue, 4) AS revenue,
           round(m.revenue / CAST(SUM(CAST(m.revenue AS DECIMAL(28,4)))
                 OVER (PARTITION BY m.o_orderstatus) AS DOUBLE), 6)
               AS pct_of_status,
           round(m.revenue / t.grand, 6) AS pct_of_total
    FROM m CROSS JOIN t
    """,
)
def q207_percent_of_total(spark, sf_dir) -> DataFrame:
    """Ratio-to-report (percent of subtotal AND grand total per cell) —
    the share-of-business view every BI layer renders. The subtotal is
    a window sum over the already-aggregated cells (cardinality =
    status × priority, tiny); the grand total folds back as a 1-row
    cross join rather than an unpartitioned window over the fact table
    — the distinction that matters at 100 TB, where a global window
    means one reducer but a 1-row broadcast is free. Shares divide
    decimal-exact sums, so both engines produce identical doubles."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
        .cast("double")
        .alias("revenue")
    )
    t = m.agg(
        F.sum(F.col("revenue").cast("decimal(28,4)"))
        .cast("double")
        .alias("grand")
    )
    w = Window.partitionBy("o_orderstatus")
    return m.crossJoin(F.broadcast(t)).select(
        "o_orderstatus",
        "o_orderpriority",
        F.round("revenue", 4).alias("revenue"),
        F.round(
            F.col("revenue")
            / F.sum(F.col("revenue").cast("decimal(28,4)"))
            .over(w)
            .cast("double"),
            6,
        ).alias("pct_of_status"),
        F.round(F.col("revenue") / F.col("grand"), 6).alias("pct_of_total"),
    )


@query(
    "q296_constraint_audit",
    oracle="""
    SELECT 'customer.pk_unique' AS rule,
           CAST((SELECT COUNT(*) FROM (
               SELECT c_custkey FROM customer
               GROUP BY c_custkey HAVING COUNT(*) > 1)) AS BIGINT)
               AS violations
    UNION ALL
    SELECT 'orders.fk_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders.not_null_status',
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NULL)
                AS BIGINT)
    UNION ALL
    SELECT 'orders.positive_totalprice',
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'customer.non_negative_acctbal',
           CAST((SELECT COUNT(*) FROM customer WHERE c_acctbal < 0)
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem.discount_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT)
    """,
)
def q296_constraint_audit(spark, sf_dir) -> DataFrame:
    """Declarative data-quality constraint battery — the dbt-test /
    Great-Expectations layer run IN the engine as one audit query:
    primary-key uniqueness, two foreign-key integrity walks (LEFT ANTI
    joins — the dims broadcast, the facts never shuffle), NOT NULL, and
    domain-range rules, each emitting its VIOLATION COUNT (a CI gate
    asserts the zeros; the non-zero row is real — TPC-H balances go
    negative by design, so the audit demonstrably counts rather than
    assumes). At 100 TB this exact plan runs post-load before
    publishing a partition; rules are data (one row each), so adding a
    rule never changes the plan shape — just one more 1-row aggregate
    unioned in. Every count folds map-side; nothing driver-side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")

    def one(rule: str, df) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("violations")).select(
            F.lit(rule).alias("rule"), "violations"
        )

    pk_dupes = (
        c.groupBy("c_custkey").count().filter(F.col("count") > 1)
    )
    # full custkey set: no pinned broadcast — the dim grows with the
    # data; AQE broadcasts from runtime size or shuffles (round-6 audit,
    # matching fk_line's hint-free anti-join below)
    fk_orders = o.join(
        c.select("c_custkey"),
        o.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    fk_line = l.join(
        o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "left_anti"
    )
    rules = [
        one("customer.pk_unique", pk_dupes),
        one("orders.fk_customer", fk_orders),
        one("lineitem.fk_orders", fk_line),
        one("orders.not_null_status", o.filter(F.col("o_orderstatus").isNull())),
        one("orders.positive_totalprice", o.filter(F.col("o_totalprice") <= 0)),
        one("customer.non_negative_acctbal", c.filter(F.col("c_acctbal") < 0)),
        one(
            "lineitem.discount_range",
            l.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5)),
        ),
    ]
    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out


@query(
    "q308_seasonal_residual",
    oracle="""
    WITH base AS (
        SELECT event_id, value, dayofweek(ts) + 1 AS dow FROM events
    ),
    g AS (SELECT CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*) AS gmean FROM base),
    d AS (
        SELECT dow,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS dmean
        FROM base GROUP BY dow
    )
    SELECT b.event_id, b.dow,
           round(d.dmean - g.gmean, 6) AS dow_effect,
           round(b.value - d.dmean, 6) AS residual
    FROM base b JOIN d USING (dow) CROSS JOIN g
    """,
)
def q308_seasonal_residual(spark, sf_dir) -> DataFrame:
    """Seasonal decomposition, weekday granularity — the adjustment
    layer q147's z-score anomaly detector needs before it stops paging
    on every Monday: value = grand mean + day-of-week effect +
    residual. The per-event residual (value minus its weekday mean) is
    what downstream thresholds should score; the dow_effect column is
    the seasonality profile itself. Means fold in DECIMAL on both
    engines (order-independent), weekday numbering is pinned through
    dayofweek (one of the documented cross-engine gotchas — both
    engines differ: Spark 1=Sunday, DuckDB 0=Sunday — the oracle
    shifts by one). Plan: one weekday aggregate (7 rows,
    broadcast back), one 1-row grand mean, the fact scanned once —
    scan + two broadcast joins at any scale."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "event_id", "value", F.dayofweek("ts").alias("dow")
    )
    g = base.agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("gmean")
    )
    d = base.groupBy("dow").agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("dmean")
    )
    return (
        base.join(F.broadcast(d), "dow")
        .crossJoin(F.broadcast(g))
        .select(
            "event_id",
            "dow",
            F.round(F.col("dmean") - F.col("gmean"), 6).alias("dow_effect"),
            F.round(F.col("value") - F.col("dmean"), 6).alias("residual"),
        )
    )


# SPRT hypotheses and boundaries (Wald 1945): H0 p=0.10 vs H1 p=0.15,
# alpha = beta = 0.05 -> accept/reject log-boundaries ln(19), -ln(19).
_SPRT_P0, _SPRT_P1 = 0.10, 0.15
_SPRT_B = 2.9444389791664403  # ln(19), literal so both engines share it


@query(
    "q310_sprt",
    oracle=f"""
    WITH assigned AS (
        SELECT user_id % 2 AS variant, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    walked AS (
        SELECT variant, ts, event_id, conv,
               SUM(CAST(CASE WHEN conv = 1
                        THEN ln({_SPRT_P1} / {_SPRT_P0})
                        ELSE ln((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})) END
                   AS DECIMAL(28,12))) OVER (
                   PARTITION BY variant ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS llr,
               row_number() OVER (PARTITION BY variant
                                  ORDER BY ts, event_id) AS n
        FROM assigned
    ),
    crossings AS (
        SELECT variant, n, llr,
               row_number() OVER (PARTITION BY variant ORDER BY n)
                   AS cross_rank
        FROM walked
        WHERE llr >= {_SPRT_B} OR llr <= -{_SPRT_B}
    )
    SELECT w.variant,
           CAST(MAX(w.n) AS BIGINT) AS n_total,
           round(CAST(MAX_BY(w.llr, w.n) AS DOUBLE), 6) AS llr_final,
           CAST(MIN(c.n) AS BIGINT) AS n_at_decision,
           CASE WHEN MIN(c.n) IS NULL THEN 'continue'
                WHEN MAX_BY(c.llr, -c.n) >= {_SPRT_B} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM walked w LEFT JOIN crossings c
      ON c.variant = w.variant AND c.cross_rank = 1
    GROUP BY w.variant
    """,
)
def q310_sprt(spark, sf_dir) -> DataFrame:
    """Wald's SEQUENTIAL probability ratio test over the event stream —
    the always-valid alternative to q183's fixed-horizon A/B lift
    (peeking at a fixed-horizon test inflates false positives; SPRT is
    built to be read continuously): per variant, the cumulative
    log-likelihood ratio of H1 (p=15%) vs H0 (p=10%) conversion walks
    one step per event in time order, and the FIRST boundary crossing
    (+/- ln 19 for 5% error rates) decides — the decision row carries
    how many observations it took, the test's whole selling point. The
    per-event LLR increments are two constants, so the cumulative walk
    folds them in DECIMAL — order-stable across engines — and the
    first crossing is a deterministic min over the crossing set.
    Per-variant ordered windows are the q127 scale note: range-
    partition by (variant, time) and prefix-sum when one variant
    outgrows a partition."""
    import math

    e = table(spark, sf_dir, "events")
    assigned = e.select(
        (F.col("user_id") % 2).alias("variant"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    up = math.log(_SPRT_P1 / _SPRT_P0)
    down = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    from pyspark.sql import Window as W

    w = W.partitionBy("variant").orderBy("ts", "event_id")
    walked = assigned.select(
        "variant",
        F.sum(
            F.when(F.col("conv") == 1, F.lit(up))
            .otherwise(F.lit(down))
            .cast("decimal(28,12)")
        )
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("llr"),
        F.row_number().over(w).alias("n"),
    )
    crossings = (
        walked.filter(
            (F.col("llr") >= _SPRT_B) | (F.col("llr") <= -_SPRT_B)
        )
        .withColumn(
            "cross_rank",
            F.row_number().over(W.partitionBy("variant").orderBy("n")),
        )
        .filter(F.col("cross_rank") == 1)
        .select(
            "variant",
            F.col("n").alias("cn"),
            F.col("llr").alias("cllr"),
        )
    )
    totals = walked.groupBy("variant").agg(
        F.max("n").cast("long").alias("n_total"),
        F.round(F.max_by("llr", "n").cast("double"), 6).alias("llr_final"),
    )
    return (
        totals.join(F.broadcast(crossings), "variant", "left")
        .select(
            "variant",
            "n_total",
            "llr_final",
            F.col("cn").cast("long").alias("n_at_decision"),
            F.when(F.col("cn").isNull(), "continue")
            .when(F.col("cllr") >= _SPRT_B, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
        )
    )


@query(
    "q311_event_pmi",
    oracle="""
    WITH peru AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE event_type IS NOT NULL
    ),
    n_users AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM peru
    ),
    singles AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n1 FROM peru
        GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n2
        FROM peru a JOIN peru b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n2,
           round(ln(CAST(p.n2 AS DOUBLE) * nu.nu
                    / (sa.n1 * CAST(sb.n1 AS DOUBLE))), 6) AS pmi,
           (CAST(p.n2 AS DOUBLE) * nu.nu > sa.n1 * CAST(sb.n1 AS DOUBLE))
               AS positively_associated
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN n_users nu
    """,
)
def q311_event_pmi(spark, sf_dir) -> DataFrame:
    """Pointwise mutual information between event types at the USER
    level — the association-mining primitive behind 'users who do A
    also do B' (market-basket lift is exp(PMI)): presence sets
    deduplicate per user FIRST (frequency inside a user shouldn't
    inflate association), the pair table self-joins on user with an
    ordered type condition, and PMI = ln(P(a,b) / (P(a)P(b))) with all
    probabilities over the user universe. The boolean flag marks
    positive association via the exact integer cross-product comparison
    (no float boundary). Scale: the self-join is per-user over the
    DISTINCT type set — bounded by (types-per-user choose 2), not
    events squared — and at 100 TB the heavy hitters in n2 map-side
    combine; with a large type vocabulary the q71-style banding of the
    pair space applies."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    peru = e.select("user_id", "event_type").distinct()
    nu = peru.agg(F.countDistinct("user_id").cast("long").alias("nu"))
    singles = peru.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n1")
    )
    a = peru.select("user_id", F.col("event_type").alias("type_a"))
    b = peru.select(
        F.col("user_id").alias("uid_b"), F.col("event_type").alias("type_b")
    )
    pairs = (
        a.join(
            b,
            (a.user_id == b.uid_b) & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n2"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n1").alias("n1a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n1").alias("n1b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "n2",
            F.round(
                F.log(
                    F.col("n2").cast("double")
                    * F.col("nu")
                    / (F.col("n1a") * F.col("n1b").cast("double"))
                ),
                6,
            ).alias("pmi"),
            (
                F.col("n2").cast("double") * F.col("nu")
                > F.col("n1a") * F.col("n1b").cast("double")
            ).alias("positively_associated"),
        )
    )


@query(
    "q315_mad_robust_z",
    oracle="""
    WITH med AS (
        SELECT event_type,
               median(value) AS med_v
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value,
               abs(e.value - m.med_v) AS adev, m.med_v
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, median(adev) AS mad_v FROM dev
        GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           round(d.med_v, 6) AS group_median,
           round(mad.mad_v, 6) AS group_mad,
           round((d.value - d.med_v) / (1.4826 * nullif(mad.mad_v, 0)), 6)
               AS robust_z,
           COALESCE(abs((d.value - d.med_v)
                         / (1.4826 * nullif(mad.mad_v, 0))) > 3.5, FALSE)
               AS is_outlier
    FROM dev d JOIN mad USING (event_type)
    """,
)
def q315_mad_robust_z(spark, sf_dir) -> DataFrame:
    """ROBUST z-scores via median absolute deviation — the outlier
    detector that survives what breaks q147's mean/std z-score: one
    giant outlier inflates the std enough to mask itself (masking), and
    the Hampel identifier (|x − median| / (1.4826·MAD) > 3.5) doesn't
    care because both location and scale are medians. Two exact-median
    passes per group (Spark median() == DuckDB median(): both
    interpolate at even counts, one of the verified cross-engine
    agreements), with the group medians broadcast back between them.
    At 100 TB exact medians become approx_percentile sketches (q80's
    note) — same two-pass shape, mergeable state. MAD = 0 (a group
    where a majority shares the median value) is guarded with
    nullif on BOTH engines: division-by-zero semantics differ
    cross-engine (Spark non-ANSI NULL vs DuckDB inf), so degenerate
    groups must produce NULL robust_z identically (ADVICE r4).
    is_outlier is COALESCEd to FALSE on both sides: a missing
    measurement (NULL value, or a degenerate MAD) is NOT an outlier —
    and a nullable boolean is also the one type the pandas-based
    canonicalizers render differently per engine (None vs NaN in an
    object column), so the flag column stays total (null-injection
    walk)."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med_v"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med_v",
        F.abs(F.col("value") - F.col("med_v")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad_v"))
    rz = (F.col("value") - F.col("med_v")) / (
        1.4826 * F.nullif(F.col("mad_v"), F.lit(0.0))
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.round("med_v", 6).alias("group_median"),
        F.round("mad_v", 6).alias("group_mad"),
        F.round(rz, 6).alias("robust_z"),
        F.coalesce(F.abs(rz) > 3.5, F.lit(False)).alias("is_outlier"),
    )


@query(
    "q316_benford_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs)
    SELECT d, n,
           round(CAST(n AS DOUBLE) / t, 6) AS observed_freq,
           round(log10(1.0 + 1.0 / d), 6) AS benford_freq,
           round(CAST(n AS DOUBLE) / t - log10(1.0 + 1.0 / d), 6)
               AS deviation
    FROM obs CROSS JOIN tot
    """,
)
def q316_benford_audit(spark, sf_dir) -> DataFrame:
    """BENFORD'S LAW first-digit audit — the forensic data-quality check
    for 'does this monetary column look organically generated':
    naturally occurring multi-scale amounts put digit d first with
    probability log10(1 + 1/d) (30.1% ones, 4.6% nines); fabricated or
    truncated data doesn't. Emitted per digit: observed frequency,
    Benford expectation, and the deviation an auditor thresholds (this
    synthetic fixture deviates by construction — the point is the
    measurement, and the driver hashes the exact deviations). The first
    digit comes from integer string arithmetic (truncate to BIGINT,
    first character), identical on both engines — no float log-based
    digit extraction, which would wobble at powers of ten. One tiny
    aggregate (9 rows); scan-stage at any scale."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("t"))
    freq = F.col("n").cast("double") / F.col("t")
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(freq, 6).alias("observed_freq"),
            F.round(benford, 6).alias("benford_freq"),
            F.round(freq - benford, 6).alias("deviation"),
        )
    )


@query(
    "q355_equidepth_ranged",
    oracle=f"""
    WITH b AS (
        SELECT o_totalprice,
               ntile({_ED_BUCKETS})
                   OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           {dsum_sql('o_totalprice')} AS revenue
    FROM b GROUP BY bucket
    """,
)
def q355_equidepth_ranged(spark, sf_dir) -> DataFrame:
    """EQUI-DEPTH HISTOGRAM AT THE RANGED SPELLING — q185 is the
    CORPUS-SIZED member of the single-reducer global-window family
    (orders is a fact table; its global ntile is exactly the
    one-executor sort q350's docstring calls fatal at 100 TB), and its
    declared scale path was approx_percentile — approximate boundaries,
    a different result. This registers the EXACT scale path instead:
    global row_number from ops.global_running_sum (repartitionByRange,
    per-partition running count, broadcast base offsets — no
    unpartitioned WindowExec anywhere, pinned in
    tests/test_plan_shapes.py), bucket from ops.ntile_from_rn's closed
    form, then the same partitioned group-by. Row-identical to q185 by
    construction (same oracle text — the q345/q346 equivalence
    demonstration), so the planner keeps exact equi-depth boundaries
    at any scale; approx_percentile remains the cheaper option when
    approximate edges suffice, now as a choice rather than a
    necessity. NULL prices pinned out on both sides (q185's
    null-battery lesson)."""
    from .. import ops

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select("o_orderkey", "o_totalprice")
    )
    staged = o.withColumn("__one", F.lit(1).cast("long"))
    rn_df = ops.global_running_sum(
        staged, ["o_totalprice", "o_orderkey"], "__one", "rn"
    ).drop("__one")
    total = rn_df.agg(F.count("*").alias("__n"))
    j = rn_df.crossJoin(F.broadcast(total))
    bucket = ops.ntile_from_rn(F.col("rn"), F.col("__n"), _ED_BUCKETS)
    return (
        j.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("revenue"),
        )
    )
